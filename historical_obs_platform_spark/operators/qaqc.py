"""QA/QC flag-writer engine — the reference's test battery, Spark-first.

Design (SURVEY.md §7): one long-format observations table
``(station, time, <vars...>, <var>_eraqc...)``; every check is a pure
``DataFrame -> DataFrame`` transform that only adds/updates flag
columns; data is never deleted (flags 1-38, taxonomy mirrored from the
reference's ``data/era_qaqc_flag_meanings.csv``). The reference runs
one station per Python process; here every check runs on all stations
at once — per-station semantics become ``groupBy("station")`` /
``Window.partitionBy("station")``.

The universal sequencing rule (``grab_valid_obs``,
``scripts/3_qaqc_data/qaqc_utils.py:326-378``): a row already flagged
for ``var`` is excluded from later checks of ``var``. As a row mask:
``valid = eraqc IS NULL [OR eraqc IN (19,20)]``; the two-variable form
requires both flags strictly null.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import q, with_sql
from .windows import flag_long_runs

# ------------------------------------------------------------- vocabulary
# Union variable vocabulary (qaqc_wholestation.py:800-821).
OBS_VARS = [
    "tas",
    "tdps",
    "tdps_derived",
    "ps",
    "psl",
    "ps_altimeter",
    "ps_derived",
    "pr",
    "pr_5min",
    "pr_15min",
    "pr_1h",
    "pr_24h",
    "pr_localmid",
    "accum_pr",
    "hurs",
    "hurs_derived",
    "rsds",
    "sfcWind",
    "sfcWind_dir",
    "elevation",
]

PRECIP_VARS = [
    "pr",
    "pr_5min",
    "pr_15min",
    "pr_1h",
    "pr_24h",
    "pr_localmid",
]

PRESSURE_VARS = ["ps", "psl", "ps_altimeter", "ps_derived"]

# World/regional record limits (qaqc_wholestation.py:720-798,
# North America). (min, max) per variable.
WORLD_RECORD_LIMITS: dict[str, tuple[float, float]] = {
    "tas": (210.15, 329.92),
    "tdps": (173.15, 329.85),
    "tdps_derived": (173.15, 329.85),
    "sfcWind": (0.0, 113.2),
    "sfcWind_dir": (0.0, 360.0),
    "psl": (87000.0, 108330.0),
    "ps": (45960.0, 108330.0),
    "ps_derived": (45960.0, 108330.0),
    "ps_altimeter": (45960.0, 108330.0),
    "rsds": (-5.0, 1500.0),
    "pr": (0.0, 656.0),
    "pr_5min": (0.0, 31.8),
    "pr_15min": (0.0, 25.4),
    "pr_1h": (0.0, 656.0),
    "pr_24h": (0.0, 656.0),
    "pr_localmid": (0.0, 656.0),
    "accum_pr": (0.0, 10000.0),
    "hurs": (0.0, 100.0),
    "elevation": (-100.0, 6210.0),
}

# Flag codes (era_qaqc_flag_meanings.csv).
FLAG_THERMOMETER_MISSING = 6
FLAG_THERMOMETER_HEIGHT = 7
FLAG_ANEMOMETER_MISSING = 8
FLAG_ANEMOMETER_HEIGHT = 9
FLAG_NEGATIVE_PRECIP = 10
FLAG_WORLD_RECORD = 11
FLAG_SUPERSATURATION = 12
FLAG_WETBULB_STREAK = 13
FLAG_CALM_WIND_DIR = 14
FLAG_WIND_DIR_RESET_360 = 15
FLAG_PRECIP_SHORT_GT_LONG = 16
FLAG_PRECIP_LONG_LT_SHORT = 17
FLAG_PRECIP_24H_LT_LOCALMID = 18
FLAG_YELLOW_STATION = 19
FLAG_YELLOW_VARIABLE = 20
FLAG_SPIKE = 23
FLAG_FREQUENT_ANNUAL = 24
FLAG_FREQUENT_SEASONAL = 25
FLAG_CLIM_OUTLIER = 26
FLAG_STREAK_SAME_HOUR = 27
FLAG_STREAK_CONSECUTIVE = 28
FLAG_STREAK_WHOLE_DAY = 29
FLAG_DEACCUM_RINGING = 34
FLAG_DEACCUM_ORIGINAL = 35
FLAG_ELEV_RANGE = 36
FLAG_DERIVED_SYNERGISTIC = 38


def eraqc(var: str) -> str:
    return f"{var}_eraqc"


def present_vars(df: DataFrame, candidates=None) -> list[str]:
    """Column-presence introspection — every reference check starts by
    asking which variables this frame carries (qaqc_unusual_gaps.py:63-76)."""
    cands = candidates if candidates is not None else OBS_VARS
    return [v for v in cands if v in df.columns]


def ensure_flag_columns(df: DataFrame, variables=None) -> DataFrame:
    """Manufacture null ``<var>_eraqc`` columns for every present
    variable (QAQC_pipeline.py:446-456)."""
    missing = [
        eraqc(v) for v in present_vars(df, variables) if eraqc(v) not in df.columns
    ]
    if not missing:
        return df
    return with_sql(df, {c: "CAST(NULL AS DOUBLE)" for c in missing})


def valid_sql(var: str, keep_yellow: bool = True, var2: str | None = None) -> str:
    """grab_valid_obs as a SQL row predicate (qaqc_utils.py:326-378).

    - single-variable: unflagged rows, optionally keeping yellow
      (19/20) record-too-short warnings;
    - two-variable: both flags strictly null (the reference's var2
      branch ignores yellow).
    """
    # checks are written as SQL text: every check builds this mask per
    # variable, and the equivalent Column calls cost ~20 round trips
    # to the JVM each
    fc = q(eraqc(var))
    if var2 is not None:
        return f"{fc} IS NULL AND {q(eraqc(var2))} IS NULL"
    if keep_yellow:
        return (
            f"{fc} IS NULL OR {fc} IN "
            f"({FLAG_YELLOW_STATION}, {FLAG_YELLOW_VARIABLE})"
        )
    return f"{fc} IS NULL"


def valid_mask(var: str, keep_yellow: bool = True, var2: str | None = None) -> Column:
    """``valid_sql`` as a Column, for checks built with the Column API."""
    return F.expr(valid_sql(var, keep_yellow, var2))


def flag_expr(
    var: str,
    condition: str,
    flag: int,
    keep_yellow: bool = True,
    var2: str | None = None,
    flag_var: str | None = None,
) -> str:
    """The new value of ``<flag_var or var>_eraqc``, as SQL text:
    ``flag`` where the row is valid for checking AND ``condition`` (SQL
    text) holds, else unchanged. Data is never deleted — only flagged.
    A check family writes all its variables' flags in one projection
    of these."""
    # a DOUBLE literal: Spark SQL reads 11.0 as DECIMAL(3,1)
    return (
        f"CASE WHEN ({valid_sql(var, keep_yellow, var2)}) AND ({condition})"
        f" THEN {flag}D ELSE {q(eraqc(flag_var or var))} END"
    )


def write_flag(
    df: DataFrame,
    var: str,
    condition: Column,
    flag: int,
    keep_yellow: bool = True,
    var2: str | None = None,
    flag_var: str | None = None,
) -> DataFrame:
    """``flag_expr`` written to its flag column, for a ``condition``
    built as a Column."""
    return with_sql(
        df.withColumn("__flag_cond", condition),
        {
            eraqc(flag_var or var): flag_expr(
                var, "__flag_cond", flag, keep_yellow, var2, flag_var
            )
        },
        keep=df.columns,
    )


# ------------------------------------------------------------ P2 sentinels
def normalize_sentinels(
    df: DataFrame, sentinels: dict[str, list[str]]
) -> DataFrame:
    """Replace network sentinel codes ('-999', '9999', 'M', ...) with
    null per variable (qaqc_wholestation.py:113-196 +
    data/missing_data_flags.csv). ``sentinels`` maps var -> codes;
    comparison is on the string form so '-999', '-999.0' etc. can be
    enumerated explicitly like the lookup table does."""
    out = df
    for v, codes in sentinels.items():
        if v in out.columns:
            out = out.withColumn(
                v,
                F.when(
                    F.col(v).cast("string").isin([str(c) for c in codes]),
                    F.lit(None),
                ).otherwise(F.col(v)),
            )
    return out


# --------------------------------------------------------------- L6 records
def world_record_check(df: DataFrame) -> DataFrame:
    """Flag 11: outside per-variable world/regional record range
    (qaqc_wholestation.py:689-842)."""
    flags = {}
    for v in present_vars(df, list(WORLD_RECORD_LIMITS)):
        lo, hi = WORLD_RECORD_LIMITS[v]
        flags[eraqc(v)] = flag_expr(
            v, f"{q(v)} < {lo!r}D OR {q(v)} > {hi!r}D", FLAG_WORLD_RECORD
        )
    return with_sql(df, flags)


# ----------------------------------------------------------- L1 supersat
def supersaturation_check(df: DataFrame) -> DataFrame:
    """Flag 12 on dewpoint where tdps > tas
    (qaqc_logic_checks.py:28-77); only rows valid for BOTH vars."""
    if "tas" not in df.columns:
        return df
    return with_sql(
        df,
        {
            eraqc(dew): flag_expr(
                "tas", f"{q(dew)} > `tas`", FLAG_SUPERSATURATION,
                var2=dew, flag_var=dew,
            )
            for dew in present_vars(df, ["tdps", "tdps_derived"])
        },
    )


# ----------------------------------------------------------- L2 wet bulb
# A zero dewpoint depression held this long is an instrument failure
# (qaqc_logic_checks.py:80-151).
WETBULB_MIN_SPAN_HOURS = 24


def wetbulb_streak_check(df: DataFrame) -> DataFrame:
    """Flag 13 on tdps across any window where the dewpoint depression
    (tas − tdps) is exactly 0 continuously for ≥ 24 h — instrument
    failure (qaqc_logic_checks.py:80-151). O(n) run detection replaces
    the reference's candidate-start loop; same rows flagged. Every dew
    variable is tested in the same ordered passes: a variable's
    predicate reads only ``tas``, its own values and their flags."""
    dews = present_vars(df, ["tdps", "tdps_derived"])
    if "tas" not in df.columns or not dews:
        return df
    marked = flag_long_runs(
        df,
        "station",
        "time",
        {
            f"__wb_{dew}": f"{valid_sql('tas', var2=dew)} AND `tas` - {q(dew)} = 0"
            for dew in dews
        },
        min_span_seconds=WETBULB_MIN_SPAN_HOURS * 3600,
    )
    return with_sql(
        marked,
        {
            eraqc(dew): f"CASE WHEN {q('__wb_' + dew)} THEN "
            f"{FLAG_WETBULB_STREAK}D ELSE {q(eraqc(dew))} END"
            for dew in dews
        },
        keep=df.columns,
    )


# ------------------------------------------------------- L3 negative precip
def negative_precip_check(df: DataFrame) -> DataFrame:
    """Flag 10: pr < 0, all precip variants
    (qaqc_logic_checks.py:154-208)."""
    return with_sql(
        df,
        {
            eraqc(v): flag_expr(v, f"{q(v)} < 0", FLAG_NEGATIVE_PRECIP)
            for v in present_vars(df, PRECIP_VARS + ["accum_pr"])
        },
    )


# ------------------------------------------------- L4 precip accumulation
def precip_accum_ordering_check(df: DataFrame) -> DataFrame:
    """Flags 16/17/18: interval-precip ordering violations — a shorter
    accumulation window must not exceed a longer one
    (qaqc_logic_checks.py:211-308).

    DELIBERATE DEVIATIONS (documented per SURVEY.md §7):
    - the reference flags the *entire valid index* when the check runs
      (``(cond).index`` instead of ``cond[cond].index``,
      qaqc_logic_checks.py:269+); this engine flags only violating rows.
    - every pair is evaluated against the flag state at entry (the
      reference mutates sequentially, so its later pairs see earlier
      16s; with only violating rows flagged, entry-state evaluation is
      the order-independent fixed semantics: both sides of a violated
      pair get flagged).
    """
    # (flagged_var, other_var, violation operator, flag)
    rules = [
        ("pr_5min", "pr_1h", ">", FLAG_PRECIP_SHORT_GT_LONG),
        ("pr_5min", "pr_24h", ">", FLAG_PRECIP_SHORT_GT_LONG),
        ("pr_1h", "pr_5min", "<", FLAG_PRECIP_LONG_LT_SHORT),
        ("pr_1h", "pr_24h", ">", FLAG_PRECIP_LONG_LT_SHORT),
        ("pr_24h", "pr_5min", "<", FLAG_PRECIP_LONG_LT_SHORT),
        ("pr_24h", "pr_1h", "<", FLAG_PRECIP_LONG_LT_SHORT),
        ("pr_24h", "pr_localmid", "<", FLAG_PRECIP_24H_LT_LOCALMID),
    ]
    # One projection: every pair's (valid-at-entry AND violated)
    # predicate reads the entry state; of several pairs flagging one
    # variable, the later rule's flag wins.
    flags = {}
    for var, other, op, flag in rules:
        if var in df.columns and other in df.columns:
            flags[eraqc(var)] = (
                f"CASE WHEN ({valid_sql(var, var2=other)}) AND "
                f"{q(var)} {op} {q(other)} THEN {flag}D "
                f"ELSE {flags.get(eraqc(var), q(eraqc(var)))} END"
            )
    return with_sql(df, flags)


# ----------------------------------------------------------- L5 calm wind
def calm_wind_dir_check(df: DataFrame) -> DataFrame:
    """Flags 14/15 (qaqc_logic_checks.py:311-373). The ONLY check that
    rewrites data besides de-accumulation: non-zero wind with dir 0 is
    recoded to 360 (true northerly) and flagged 15."""
    if "sfcWind_dir" not in df.columns or "sfcWind" not in df.columns:
        return df
    valid = f"({valid_sql('sfcWind', var2='sfcWind_dir')})"
    bad_calm = (
        f"{valid} AND sfcWind = 0 AND sfcWind_dir != 0"
        " AND sfcWind_dir IS NOT NULL"
    )
    bad_north = f"{valid} AND sfcWind != 0 AND sfcWind_dir = 0"
    # one projection: both new columns read the entry-state values
    return with_sql(
        df,
        {
            eraqc("sfcWind_dir"): f"CASE WHEN {bad_calm} THEN "
            f"{FLAG_CALM_WIND_DIR}D WHEN {bad_north} THEN "
            f"{FLAG_WIND_DIR_RESET_360}D ELSE sfcWind_dir_eraqc END",
            "sfcWind_dir": f"CASE WHEN {bad_north} THEN 360.0D "
            "ELSE sfcWind_dir END",
        },
    )


# ------------------------------------------------------ station statistics
THERMOMETER_COL = "thermometer_height_m"
ANEMOMETER_COL = "anemometer_height_m"


def station_statistics(df: DataFrame) -> DataFrame:
    """Every whole-station statistic the station checks read, from one
    two-level aggregate: ``groupBy(station, elevation)`` counts rows and
    non-null values, sums pressures and takes sensor-height min/max;
    a ``groupBy(station)`` over those few groups folds them. The
    elevation statistics come from the second level exactly:
    ``count(elevation)`` is the distinct count, ``percentile(elevation,
    0.5, n)`` the frequency-weighted median, ``min(struct(n,
    -elevation))`` the less frequent (then higher) elevation.

    One row per station; every column but ``station`` is
    ``__``-prefixed. Checks read only the columns they need, so the
    optimizer prunes the rest of the aggregate."""
    cols = set(df.columns)
    any_data = " OR ".join(
        ["false"] + [f"{q(v)} IS NOT NULL" for v in present_vars(df)]
    )
    heights = [c for c in (THERMOMETER_COL, ANEMOMETER_COL) if c in cols]
    ps_vars = present_vars(df, PRESSURE_VARS)
    latlon = [c for c in ("lat", "lon") if c in cols]
    per_elev = [
        "count(1) AS __n",
        f"count(CASE WHEN {any_data} THEN 1 END) AS __n_any",
        *[f"count({q(c)}) AS __n_{c}" for c in latlon + heights],
        *[f"min({q(c)}) AS __hmin_{c}" for c in heights],
        *[f"max({q(c)}) AS __hmax_{c}" for c in heights],
        *[f"sum({q(v)}) AS __sum_{v}" for v in ps_vars],
        *[f"count({q(v)}) AS __n_{v}" for v in ps_vars],
    ]
    per_station = [
        "sum(__n_any) AS __n_any",
        *[
            f"{f'sum(__n_{c})' if c in latlon else '0'} AS __n_{c}"
            for c in ("lat", "lon")
        ],
        *[f"sum(__n_{c}) < sum(__n) AS __hmiss_{c}" for c in heights],
        *[f"min(__hmin_{c}) AS __hmin_{c}" for c in heights],
        *[f"max(__hmax_{c}) AS __hmax_{c}" for c in heights],
        *[f"sum(__sum_{v}) / sum(__n_{v}) AS __mean_{v}" for v in ps_vars],
    ]
    keys = ["station"]
    if "elevation" in cols:
        keys.append("elevation")
        per_station += [
            "count(elevation) AS __n_elev",
            "max(elevation) - min(elevation) AS __elev_range",
            "percentile(elevation, 0.5, __n) AS __elev_med",
            "-(min(CASE WHEN elevation IS NOT NULL THEN "
            "struct(__n AS n, -elevation AS neg) END).neg) AS __minority_elev",
        ]
    else:
        per_station.append("CAST(NULL AS DOUBLE) AS __elev_med")
    return (
        df.groupBy(*keys)
        .agg(*map(F.expr, per_elev))
        .groupBy("station")
        .agg(*map(F.expr, per_station))
    )


def _reject_reason() -> str:
    lo, hi = STATION_ELEV_RANGE
    return (
        "CASE WHEN __n_any = 0 THEN 'no_data_vars'"
        " WHEN __n_lat = 0 OR __n_lon = 0 THEN 'missing_latlon'"
        f" WHEN __elev_med IS NOT NULL AND (__elev_med < {lo!r}D"
        f" OR __elev_med > {hi!r}D) THEN 'elevation_out_of_range' END"
    )


# ------------------------------------------------------- P3 station gates
STATION_ELEV_RANGE = (-95.0, 6210.0)


def station_gates(df: DataFrame) -> DataFrame:
    """Whole-station eligibility gates (qaqc_wholestation.py:56-110,
    199-228, 537-574): a station is rejected when it has no data
    variables, all-null lat/lon, or median elevation outside
    [-95, 6210] m. Returns (station, reject_reason) of the rejected
    stations; ``drop_rejected_stations`` applies the same rule inside
    ``station_checks``."""
    return (
        station_statistics(df)
        .selectExpr("station", f"{_reject_reason()} AS reject_reason")
        .where("reject_reason IS NOT NULL")
    )


def drop_rejected_stations(df: DataFrame) -> DataFrame:
    """Keep the rows of stations that pass the gates of
    ``station_gates``.

    A ``station_checks`` step: it reads the ``station_statistics``
    columns ``__n_any``, ``__n_lat``, ``__n_lon`` and ``__elev_med``
    that ``station_checks`` joins in, so call it as
    ``station_checks(df, [drop_rejected_stations])``; on a bare frame
    those columns do not resolve."""
    return df.where(f"({_reject_reason()}) IS NULL")


# ------------------------------------------------- sensor-height gates
HEIGHT_TOLERANCE_M = 1.0 / 3.0


def sensor_height_check(df: DataFrame) -> DataFrame:
    """Flags 6/7/8/9 (qaqc_sensor_height_t / qaqc_sensor_height_w,
    qaqc_wholestation.py:579-689): whole-station gates on instrument
    mounting height —

    - thermometer height missing anywhere → every tas row flags 6;
      present but not all within 2 m ± ⅓ m → 7;
    - anemometer height missing anywhere → sfcWind AND sfcWind_dir
      flag 8; present but outside 10 m ± ⅓ m → 9 on both.

    The reference runs one station per process and assigns the scalar
    flag to the whole column; here it is a projection over the
    station's any-null, min and max of the height. Missing takes
    precedence: a row flagged 6/8 is no longer valid for the
    out-of-band test.

    A ``station_checks`` step: it reads the ``station_statistics``
    columns ``__hmiss_*``, ``__hmin_*`` and ``__hmax_*`` that
    ``station_checks`` joins in, so call it as
    ``station_checks(df, [sensor_height_check])``; on a bare frame
    those columns do not resolve."""
    wind = [v for v in ("sfcWind", "sfcWind_dir") if v in df.columns]
    checks = [
        (col, nominal, missing_flag, range_flag, targets)
        for col, nominal, missing_flag, range_flag, targets in (
            (THERMOMETER_COL, 2.0, FLAG_THERMOMETER_MISSING,
             FLAG_THERMOMETER_HEIGHT,
             ["tas"] if "tas" in df.columns else []),
            (ANEMOMETER_COL, 10.0, FLAG_ANEMOMETER_MISSING,
             FLAG_ANEMOMETER_HEIGHT, wind),
        )
        if col in df.columns and targets
    ]
    if not checks:
        return df
    out = ensure_flag_columns(df, [t for *_, ts in checks for t in ts])
    flags = {}
    for col, nominal, missing_flag, range_flag, targets in checks:
        lo, hi = nominal - HEIGHT_TOLERANCE_M, nominal + HEIGHT_TOLERANCE_M
        within = f"__hmin_{col} >= {lo!r}D AND __hmax_{col} <= {hi!r}D"
        for t in targets:
            valid = f"({valid_sql(t)})"
            flags[eraqc(t)] = (
                f"CASE WHEN {valid} AND __hmiss_{col} THEN {missing_flag}D"
                f" WHEN {valid} AND NOT ({within}) THEN {range_flag}D"
                f" ELSE {q(eraqc(t))} END"
            )
    return with_sql(out, flags)


# --------------------------------------------------- L8 elevation consistency
ELEV_TOLERANCE_M = 50.0


def elevation_consistency_check(df: DataFrame) -> DataFrame:
    """Flag 36: a station reporting > 2 distinct elevations whose range
    exceeds 50 m gets values beyond median±50 m flagged; exactly 2
    distinct values flags the minority value
    (qaqc_wholestation.py:318-392).

    A ``station_checks`` step: it reads the ``station_statistics``
    columns ``__n_elev``, ``__elev_range``, ``__elev_med`` and
    ``__minority_elev`` that ``station_checks`` joins in, so call it as
    ``station_checks(df, [elevation_consistency_check])``; on a bare
    frame those columns do not resolve."""
    if "elevation" not in df.columns:
        return df
    tol = f"{ELEV_TOLERANCE_M!r}D"
    wide = f"__elev_range > {tol}"
    many = f"__n_elev > 2 AND {wide} AND abs(elevation - __elev_med) > {tol}"
    two = f"__n_elev = 2 AND {wide} AND elevation = __minority_elev"
    return with_sql(
        df,
        {
            eraqc("elevation"): flag_expr(
                "elevation", f"({many}) OR ({two})", FLAG_ELEV_RANGE
            )
        },
    )


# ------------------------------------------------------ pressure units fix
def pressure_units_fix(df: DataFrame) -> DataFrame:
    """Per-station heuristic: a pressure column whose station mean is
    < 10000 is in hPa, not Pa — multiply by 100
    (qaqc_logic_checks.py:376-414); the reference does one station per
    process, this is the same decision, distributed.

    A ``station_checks`` step: it reads the ``station_statistics``
    columns ``__mean_<var>`` that ``station_checks`` joins in, so call
    it as ``station_checks(df, [pressure_units_fix])``; on a bare frame
    those columns do not resolve."""
    return with_sql(
        df,
        {
            v: f"CASE WHEN __mean_{v} < 10000 THEN {q(v)} * 100.0D ELSE {q(v)} END"
            for v in present_vars(df, PRESSURE_VARS)
        },
    )


# ------------------------------------------------------- station checks
STATION_CHECKS = (
    drop_rejected_stations,
    sensor_height_check,
    elevation_consistency_check,
    pressure_units_fix,
)


def station_checks(df: DataFrame, checks=STATION_CHECKS) -> DataFrame:
    """Run whole-station checks, in order, as projections over ONE
    broadcast join of ``station_statistics``: the statistics are
    computed once, before any check. That is exact for the chain's
    order: gating drops whole stations, the height and elevation checks
    only write flags, and only the pressure fix (last) rewrites the
    values a statistic reads."""
    stats = station_statistics(df)
    out = df.join(F.broadcast(stats), "station", "left")
    for check in checks:
        out = check(out)
    drop = set(stats.columns) - {"station"}
    return with_sql(out, {}, keep=[c for c in out.columns if c not in drop])
