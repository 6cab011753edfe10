"""Orchestrated QA/QC chain — the reference's per-station pipeline
(``scripts/3_qaqc_data/QAQC_pipeline.py:579-965``) as one Spark job
over all stations.

Order matters and is data semantics, not an optimization
(QAQC_pipeline.py:830): earlier flags exclude rows from later checks
via the valid mask. The whole chain is one Catalyst DAG — stations are
partitions, not processes. Each check family reads the rows in a fixed
number of passes, whatever the number of variables it covers:

- the whole-station checks (gates, sensor heights, elevation
  consistency, pressure units) are projections over ONE broadcast
  station-statistics table (``qaqc.station_checks``);
- the row-local logic checks write all their variables' flags in one
  projection each, which Catalyst collapses into few projections;
- the consecutive-streak, wet-bulb and spike families share ordered
  ``(station, time)`` windows across their variables
  (``consecutive_streak_multi``, ``qaqc.wetbulb_streak_check``,
  ``spike_check_multi``), plus one small broadcast join each
  (resolution tiers, monthly criteria).

Per-row work inside window operators costs more here than exchanges
or job launches, so the chain keeps the number of passes over the rows
small rather than replacing its aggregates by station windows.

Checks are written as SQL text: each output column is one parsed
expression (``F.expr``, ``selectExpr``, ``windows.with_sql``), so a
step's plan is built in tens of Python -> JVM round trips, where the
same expression as a Column tree costs a few round trips per node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import q, with_sql
from ..operators import qaqc as Q
from ..operators.windows import (
    deaccumulate,
    detect_spikes_multi,
    over,
    run_bounds,
)

# Straight-repeat streak thresholds keyed by inferred value resolution
# (qaqc_unusual_streaks.py:44-122): (max_count, max_days) — a run
# longer than either is flagged. Coarser-resolution instruments repeat
# legitimately, so their thresholds are looser.
STRAIGHT_REPEAT_THRESHOLDS: dict[str, dict[float, tuple[int, int]]] = {
    "tas": {1.0: (40, 14), 0.5: (30, 10), 0.1: (24, 7)},
    "tdps": {1.0: (80, 14), 0.5: (60, 10), 0.1: (48, 7)},
    "psl": {1.0: (120, 28), 0.5: (100, 21), 0.1: (72, 14)},
    "sfcWind": {1.0: (40, 14), 0.5: (30, 10), 0.1: (24, 7)},
}
for _alias, _src in (
    ("tdps_derived", "tdps"),
    ("ps", "psl"),
    ("ps_derived", "psl"),
    ("ps_altimeter", "psl"),
    ("pr", "tas"),
    ("pr_5min", "tas"),
    ("pr_15min", "tas"),
    ("pr_1h", "tas"),
    ("pr_24h", "tas"),
    ("pr_localmid", "tas"),
):
    STRAIGHT_REPEAT_THRESHOLDS[_alias] = STRAIGHT_REPEAT_THRESHOLDS[_src]

# Straight-repeat limits for stations with no inferred resolution and
# variables the table above does not list (qaqc_unusual_streaks.py:
# 573-694): a run of more than 20 values or spanning more than 2 days.
STREAK_MIN_COUNT = 20
STREAK_MIN_SPAN_DAYS = 2.0

# Unusual-jump criterion (qaqc_unusual_large_jumps.py:219-299): crit =
# 6 × IQR of first differences per (station, calendar month), months
# with more than 50 differences only; confirmation neighbours at most
# 12 h apart.
SPIKE_IQR_FACTOR = 6.0
SPIKE_MIN_POINTS = 50
SPIKE_MAX_GAP_HOURS = 12


def value_resolution_multi(df: DataFrame, vars) -> DataFrame:
    """A12: per-station reported value resolution — the mode of the
    rounded successive differences of the sorted distinct values
    (infere_res_var, qaqc_unusual_streaks.py:143-255), tier ∈ {1.0,
    0.5, 0.1}. One corpus pass for a variable family: melted distinct
    values per (station, var), one diff/mode window chain. Returns
    (station, __var, resolution_tier). A var's tier depends only on
    its own raw values, which no check ever modifies."""
    structs = [
        f"struct('{v}' AS var, {q(v)} AS v)" for v in vars if v in df.columns
    ]
    if not structs:
        return df.sparkSession.createDataFrame(
            [], "station string, __var string, resolution_tier double"
        )
    distinct_vals = (
        df.selectExpr("station", f"explode(array({', '.join(structs)})) AS __m")
        .selectExpr("station", "__m.var AS __var", "__m.v AS __v")
        .where("__v IS NOT NULL")
        .distinct()
    )
    w = over(["station", "__var"], "__v")
    diffs = distinct_vals.selectExpr(
        "*", f"round(__v - lag(__v) OVER ({w}), 3) AS __d"
    ).where("__d > 0")
    counts = diffs.groupBy("station", "__var", "__d").agg(F.expr("count(1) AS __n"))
    pick = over(["station", "__var"], "__n DESC, __d ASC")
    return (
        counts.selectExpr("*", f"row_number() OVER ({pick}) AS __rk")
        .where("__rk = 1")
        .selectExpr(
            "station",
            "__var",
            "CASE WHEN __d >= 1.0D THEN 1.0D WHEN __d >= 0.5D THEN 0.5D"
            " ELSE 0.1D END AS resolution_tier",
        )
    )


def spike_check_multi(df: DataFrame, vars) -> DataFrame:
    """Flag 23: unusual jumps. crit = SPIKE_IQR_FACTOR × IQR of first
    differences per (station, calendar month), months with more than
    SPIKE_MIN_POINTS only (qaqc_unusual_large_jumps.py:219-299;
    1-to-3-point confirmation: big jump in, big opposite jump out,
    neighbor gaps ≤ SPIKE_MAX_GAP_HOURS).

    ONE window select computes every variable's first difference,
    ONE (station, month) aggregation every variable's diff-IQR
    criterion, ONE broadcast join attaches them, and
    ``detect_spikes_multi`` tests every variable in two more window
    selects; the flags are written in one projection. A var's check
    reads only its own values and flags and writes only its own
    ``_eraqc`` column, so ``vars=[a, b]`` flags exactly as ``[a]``
    then ``[b]``."""
    cols = set(df.columns)
    vars = [v for v in vars if v in cols]
    if not vars:
        return df
    w = over("station", "time")
    d = df.selectExpr(
        "*",
        *[f"{q(v)} - lag({q(v)}) OVER ({w}) AS {q('__d_' + v)}" for v in vars],
        "date_trunc('month', time) AS __month",
    )
    aggs = []
    for v in vars:
        dv = q("__d_" + v)
        aggs.append(f"count({dv}) AS {q('__n_' + v)}")
        aggs.append(
            f"percentile({dv}, 0.75) - percentile({dv}, 0.25) AS {q('__iqr_' + v)}"
        )
    crit = (
        d.groupBy("station", "__month")
        .agg(*map(F.expr, aggs))
        .selectExpr(
            "station",
            "__month",
            *[
                f"CASE WHEN {q('__n_' + v)} > {SPIKE_MIN_POINTS} THEN CAST("
                f"ceil({SPIKE_IQR_FACTOR!r}D * {q('__iqr_' + v)}) AS DOUBLE)"
                f" END AS {q('__crit_' + v)}"
                for v in vars
            ],
        )
    )
    out = detect_spikes_multi(
        d.join(F.broadcast(crit), ["station", "__month"], "left"),
        "station",
        "time",
        [(v, q(f"__crit_{v}"), f"__spike_{v}") for v in vars],
        max_gap_seconds=SPIKE_MAX_GAP_HOURS * 3600,
        max_len=3,
    )
    return with_sql(
        out,
        {
            Q.eraqc(v): Q.flag_expr(
                v,
                f"{q('__spike_' + v)} AND {q('__crit_' + v)} IS NOT NULL",
                Q.FLAG_SPIKE,
            )
            for v in vars
        },
        # the join moved its keys first
        keep=[c for c in out.columns if c in cols],
    )


def consecutive_streak_multi(df: DataFrame, vars) -> DataFrame:
    """Flag 28: straight repeated-value streaks — runs of consecutive
    identical non-null values longer than the count threshold OR
    spanning more than the day threshold
    (qaqc_unusual_streaks.py:573-694).

    The per-variable table keyed by the station's inferred value
    resolution picks the thresholds (:44-122); ``STREAK_MIN_COUNT`` and
    ``STREAK_MIN_SPAN_DAYS`` apply to stations with no inferred
    resolution and to variables the table does not list.

    Every variable shares the passes: one broadcast join of the
    resolution tiers pivoted to (station, __tier_<var>…), and the
    ordered passes of ``run_bounds``, which give each row its run's
    first and last row and time with no per-run window. The flags are
    written in one projection. A var's check reads only its own values
    and flags and writes only its own ``_eraqc`` column, so
    ``vars=[a, b]`` flags exactly as ``[a]`` then ``[b]``."""
    cols = set(df.columns)
    vars = [v for v in vars if v in cols]
    if not vars:
        return df
    count_lim = {v: str(STREAK_MIN_COUNT) for v in vars}
    days_lim = {v: f"{STREAK_MIN_SPAN_DAYS!r}D" for v in vars}
    work = df
    tiered = [v for v in vars if v in STRAIGHT_REPEAT_THRESHOLDS]
    if tiered:
        tiers = value_resolution_multi(df, tiered).groupBy("station").agg(
            *[
                F.expr(
                    f"max(CASE WHEN __var = '{v}' THEN resolution_tier END)"
                    f" AS {q('__tier_' + v)}"
                )
                for v in tiered
            ]
        )
        work = df.join(F.broadcast(tiers), "station", "left")
        for v in tiered:
            tier = q(f"__tier_{v}")
            max_count = max_days = "NULL"
            for t, (cnt, days) in STRAIGHT_REPEAT_THRESHOLDS[v].items():
                max_count = f"CASE WHEN {tier} = {t!r}D THEN {cnt} ELSE {max_count} END"
                max_days = f"CASE WHEN {tier} = {t!r}D THEN {days} ELSE {max_days} END"
            count_lim[v] = f"coalesce({max_count}, {count_lim[v]})"
            days_lim[v] = f"coalesce({max_days}, {days_lim[v]})"

    spans = run_bounds(work, "station", "time", vars)
    flags = {}
    for v in vars:
        run_len = f"({q('__i1_' + v)} - {q('__i0_' + v)} + 1)"
        run_days = (
            f"(unix_timestamp({q('__t1_' + v)}) - "
            f"unix_timestamp({q('__t0_' + v)})) / 86400.0D"
        )
        bad = (
            f"{q(v)} IS NOT NULL AND ({run_len} > {count_lim[v]}"
            f" OR ({run_days} > {days_lim[v]} AND {run_len} > 1))"
        )
        flags[Q.eraqc(v)] = Q.flag_expr(v, bad, Q.FLAG_STREAK_CONSECUTIVE)
    return with_sql(spans, flags, keep=[c for c in spans.columns if c in cols])


def deaccumulate_precip(df: DataFrame) -> DataFrame:
    """W7/flags 34-35: recover incremental precipitation from an
    accumulated gauge column ``accum_pr`` into ``pr``; the original is
    kept and flagged 35 (qaqc_deaccumulate.py:237-386). Resets
    (drop < −50) and negative increments clamp to 0 (``deaccumulate``)."""
    if "accum_pr" not in df.columns:
        return df
    has_accum = F.col("accum_pr").isNotNull()
    out = deaccumulate(df, "station", "time", "accum_pr", out="__incr")
    out = out.withColumns(
        {
            "pr": F.when(has_accum, F.col("__incr")).otherwise(
                F.col("pr") if "pr" in df.columns else F.lit(None).cast("double")
            ),
            Q.eraqc("accum_pr"): F.when(
                has_accum, F.lit(float(Q.FLAG_DEACCUM_ORIGINAL))
            ).otherwise(F.col(Q.eraqc("accum_pr"))),
        }
    )
    return Q.ensure_flag_columns(out, ["pr"]).drop("__incr")


def run_qaqc(
    df: DataFrame,
    sentinels: dict[str, list[str]] | None = None,
    spike_vars=("tas", "tdps", "ps", "psl"),
    streak_vars=("tas", "tdps", "sfcWind"),
    dist_vars=("tas", "tdps"),
    with_distribution: bool = True,
) -> DataFrame:
    """The full chain in reference order (QAQC_pipeline.py:579-965):

    sentinels → station gates → elevation consistency → pressure-units
    fix → de-accumulation → world records → cross-variable logic →
    [record-length bypass] → frequent values (+precip) → unusual gaps
    (monthly, distribution, precip) → climatological outlier
    (+precip) → streaks (hourly / consecutive / whole-day) → jumps.

    The order is data semantics, not an optimization: earlier flags
    exclude rows from later checks (QAQC_pipeline.py:830).

    Returns the flagged observations table (rejected stations removed,
    all other rows kept with ``<var>_eraqc`` populated).
    """
    from ..operators import distribution as D

    def cut(d: DataFrame) -> DataFrame:
        # Lineage truncation: localCheckpoint materializes the
        # intermediate (the reference re-reads from disk between stages
        # for the same reason), so the checks after it are analyzed and
        # planned against a leaf instead of the whole prior plan; on a
        # cluster, swap for reliable checkpoints or a staging table.
        # Under AQE even the lazy form runs the segment's shuffle
        # stages here, so a cut costs its own jobs: the chain keeps
        # only the cuts that measured runs show to pay — after the
        # logic checks, between the distribution families and at the
        # end. The streak and spike families share one segment (a cut
        # between them, and a checkpoint of the resolution table,
        # made both the no-distribution pipeline pass and the full
        # battery slower).
        return d.localCheckpoint(eager=False)

    out = Q.ensure_flag_columns(df)
    if sentinels:
        out = Q.normalize_sentinels(out, sentinels)
    out = Q.station_checks(out)
    out = deaccumulate_precip(out)
    out = Q.world_record_check(out)
    out = Q.supersaturation_check(out)
    out = Q.wetbulb_streak_check(out)
    out = Q.negative_precip_check(out)
    out = Q.precip_accum_ordering_check(out)
    out = Q.calm_wind_dir_check(out)
    out = cut(out)
    if with_distribution:
        # each check family runs in ONE melted corpus pass across the
        # variable family instead of one scan per variable (each var's
        # check reads only its own values/flags and writes only its
        # own _eraqc — see the *_multi docstrings)
        out = D.record_length_bypass_multi(out, dist_vars)
        out = D.frequent_values_multi(out, dist_vars)
        out = D.synergistic_flag_copy(out, "tas", "tdps")
        out = D.precip_frequent_check(out, "pr")
        out = D.monthly_median_gap_multi(out, dist_vars)
        out = D.precip_gap_check(out, "pr")
        out = cut(out)
        out = D.distribution_gap_multi(out, dist_vars)
        out = D.climatological_outlier_multi(out, dist_vars)
        out = D.precip_clim_outlier_check(out, "pr")
        out = cut(out)
        out = D.same_hour_streak_multi(out, streak_vars)
    out = consecutive_streak_multi(out, streak_vars)
    if with_distribution:
        out = D.whole_day_streak_multi(out, streak_vars)
    out = spike_check_multi(out, spike_vars)
    # Final lineage cut: downstream consumers fan the flagged table
    # into several plan branches (hourly_standardize's grid and
    # aggregate, the report roll-ups), and without this cut every
    # branch re-carries — and Catalyst re-analyzes — the whole
    # spike/streak plan. Measured: chain_qaqc_merge_events driver-side
    # build time drops ~3x at sf0.01.
    return cut(out)
