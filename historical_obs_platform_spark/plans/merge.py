"""Merge stage — derive missing variables, hourly standardization,
flag accounting (``scripts/4_merge_data/MERGE_pipeline.py`` and
friends), one Spark job over all stations.

The reference splits columns into constant / instantaneous / sum /
qaqc families, resamples each with pandas, and outer-merges on time
(merge_hourly_standardization.py:97-244). Here a single
``groupBy(station, hour)`` computes all four families — the four-way
split and the outer join disappear (SURVEY.md J2/W11), then a grid
left-join marks infilled hours (W12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import kernels as K
from ..functions.sqltext import q, with_sql
from ..operators import qaqc as Q
from ..operators.resample import time_grid

# Variables summed over the hour (precip + radiation); everything else
# observational takes first-in-hour (merge_hourly_standardization.py:126-128).
SUM_VARS = ["pr", "pr_5min", "pr_15min", "pr_1h", "rsds"]
CONSTANT_VARS = ["lat", "lon", "elevation"]


def _synergistic_flag(out: DataFrame, derived: str, sources) -> DataFrame:
    """Flag 38 on ``derived`` where any of its ``sources`` is flagged
    (merge_derive_missing.py:202-250)."""
    fc = Q.eraqc(derived)
    other = q(fc) if fc in out.columns else "CAST(NULL AS DOUBLE)"
    flagged = " OR ".join(f"{q(Q.eraqc(s))} IS NOT NULL" for s in sources)
    return with_sql(
        out,
        {fc: f"CASE WHEN {flagged} THEN {Q.FLAG_DERIVED_SYNERGISTIC}D ELSE {other} END"},
    )


def derive_missing(df: DataFrame) -> DataFrame:
    """L11 (merge_derive_missing.py:41-174): derive dewpoint from
    (tas, hurs), RH from (tas, tdps), each only when the source
    variable is absent from the frame; flag 38 (synergistic) where any
    input row is flagged (merge_derive_missing.py:202-250)."""
    out = df
    cols = set(df.columns)
    if "tdps" not in cols and {"tas", "hurs"} <= cols:
        out = out.withColumn(
            "tdps_derived", K.dewpoint_from_rh("tas", "hurs")
        )
        out = _synergistic_flag(out, "tdps_derived", ["tas", "hurs"])
    if "hurs" not in cols and "tas" in cols and (
        "tdps" in cols or "tdps_derived" in set(out.columns)
    ):
        dew = "tdps" if "tdps" in cols else "tdps_derived"
        out = out.withColumn(
            "hurs_derived", K.relhumid_from_dewpoint("tas", dew)
        )
        out = _synergistic_flag(out, "hurs_derived", ["tas", dew])
    return out


def hourly_standardize(df: DataFrame) -> DataFrame:
    """W11+W12: standardize every station to the hourly grid.

    One aggregation computes: first-in-hour for instantaneous
    variables (min_by value,time), sum-unless-empty for precip /
    radiation, comma-joined sorted distinct flags, first non-null for
    constants; then the complete hourly grid is left-joined and
    created rows get ``standardized_infill='y'`` with constants
    carried from the station (merge_hourly_standardization.py:46-244).
    """
    const_vars = [v for v in CONSTANT_VARS if v in df.columns]
    variables = [v for v in Q.present_vars(df) if v not in const_vars]
    sum_vars = [v for v in variables if v in SUM_VARS]
    inst_vars = [v for v in variables if v not in SUM_VARS]

    aggs = [f"min_by({q(v)}, time) AS {q(v)}" for v in inst_vars]
    aggs += [
        f"CASE WHEN count({q(v)}) = 0 THEN NULL ELSE sum({q(v)}) END AS {q(v)}"
        for v in sum_vars
    ]
    aggs += [
        f"array_join(array_sort(collect_set(CAST(CAST({q(fc)} AS INT) AS STRING))),"
        f" ',') AS {q(fc)}"
        for fc in map(Q.eraqc, variables)
        if fc in df.columns
    ]
    aggs += [f"first({q(v)}, true) AS {q(v)}" for v in const_vars]
    aggs.append("count(1) AS n_source_obs")

    hourly = df.groupBy(
        F.col("station"), F.expr("date_trunc('hour', time) AS time")
    ).agg(*map(F.expr, aggs))

    grid = time_grid(df, "station", "time", "1 hour").withColumnRenamed(
        "grid_ts", "time"
    )
    out = grid.join(hourly, ["station", "time"], "left")
    # constants carried onto infilled rows from the station
    return with_sql(
        out,
        {
            "standardized_infill": "CASE WHEN n_source_obs IS NULL THEN 'y' ELSE 'n' END",
            **{
                v: f"first({q(v)}, true) OVER (PARTITION BY station)"
                for v in const_vars
            },
        },
    )


def flag_counts(df: DataFrame) -> DataFrame:
    """A6 (merge_eraqc_counts.py:22-157): long-format flag accounting —
    one row per (station, variable, flag, n). One scan explodes an
    array of (variable, flag string) structs, one per ``_eraqc``
    column, then the comma-joined hourly flag strings back to
    individual codes."""
    flag_cols = [c for c in df.columns if c.endswith("_eraqc")]
    if not flag_cols:
        raise ValueError("no _eraqc columns present")
    per_var = ", ".join(
        f"struct('{fc[: -len('_eraqc')]}' AS variable, "
        f"CAST({q(fc)} AS STRING) AS flags)"
        for fc in flag_cols
    )
    return (
        df.selectExpr("station", f"inline(array({per_var}))")
        .selectExpr("station", "variable", "explode(split(flags, ',')) AS flag")
        .where("flag IS NOT NULL AND flag != ''")
        .groupBy(
            F.col("station"),
            F.col("variable"),
            F.expr("CAST(CAST(flag AS DOUBLE) AS INT) AS flag"),
        )
        .agg(F.expr("count(1) AS n"))
    )


# Public output vocabulary (merge_clean_vars.py:21-97): the merged
# product carries only the standard variables, their hourly flag
# strings, constants, and the infill marker.
PUBLIC_COLUMNS = (
    ["station", "time", "lat", "lon", "elevation", "standardized_infill"]
    + Q.OBS_VARS
    + [Q.eraqc(v) for v in Q.OBS_VARS]
)


def select_public_columns(df: DataFrame) -> DataFrame:
    """Merge part 4: filter to the public vocabulary, dropping raw-QC
    and intermediate helper columns (merge_clean_vars.py:46-89)."""
    return df.selectExpr(*[q(c) for c in df.columns if c in PUBLIC_COLUMNS])


def network_flag_rates(counts: DataFrame) -> DataFrame:
    """A6 roll-ups (qaqc_generate_flag_rates.py:96-231 /
    qaqc_success_report_tables.py:150-311): station-level flag counts
    rolled up per (network, variable, flag) and per (variable, flag),
    the latter under network ``ALL`` — one grouping-sets aggregate,
    network derived from the station id."""
    keys = ["network", "variable", "flag"]
    return (
        counts.withColumn("network", F.split(F.col("station"), "_").getItem(0))
        .groupingSets([keys, keys[1:]], *keys)
        .agg(F.sum("n").alias("n"), F.grouping("network").alias("__all"))
        .select(
            F.when(F.col("__all") == 1, F.lit("ALL"))
            .otherwise(F.col("network"))
            .alias("network"),
            "variable",
            "flag",
            "n",
        )
    )


def run_merge(df: DataFrame) -> DataFrame:
    """Full merge stage: derive missing → hourly standardization →
    public-vocabulary column filter."""
    return select_public_columns(hourly_standardize(derive_missing(df)))
