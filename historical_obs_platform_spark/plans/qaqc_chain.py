"""Orchestrated QA/QC chain — the reference's per-station pipeline
(``scripts/3_qaqc_data/QAQC_pipeline.py:579-965``) as one Spark job
over all stations.

Order matters and is data semantics, not an optimization
(QAQC_pipeline.py:830): earlier flags exclude rows from later checks
via the valid mask. The whole chain is one Catalyst DAG — stations are
partitions, not processes; Catalyst fuses the per-variable ``when``
projections (CollapseProject), and the only shuffles are the
per-station aggregates (pressure fix, elevation stats, gates) and the
window passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import qaqc as Q
from ..operators.aggregates import group_iqr
from ..operators.windows import detect_spikes_multi, sessionize_runs

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


def value_resolution_multi(df: DataFrame, vars) -> DataFrame:
    """A12: per-station reported value resolution — the mode of the
    rounded successive differences of the sorted distinct values
    (infere_res_var, qaqc_unusual_streaks.py:143-255), tier ∈ {1.0,
    0.5, 0.1}. One corpus pass for a variable family: melted distinct
    values per (station, var), one diff/mode window chain. Returns
    (station, __var, resolution_tier). A var's tier depends only on
    its own raw values, which no check ever modifies."""
    structs = [
        F.struct(F.lit(v).alias("var"), F.col(v).alias("v"))
        for v in vars
        if v in df.columns
    ]
    if not structs:
        return df.sparkSession.createDataFrame(
            [], "station string, __var string, resolution_tier double"
        )
    distinct_vals = (
        df.select("station", F.explode(F.array(*structs)).alias("__m"))
        .select(
            "station",
            F.col("__m.var").alias("__var"),
            F.col("__m.v").alias("__v"),
        )
        .where(F.col("__v").isNotNull())
        .distinct()
    )
    w = Window.partitionBy("station", "__var").orderBy("__v")
    diffs = distinct_vals.withColumn(
        "__d", F.round(F.col("__v") - F.lag("__v").over(w), 3)
    ).where(F.col("__d") > 0)
    counts = diffs.groupBy("station", "__var", "__d").agg(
        F.count(F.lit(1)).alias("__n")
    )
    pick = Window.partitionBy("station", "__var").orderBy(
        F.desc("__n"), F.asc("__d")
    )
    return (
        counts.withColumn("__rk", F.row_number().over(pick))
        .where(F.col("__rk") == 1)
        .select(
            "station",
            "__var",
            F.when(F.col("__d") >= 1.0, F.lit(1.0))
            .when(F.col("__d") >= 0.5, F.lit(0.5))
            .otherwise(F.lit(0.1))
            .alias("resolution_tier"),
        )
    )


def spike_check_multi(
    df: DataFrame,
    vars,
    factor: float = 6.0,
    min_points: int = 50,
    max_gap_hours: int = 12,
) -> DataFrame:
    """Flag 23: unusual jumps. crit = factor × IQR of first differences
    per (station, calendar month), months with > min_points only
    (qaqc_unusual_large_jumps.py:219-299; 1-to-3-point confirmation:
    big jump in, big opposite jump out, neighbor gaps ≤ 12 h).

    ONE window projection computes every variable's first difference,
    ONE (station, month) aggregation computes every variable's
    diff-IQR criterion, ONE broadcast join attaches them, then the
    per-var confirmation logic runs as stacked map layers. A var's
    check reads only its own values and flags and writes only its own
    ``_eraqc`` column, so ``vars=[a, b]`` flags exactly as ``[a]``
    then ``[b]``."""
    vars = [v for v in vars if v in df.columns]
    if not vars:
        return df
    w = Window.partitionBy("station").orderBy("time")
    d = df
    for v in vars:
        d = d.withColumn(f"__d_{v}", F.col(v) - F.lag(v).over(w))
    d = d.withColumn("__month", F.date_trunc("month", F.col("time")))
    aggs = []
    for v in vars:
        aggs.append(F.count(f"__d_{v}").alias(f"__n_{v}"))
        aggs.append(
            F.expr(
                f"percentile(__d_{v}, 0.75) - percentile(__d_{v}, 0.25)"
            ).alias(f"__iqr_{v}")
        )
    crit = (
        d.groupBy("station", "__month")
        .agg(*aggs)
        .select(
            "station",
            "__month",
            *[
                F.when(
                    F.col(f"__n_{v}") > min_points,
                    F.ceil(F.lit(factor) * F.col(f"__iqr_{v}")).cast(
                        "double"
                    ),
                ).alias(f"__crit_{v}")
                for v in vars
            ],
        )
    )
    out = d.join(F.broadcast(crit), ["station", "__month"], "left")
    for v in vars:
        out = detect_spikes_multi(
            out,
            "station",
            "time",
            v,
            crit=F.col(f"__crit_{v}"),
            max_gap_seconds=max_gap_hours * 3600,
            max_len=3,
            out=f"__spike_{v}",
        )
        out = Q.write_flag(
            out,
            v,
            F.col(f"__spike_{v}") & F.col(f"__crit_{v}").isNotNull(),
            Q.FLAG_SPIKE,
        )
    return out.drop(
        "__month",
        *[f"__d_{v}" for v in vars],
        *[f"__crit_{v}" for v in vars],
        *[f"__spike_{v}" for v in vars],
    )


def consecutive_streak_check(
    df: DataFrame,
    var: str,
    min_count: int = 20,
    min_span_days: float | None = 2.0,
    resolution: DataFrame | None = None,
) -> DataFrame:
    """Flag 28: straight repeated-value streaks — runs of consecutive
    identical non-null values longer than the count threshold OR
    spanning more than the day threshold
    (qaqc_unusual_streaks.py:573-694).

    The per-variable table keyed by the station's inferred value
    resolution picks the thresholds (:44-122); ``min_count`` and
    ``min_span_days`` apply to stations with no inferred resolution
    and to variables the table does not list. Pass ``resolution`` (a
    (station, resolution_tier) table, e.g. one variable's slice of
    ``value_resolution_multi``) to reuse a precomputed inference
    instead of re-scanning the corpus per var.
    """
    if var not in df.columns:
        return df
    count_lim = F.lit(min_count)
    days_lim = F.lit(min_span_days if min_span_days is not None else 1e9)
    work = df
    if var in STRAIGHT_REPEAT_THRESHOLDS:
        if resolution is None:
            resolution = value_resolution_multi(df, [var])
        tier = F.col("resolution_tier")
        max_count = max_days = F.lit(None)
        for t, (cnt, days) in STRAIGHT_REPEAT_THRESHOLDS[var].items():
            max_count = F.when(tier == t, F.lit(cnt)).otherwise(max_count)
            max_days = F.when(tier == t, F.lit(days)).otherwise(max_days)
        thresh = resolution.select(
            "station",
            max_count.alias("__max_count"),
            max_days.alias("__max_days"),
        )
        work = df.join(F.broadcast(thresh), "station", "left")
        count_lim = F.coalesce(F.col("__max_count"), count_lim)
        days_lim = F.coalesce(F.col("__max_days"), days_lim)
    runs = sessionize_runs(work, "station", "time", var, out="__run")
    w_run = Window.partitionBy("station", "__run")
    spans = (
        runs.withColumn("__run_len", F.count(F.lit(1)).over(w_run))
        .withColumn(
            "__run_days",
            (
                F.unix_timestamp(F.max("time").over(w_run))
                - F.unix_timestamp(F.min("time").over(w_run))
            )
            / F.lit(86400.0),
        )
    )
    bad = F.col(var).isNotNull() & (
        (F.col("__run_len") > count_lim)
        | ((F.col("__run_days") > days_lim) & (F.col("__run_len") > 1))
    )
    out = Q.write_flag(spans, var, bad, Q.FLAG_STREAK_CONSECUTIVE)
    return out.drop(
        "__run", "__run_len", "__run_days", "__max_count", "__max_days"
    )


def deaccumulate_precip(df: DataFrame) -> DataFrame:
    """W7/flags 34-35: recover incremental precipitation from an
    accumulated gauge column ``accum_pr`` into ``pr``; the original is
    kept and flagged 35 (qaqc_deaccumulate.py:237-386). Resets
    (drop < −50) and negative increments clamp to 0."""
    if "accum_pr" not in df.columns:
        return df
    w = Window.partitionBy("station").orderBy("time")
    d = F.col("accum_pr") - F.lag("accum_pr").over(w)
    incremental = (
        F.when(d.isNull(), F.lit(None))
        .when(d < -50.0, F.lit(0.0))
        .when(d < 0, F.lit(0.0))
        .otherwise(d)
    )
    out = df.withColumn(
        "pr",
        F.when(F.col("accum_pr").isNotNull(), incremental).otherwise(
            F.col("pr") if "pr" in df.columns else F.lit(None).cast("double")
        ),
    )
    out = Q.ensure_flag_columns(out, ["pr"])
    return out.withColumn(
        Q.eraqc("accum_pr"),
        F.when(
            F.col("accum_pr").isNotNull(),
            F.lit(float(Q.FLAG_DEACCUM_ORIGINAL)),
        ).otherwise(F.col(Q.eraqc("accum_pr"))),
    )


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
        # Lineage truncation between check groups: each check layers
        # joins/windows on the full prior plan, and Catalyst
        # analysis/optimization time grows superlinearly with plan
        # depth (~30 self-referencing stages by the end of the chain).
        # localCheckpoint materializes the intermediate (the reference
        # re-reads from disk between stages for the same reason); on a
        # cluster, swap for reliable checkpoints or a staging table.
        return d.localCheckpoint(eager=False)

    out = Q.ensure_flag_columns(df)
    if sentinels:
        out = Q.normalize_sentinels(out, sentinels)
    gates = Q.station_gates(out)
    out = Q.apply_station_gates(out, gates)
    out = Q.sensor_height_check(out)
    out = Q.elevation_consistency_check(out)
    out = Q.pressure_units_fix(out)
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
    # one melted resolution inference for the whole family (resolution
    # reads raw values only, so hoisting it above the per-var flag
    # writes changes nothing)
    res_all = value_resolution_multi(out, streak_vars).localCheckpoint(
        eager=False
    )
    for v in streak_vars:
        out = consecutive_streak_check(
            out,
            v,
            resolution=res_all.where(F.col("__var") == v).select(
                "station", "resolution_tier"
            ),
        )
    out = cut(out)
    if with_distribution:
        out = D.whole_day_streak_multi(out, streak_vars)
    out = spike_check_multi(out, spike_vars)
    # Final lineage cut: downstream consumers fan the flagged table
    # into many plan branches (flag_counts alone explodes one branch
    # per _eraqc column; hourly_standardize adds another), and without
    # this cut every branch re-carries — and Catalyst re-analyzes —
    # the whole spike/streak plan. Measured: chain_qaqc_merge_events
    # driver-side build time drops ~3x at sf0.01.
    return cut(out)
