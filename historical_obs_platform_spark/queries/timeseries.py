"""Time-series / window operator suite over the ``events`` table.

``events (event_id, ts, user_id, event_type, value, props)`` stands in
for the reference's observations stream: ``user_id`` ≈ station,
``ts`` ≈ time, ``value`` ≈ a physical variable. Each query exercises
one window operator from SURVEY.md §2.5/§2.4 through the reusable
library in ``operators/`` and pairs it with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import aggregates as agg
from ..operators import resample as rs
from ..operators import windows as wd
from ..registry import query
from .common import dsum, table


def _events(spark, sf_dir):
    return table(spark, sf_dir, "events")


# --------------------------------------------------------------------
# W1/W2: first difference + time delta per key.
# --------------------------------------------------------------------
W1_ORACLE = """
SELECT event_id, user_id, ts, value,
       value - lag(value) OVER w AS diff,
       date_diff('second', lag(ts) OVER w, ts) AS dt_seconds
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts)
"""


@query("w1_lag_diff_timedelta", W1_ORACLE)
def w1_lag_diff_timedelta(spark, sf_dir):
    ev = _events(spark, sf_dir)
    out = wd.with_diff(ev, "user_id", "ts", "value", out="diff")
    out = wd.with_time_delta_seconds(out, "user_id", "ts", out="dt_seconds")
    return out.select("event_id", "user_id", "ts", "value", "diff", "dt_seconds")


# --------------------------------------------------------------------
# W3: run-length encoding — runs of consecutive equal event_type.
# --------------------------------------------------------------------
W3_ORACLE = """
WITH chg AS (
  SELECT user_id, ts, event_type,
         CASE WHEN event_type = lag(event_type) OVER w THEN 0 ELSE 1 END AS c
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), runs AS (
  SELECT user_id, ts, event_type,
         CAST(sum(c) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
  FROM chg
)
SELECT user_id, run_id,
       min(event_type) AS run_type,
       count(*) AS run_len,
       min(ts) AS run_start,
       max(ts) AS run_end
FROM runs GROUP BY user_id, run_id
"""


@query("w3_event_type_runs", W3_ORACLE)
def w3_event_type_runs(spark, sf_dir):
    ev = _events(spark, sf_dir)
    runs = wd.sessionize_runs(ev, "user_id", "ts", "event_type", out="run_id")
    return runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("run_type"),
        F.count(F.lit(1)).alias("run_len"),
        F.min("ts").alias("run_start"),
        F.max("ts").alias("run_end"),
    )


# --------------------------------------------------------------------
# W6: spike detection — |jump in| and |jump out| both exceed a
# per-key critical value derived from the IQR of first differences
# (reference: crit = 6×IQR(diff) per month,
# qaqc_unusual_large_jumps.py:266-283; factor 1.5 here so the noisy
# synthetic series yields a non-trivial flag set).
# --------------------------------------------------------------------
W6_ORACLE = """
WITH d AS (
  SELECT user_id, ts, value,
         value - lag(value) OVER w AS d_in,
         lead(value) OVER w - value AS d_out,
         date_diff('second', lag(ts) OVER w, ts) AS gap_in,
         date_diff('second', ts, lead(ts) OVER w) AS gap_out
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), crit AS (
  SELECT user_id,
         round(quantile_cont(d_in, 0.75) - quantile_cont(d_in, 0.25), 6) AS iqr
  FROM d GROUP BY user_id
)
SELECT d.user_id, d.ts, d.value
FROM d JOIN crit ON d.user_id = crit.user_id
WHERE abs(d_in) > 1.5 * iqr AND abs(d_out) > 1.5 * iqr
  AND ((d_in > 0) <> (d_out > 0))
  AND gap_in <= 43200 AND gap_out <= 43200
"""


@query("w6_spike_flags", W6_ORACLE)
def w6_spike_flags(spark, sf_dir):
    ev = _events(spark, sf_dir)
    d = wd.with_diff(ev, "user_id", "ts", "value", out="__d")
    iqr = agg.group_iqr(d, "user_id", "__d").withColumn(
        "iqr", F.round("iqr", 6)
    )
    joined = ev.join(iqr, "user_id")
    flagged = wd.detect_spikes_multi(
        joined,
        "user_id",
        "ts",
        [("value", "1.5D * iqr", "is_spike")],
        max_len=1,
    )
    return flagged.where(F.col("is_spike")).select("user_id", "ts", "value")


# --------------------------------------------------------------------
# W7: de-accumulation of a gauge series (diff; resets and negative
# increments clamp to 0 — qaqc_deaccumulate.py:167-234).
# --------------------------------------------------------------------
W7_ORACLE = """
SELECT event_id, user_id, ts, value,
  CASE
    WHEN lag(value) OVER w IS NULL THEN NULL
    WHEN value - lag(value) OVER w < 0 THEN 0.0
    ELSE value - lag(value) OVER w
  END AS deaccumulated
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts)
"""


@query("w7_deaccumulate", W7_ORACLE)
def w7_deaccumulate(spark, sf_dir):
    ev = _events(spark, sf_dir)
    out = wd.deaccumulate(ev, "user_id", "ts", "value")
    return out.select("event_id", "user_id", "ts", "value", "deaccumulated")


# --------------------------------------------------------------------
# W8: flag rows inside runs where a predicate holds continuously for
# a minimum time span (dewpoint-depression streak analog,
# qaqc_logic_checks.py:80-151 — O(n) sessionize vs the reference's
# O(n·k) candidate-window loop).
# --------------------------------------------------------------------
W8_ORACLE = """
WITH p AS (
  SELECT event_id, user_id, ts, value,
         CASE WHEN value > 100 THEN 1 ELSE 0 END AS pred
  FROM events
), chg AS (
  SELECT *, CASE WHEN pred = lag(pred) OVER w THEN 0 ELSE 1 END AS c
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), runs AS (
  SELECT *, CAST(sum(c) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
  FROM chg
), spans AS (
  SELECT *, date_diff('second', min(ts) OVER r, max(ts) OVER r) AS span
  FROM runs WINDOW r AS (PARTITION BY user_id, run_id)
)
SELECT event_id, user_id, ts, value, 13 AS flag
FROM spans WHERE pred = 1 AND span >= 14400
"""


@query("w8_long_run_flags", W8_ORACLE)
def w8_long_run_flags(spark, sf_dir):
    ev = _events(spark, sf_dir)
    flagged = wd.flag_long_runs(
        ev, "user_id", "ts", {"__long": "value > 100"}, min_span_seconds=4 * 3600
    )
    return flagged.where("__long").selectExpr(
        "event_id", "user_id", "ts", "value", "13 AS flag"
    )


# --------------------------------------------------------------------
# W11: hourly standardization — one groupBy computes the reference's
# four resample families at once (first-in-hour, sum-unless-empty,
# sorted distinct flag join, count).
# --------------------------------------------------------------------
W11_ORACLE = """
SELECT user_id,
       date_trunc('hour', ts) AS bucket,
       arg_min(value, ts) AS value_first,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
       array_to_string(list_sort(list_distinct(list(event_type))), ',') AS event_type_flags,
       count(*) AS n_obs
FROM events
GROUP BY user_id, date_trunc('hour', ts)
"""


@query("w11_hourly_resample", W11_ORACLE)
def w11_hourly_resample(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(
            F.min_by("value", "ts").alias("value_first"),
            dsum("value").alias("value_sum"),
            F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
                "event_type_flags"
            ),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )


# --------------------------------------------------------------------
# W12/S6: complete hourly grid per key with infill marking
# (sequence+explode grid ⟕ observations).
# --------------------------------------------------------------------
W12_ORACLE = """
WITH spans AS (
  SELECT user_id, date_trunc('hour', min(ts)) AS t0,
         date_trunc('hour', max(ts)) AS t1
  FROM events GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS grid_ts
  FROM spans
), counts AS (
  SELECT user_id, date_trunc('hour', ts) AS grid_ts, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT g.user_id, g.grid_ts,
       coalesce(c.n, 0) AS n_obs,
       CASE WHEN c.n IS NULL THEN 'y' ELSE 'n' END AS standardized_infill
FROM grid g LEFT JOIN counts c
  ON g.user_id = c.user_id AND g.grid_ts = c.grid_ts
"""


@query("w12_hourly_grid_infill", W12_ORACLE)
def w12_hourly_grid_infill(spark, sf_dir):
    ev = _events(spark, sf_dir)
    grid = rs.time_grid(ev, "user_id", "ts", "1 hour")
    counts = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("grid_ts")
    ).agg(F.count(F.lit(1)).alias("__n"))
    return (
        grid.join(counts, ["user_id", "grid_ts"], "left")
        .select(
            "user_id",
            "grid_ts",
            F.coalesce(F.col("__n"), F.lit(0)).alias("n_obs"),
            F.when(F.col("__n").isNull(), "y").otherwise("n").alias(
                "standardized_infill"
            ),
        )
    )


# --------------------------------------------------------------------
# A2: grouped IQR with floor.
# --------------------------------------------------------------------
A2_ORACLE = """
SELECT event_type,
       round(greatest(quantile_cont(value, 0.75) - quantile_cont(value, 0.25),
                      1.5), 6) AS iqr
FROM events GROUP BY event_type
"""


@query("a2_group_iqr", A2_ORACLE)
def a2_group_iqr(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return agg.group_iqr(ev, "event_type", "value", floor=1.5).withColumn(
        "iqr", F.round("iqr", 6)
    )


# --------------------------------------------------------------------
# A3: fixed-width histogram per group.
# --------------------------------------------------------------------
A3_ORACLE = """
SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bin, count(*) AS n
FROM events WHERE value IS NOT NULL
GROUP BY event_type, CAST(floor(value / 25.0) AS BIGINT)
"""


@query("a3_histogram", A3_ORACLE)
def a3_histogram(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return agg.histogram(ev, "event_type", "value", bin_width=25.0)


# --------------------------------------------------------------------
# A4: frequent-bin detection — bin count vs ±3-bin block sum
# (range window so absent bins count as zero, like np.histogram's
# dense bins).
# --------------------------------------------------------------------
A4_ORACLE = """
WITH h AS (
  SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bin, count(*) AS n
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, bin, n,
       CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bin
                    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS block_n,
       (n > sum(n) OVER (PARTITION BY event_type ORDER BY bin
                         RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) * 0.5
        AND n > 30) AS is_frequent
FROM h
"""


@query("a4_frequent_bins", A4_ORACLE)
def a4_frequent_bins(spark, sf_dir):
    ev = _events(spark, sf_dir)
    hist = agg.histogram(ev, "event_type", "value", bin_width=10.0)
    return agg.frequent_bins(
        hist, "event_type", neighborhood=3, dominance=0.5, min_count=30
    )


# --------------------------------------------------------------------
# A5: winsorized climatology per (event_type, hour-of-day) — clip to
# [p5, p95], then mean. Integer-exact spelling: micro-unit BIGINT
# quantization, NEAREST-RANK bounds via pure-integer index math
# ((n*5+99) DIV 100), BIGINT clipped sum, ONE final float division —
# the interpolated-percentile + float-avg version flips round(.,6) at
# rounding boundaries between engines (caught by the sf0.001 sweep:
# 27.280813 vs 27.280812).
# --------------------------------------------------------------------
A5_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(extract(hour FROM ts) AS INTEGER) AS hh,
         CAST(round(value * 1000000) AS BIGINT) AS vm
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT event_type, hh, vm,
         row_number() OVER (PARTITION BY event_type, hh
                            ORDER BY vm) AS rn,
         count(*) OVER (PARTITION BY event_type, hh) AS n
  FROM v
),
b AS (
  SELECT event_type, hh, vm, n,
         max(CASE WHEN rn = (n * 5 + 99) // 100 THEN vm END)
           OVER (PARTITION BY event_type, hh) AS lo,
         max(CASE WHEN rn = (n * 95 + 99) // 100 THEN vm END)
           OVER (PARTITION BY event_type, hh) AS hi
  FROM r
)
SELECT event_type, hh,
       CAST(sum(least(greatest(vm, lo), hi)) AS DOUBLE)
         / (CAST(count(*) AS DOUBLE) * 1000000.0) AS clim
FROM b GROUP BY event_type, hh
"""


@query("a5_winsorized_climatology", A5_ORACLE)
def a5_winsorized_climatology(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn("hh", F.hour("ts"))
    return agg.winsorized_mean_exact(ev, ["event_type", "hh"], "value")


# --------------------------------------------------------------------
# A8: daily exact sums per key.
# --------------------------------------------------------------------
A8_ORACLE = """
SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS daily_sum,
       count(*) AS n_obs
FROM events GROUP BY user_id, strftime(ts, '%Y-%m-%d')
"""


@query("a8_daily_sums", A8_ORACLE)
def a8_daily_sums(spark, sf_dir):
    # Day keys are emitted as ISO strings on both sides: DuckDB
    # date_trunc('day') yields DATE while Spark's yields TIMESTAMP,
    # which diverges under a strict schema comparator.
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        "user_id", F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        dsum("value").alias("daily_sum"),
        F.count(F.lit(1)).alias("n_obs"),
    )


# --------------------------------------------------------------------
# A9/A1: weekly median per key (interpolated, rounded both sides).
# --------------------------------------------------------------------
A9_ORACLE = """
SELECT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
       round(median(value), 6) AS med
FROM events GROUP BY user_id, date_trunc('week', ts)
"""


@query("a9_weekly_median", A9_ORACLE)
def a9_weekly_median(spark, sf_dir):
    # Week keys leave as ISO strings (DuckDB week-trunc is DATE,
    # Spark's is TIMESTAMP — the determinism rule applies to every
    # date_trunc granularity coarser than 'hour').
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        "user_id",
        F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd")
        .alias("week"),
    ).agg(F.round(F.expr("percentile(value, 0.5)"), 6).alias("med"))


# --------------------------------------------------------------------
# A12: cadence inference — modal time step per key (deterministic
# tie-break on the smaller step).
# --------------------------------------------------------------------
A12_ORACLE = """
WITH d AS (
  SELECT user_id,
         date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts),
                   ts) AS dt
  FROM events
), c AS (
  SELECT user_id, dt, count(*) AS n FROM d WHERE dt IS NOT NULL GROUP BY 1, 2
)
SELECT user_id, dt AS cadence_seconds FROM (
  SELECT user_id, dt, row_number() OVER (
    PARTITION BY user_id ORDER BY n DESC, dt ASC) AS rk
  FROM c
) WHERE rk = 1
"""


@query("a12_cadence_mode", A12_ORACLE)
def a12_cadence_mode(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return agg.cadence_mode_seconds(ev, "user_id", "ts")


# --------------------------------------------------------------------
# A13: lag-1 autocorrelation per key (accumulation detector).
# --------------------------------------------------------------------
A13_ORACLE = """
WITH p AS (
  SELECT user_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
)
SELECT user_id, round(corr(value, prev), 6) AS lag1_autocorr
FROM p WHERE prev IS NOT NULL AND value IS NOT NULL
GROUP BY user_id
"""


@query("a13_lag1_autocorr", A13_ORACLE)
def a13_lag1_autocorr(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return agg.lag1_autocorr(ev, "user_id", "ts", "value").withColumn(
        "lag1_autocorr", F.round("lag1_autocorr", 6)
    )


# --------------------------------------------------------------------
# J6: pairwise-difference gap check rewritten from the reference's
# O(n²) all-vs-all matrix (qaqc_unusual_gaps.py:449-480) to a sort +
# neighbor scan: a value's min distance to ANY other value in the
# group equals its min distance to its sorted neighbors.
# --------------------------------------------------------------------
J6_ORACLE = """
WITH s AS (
  SELECT user_id, event_id, value,
         value - lag(value) OVER w AS gap_lo,
         lead(value) OVER w - value AS gap_hi
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
)
SELECT user_id, event_id, value,
       least(coalesce(gap_lo, 1e18), coalesce(gap_hi, 1e18)) AS nn_gap
FROM s
WHERE least(coalesce(gap_lo, 1e18), coalesce(gap_hi, 1e18)) > 25
  AND least(coalesce(gap_lo, 1e18), coalesce(gap_hi, 1e18)) < 1e17
"""


@query("j6_nearest_neighbor_gap", J6_ORACLE)
def j6_nearest_neighbor_gap(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    s = ev.select(
        "user_id",
        "event_id",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("gap_lo"),
        (F.lead("value").over(w) - F.col("value")).alias("gap_hi"),
    )
    nn = F.least(
        F.coalesce(F.col("gap_lo"), F.lit(1e18)),
        F.coalesce(F.col("gap_hi"), F.lit(1e18)),
    )
    return s.select(
        "user_id", "event_id", "value", nn.alias("nn_gap")
    ).where((nn > 25) & (nn < 1e17))


# --------------------------------------------------------------------
# J3: overlap-resolving union (keep-newer): new rows win; old rows
# survive only in hourly buckets the new series doesn't cover
# (qaqc_concatenate_stations.py:206-239).
# --------------------------------------------------------------------
J3_ORACLE = """
WITH oldt AS (
  SELECT *, date_trunc('hour', ts) AS b FROM events WHERE event_id % 2 = 0
), newt AS (
  SELECT *, date_trunc('hour', ts) AS b FROM events WHERE event_id % 2 = 1
)
SELECT event_id, user_id, ts, value, 'new' AS src FROM newt
UNION ALL
SELECT o.event_id, o.user_id, o.ts, o.value, 'old' AS src
FROM oldt o
WHERE NOT EXISTS (
  SELECT 1 FROM newt n WHERE n.user_id = o.user_id AND n.b = o.b
)
"""


@query("j3_keep_newer_union", J3_ORACLE)
def j3_keep_newer_union(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "b", F.date_trunc("hour", F.col("ts"))
    )
    old = ev.where(F.col("event_id") % 2 == 0)
    new = ev.where(F.col("event_id") % 2 == 1)
    survivors = old.join(
        new.select("user_id", "b").distinct(), ["user_id", "b"], "left_anti"
    )
    cols = ["event_id", "user_id", "ts", "value"]
    return (
        new.select(*cols, F.lit("new").alias("src"))
        .unionByName(survivors.select(*cols, F.lit("old").alias("src")))
    )
