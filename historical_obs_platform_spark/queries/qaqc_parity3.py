"""Fifth query wave: the remaining distribution-test flag writers from
SURVEY.md §2.4/§2.8 driven through the driver's correctness gate —

- f24_frequent_multigranularity: the FULL frequent-values check
  (qaqc_frequent.py:223-563) at all three granularities (whole-record
  30, per-season 20, per-season-per-year 15) including the
  December→following-winter-year attribution (qaqc_frequent.py:407-462)
  that SURVEY.md §7 lists among the genuinely hard parity items;
- l10_synergistic_flags: tas ↔ tdps frequent-flag copy with the
  reference's sequential overwrite-never semantics
  (qaqc_frequent.py:467-500);
- f21_monthly_median_gap: flag 21, month median outside climatological
  median ± 5·IQR (qaqc_unusual_gaps.py:113-212);
- f22_distribution_gap: flag 22, detached histogram tail islands
  beyond the fitted-normal pdf-floor bounds
  (qaqc_unusual_gaps.py:215-344).

Pseudo-observations derive deterministically from the ``events`` table
(same convention as the earlier parity waves); each oracle restates
the engine semantics in DuckDB SQL so the driver's hash-compare is
exact — same doubles, same thresholds, same precedence.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import distribution as D
from ..operators import qaqc as Q
from ..registry import query
from .common import table


def _spread_obs(spark, sf_dir, span_days: int, station_mod: int):
    """events → (station, time, value, event_id) with times fanned out
    over ``span_days`` so every calendar month/season is populated
    (the raw table covers a single month)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        (F.col("user_id") % station_mod).cast("string").alias("station"),
        F.expr(f"timestampadd(DAY, CAST(event_id % {span_days} AS INT), ts)").alias(
            "time"
        ),
        "event_id",
        "value",
    )


# --------------------------------------------------------------------
# f24: frequent values, all three granularities.
#
# Construction: per station ~60% of rows sit on one value (280.2 →
# bin 280, dominant over the whole record AND within each season);
# July rows of the other 40% sit isolated at 350 (dominant only
# within its season-year slice, count clears the per-year threshold
# 15 but usually not the seasonal 20 or annual 30); the rest spread
# uniformly over bins 250-310 so the dominant bin's ±3 block stays
# honest. Precedence: annual flag 24 is written first and never
# overwritten, so bin-280 rows read 24 and bin-350 rows read 25.
# --------------------------------------------------------------------
_F24_TAS = (
    "CASE WHEN month(time) = 7 AND event_id % 5 >= 3 THEN 350.0 "
    "WHEN event_id % 5 < 3 THEN 280.2 "
    "ELSE 250.0 + value % 60.0 END"
)

F24_ORACLE = f"""
WITH obs AS (
  SELECT CAST(user_id % 20 AS VARCHAR) AS station,
         ts + (event_id % 360) * INTERVAL 1 DAY AS time,
         event_id, value
  FROM events
), o AS (
  SELECT station, time, {_F24_TAS} AS tas FROM obs
), b AS (
  SELECT *, CAST(floor(tas) AS BIGINT) AS bin,
         CASE WHEN month(time) IN (12, 1, 2) THEN 'DJF'
              WHEN month(time) IN (3, 4, 5) THEN 'MAM'
              WHEN month(time) IN (6, 7, 8) THEN 'JJA'
              ELSE 'SON' END AS season,
         year(time) + CASE WHEN month(time) = 12 THEN 1 ELSE 0 END AS syear
  FROM o
), ah AS (
  SELECT station, bin, count(*) AS n FROM b GROUP BY 1, 2
), ab AS (
  SELECT station, bin FROM (
    SELECT station, bin, n,
           sum(n) OVER (PARTITION BY station ORDER BY bin
                        RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS blk
    FROM ah) WHERE n > blk * 0.5 AND n > 30
), sh AS (
  SELECT station, season, bin, count(*) AS n FROM b GROUP BY 1, 2, 3
), sb AS (
  SELECT station, season, bin FROM (
    SELECT station, season, bin, n,
           sum(n) OVER (PARTITION BY station, season ORDER BY bin
                        RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS blk
    FROM sh) WHERE n > blk * 0.5 AND n > 20
), yh AS (
  SELECT station, season, syear, bin, count(*) AS n
  FROM b GROUP BY 1, 2, 3, 4
), yb AS (
  SELECT station, season, syear, bin FROM (
    SELECT station, season, syear, bin, n,
           sum(n) OVER (PARTITION BY station, season, syear ORDER BY bin
                        RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS blk
    FROM yh) WHERE n > blk * 0.5 AND n > 15
)
SELECT b.station, b.time, b.tas,
       CASE WHEN ab.bin IS NOT NULL THEN 24.0e0
            WHEN sb.bin IS NOT NULL THEN 25.0e0
            WHEN yb.bin IS NOT NULL THEN 25.0e0 END AS tas_eraqc
FROM b
LEFT JOIN ab ON b.station = ab.station AND b.bin = ab.bin
LEFT JOIN sb ON b.station = sb.station AND b.season = sb.season
            AND b.bin = sb.bin
LEFT JOIN yb ON b.station = yb.station AND b.season = yb.season
            AND b.syear = yb.syear AND b.bin = yb.bin
"""


@query("f24_frequent_multigranularity", F24_ORACLE)
def f24_frequent_multigranularity(spark, sf_dir):
    obs = (
        _spread_obs(spark, sf_dir, span_days=360, station_mod=20)
        .withColumn("tas", F.expr(_F24_TAS))
        .drop("event_id", "value")
    )
    obs = Q.ensure_flag_columns(obs, ["tas"])
    out = D.frequent_values_multi(obs, ["tas"])
    return out.select("station", "time", "tas", "tas_eraqc")


# --------------------------------------------------------------------
# l10: synergistic copy. The reference copies tas→tdps first, then
# tdps→tas — the second pass sees the first pass's writes, so a tdps
# flag minted by the copy never bounces back (its tas source is
# already non-null). Only ORIGINAL tdps 24/25 flags reach tas.
# --------------------------------------------------------------------
L10_ORACLE = """
WITH obs AS (
  SELECT CAST(user_id AS VARCHAR) AS station, ts AS time,
         280.0 + value % 10.0 AS tas,
         275.0 + value % 8.0 AS tdps,
         CASE WHEN event_id % 10 = 0 THEN 24.0
              WHEN event_id % 10 = 1 THEN 25.0
              WHEN event_id % 10 = 2 THEN 26.0 END AS tas0,
         CASE WHEN event_id % 7 = 0 THEN 25.0
              WHEN event_id % 11 = 0 THEN 12.0 END AS tdps0
  FROM events
), pass1 AS (
  SELECT *,
         CASE WHEN tdps0 IS NOT NULL THEN tdps0
              WHEN tas0 = 24.0 THEN 24.0e0
              WHEN tas0 = 25.0 THEN 25.0e0 END AS tdps1
  FROM obs
)
SELECT station, time, tas, tdps,
       CASE WHEN tas0 IS NOT NULL THEN tas0
            WHEN tdps1 = 24.0 THEN 24.0e0
            WHEN tdps1 = 25.0 THEN 25.0e0 END AS tas_eraqc,
       tdps1 AS tdps_eraqc
FROM pass1
"""


@query("l10_synergistic_flags", L10_ORACLE)
def l10_synergistic_flags(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    obs = ev.select(
        F.col("user_id").cast("string").alias("station"),
        F.col("ts").alias("time"),
        (F.lit(280.0) + F.col("value") % 10.0).alias("tas"),
        (F.lit(275.0) + F.col("value") % 8.0).alias("tdps"),
        F.when(F.col("event_id") % 10 == 0, 24.0)
        .when(F.col("event_id") % 10 == 1, 25.0)
        .when(F.col("event_id") % 10 == 2, 26.0)
        .alias("tas_eraqc"),
        F.when(F.col("event_id") % 7 == 0, 25.0)
        .when(F.col("event_id") % 11 == 0, 12.0)
        .alias("tdps_eraqc"),
    )
    out = D.synergistic_flag_copy(obs, "tas", "tdps")
    return out.select(
        "station", "time", "tas", "tdps", "tas_eraqc", "tdps_eraqc"
    )


# --------------------------------------------------------------------
# f21: monthly-median gap. Times fan over ~6 years; every row of
# (2025, March) is shifted +100 so that single month's median breaks
# clim ± 5·IQR while the pooled March climatology (5 of 6 years
# unshifted) keeps a tight IQR. Whole offending month flagged 21.
# --------------------------------------------------------------------
_F21_TAS = (
    "280.0 + value % 10.0 + CASE WHEN year(time) = 2025 AND "
    "month(time) = 3 THEN 100.0 ELSE 0.0 END"
)

F21_ORACLE = f"""
WITH obs AS (
  SELECT CAST(user_id % 10 AS VARCHAR) AS station,
         ts + (event_id % 2160) * INTERVAL 1 DAY AS time,
         value
  FROM events
), o AS (
  SELECT station, time, {_F21_TAS} AS tas FROM obs
), clim AS (
  SELECT station, month(time) AS moy,
         quantile_cont(tas, 0.5) AS med,
         quantile_cont(tas, 0.75) - quantile_cont(tas, 0.25) AS iqr
  FROM o GROUP BY 1, 2
), yearly AS (
  SELECT station, year(time) AS yr, month(time) AS moy,
         quantile_cont(tas, 0.5) AS ymed
  FROM o GROUP BY 1, 2, 3
), bad AS (
  SELECT y.station, y.yr, y.moy
  FROM yearly y JOIN clim c ON y.station = c.station AND y.moy = c.moy
  WHERE y.ymed < c.med - 5.0 * c.iqr OR y.ymed > c.med + 5.0 * c.iqr
)
SELECT o.station, o.time, o.tas,
       CASE WHEN bad.moy IS NOT NULL THEN 21.0e0 END AS tas_eraqc
FROM o LEFT JOIN bad ON o.station = bad.station
    AND year(o.time) = bad.yr AND month(o.time) = bad.moy
"""


@query("f21_monthly_median_gap", F21_ORACLE)
def f21_monthly_median_gap(spark, sf_dir):
    obs = (
        _spread_obs(spark, sf_dir, span_days=2160, station_mod=10)
        .withColumn("tas", F.expr(_F21_TAS))
        .drop("event_id", "value")
    )
    obs = Q.ensure_flag_columns(obs, ["tas"])
    out = D.monthly_median_gap_multi(obs, ["tas"])
    return out.select("station", "time", "tas", "tas_eraqc")


# --------------------------------------------------------------------
# f22: distribution gap. Body sits within ±4 standardized bins; every
# 97th event jumps +40 (≈ bin 30+ after standardization), far past
# the pdf-floor bound and separated by > 2 empty bins → detached tail
# island, every member row flagged 22. Oracle restates the exact
# closed-form bound |x−μ| > σ·sqrt(−2·ln(0.1·σ·√(2π))) and the
# outward-propagating island scan.
# --------------------------------------------------------------------
_F22_TAS = (
    "280.0 + value % 8.0 + CASE WHEN event_id % 97 = 0 THEN 40.0 "
    "ELSE 0.0 END"
)

F22_ORACLE = f"""
WITH obs AS (
  SELECT CAST(user_id % 10 AS VARCHAR) AS station,
         ts + (event_id % 720) * INTERVAL 1 DAY AS time,
         event_id, value
  FROM events
), o AS (
  SELECT station, time, {_F22_TAS} AS tas FROM obs
), st AS (
  SELECT station, month(time) AS moy,
         quantile_cont(tas, 0.5) AS med,
         greatest(quantile_cont(tas, 0.75) - quantile_cont(tas, 0.25),
                  1e-9) AS iqr
  FROM o GROUP BY 1, 2
), std AS (
  SELECT o.station, o.time, o.tas, st.moy,
         (o.tas - st.med) / st.iqr AS s,
         CAST(floor(((o.tas - st.med) / st.iqr) / 0.25) AS BIGINT) AS bin
  FROM o JOIN st ON o.station = st.station AND month(o.time) = st.moy
), mom AS (
  SELECT station, moy, round(avg(s), 9) AS mu,
         round(coalesce(stddev_pop(s), 0.0), 9) AS sigma
  FROM std GROUP BY 1, 2
), hist AS (
  SELECT station, moy, bin, count(*) AS n FROM std GROUP BY 1, 2, 3
), h2 AS (
  SELECT h.station, h.moy, h.bin, m.mu,
         -- sigma > 0 guard: Spark's log(0) is NULL (group gets no
         -- bound, no flags); DuckDB's ln(0) THROWS. A constant group
         -- (sigma exactly 0) appears at sf0.001 — sweep catch r5.
         CASE WHEN m.sigma > 0
               AND 0.1 * m.sigma * sqrt(2 * pi()) < 1.0
              THEN m.sigma * sqrt(-2.0 * ln(0.1 * m.sigma * sqrt(2 * pi())))
         END AS z,
         h.bin - lag(h.bin) OVER (PARTITION BY h.station, h.moy
                                  ORDER BY h.bin) AS gap_up,
         lag(h.bin) OVER (PARTITION BY h.station, h.moy
                          ORDER BY h.bin DESC) - h.bin AS gap_dn
  FROM hist h JOIN mom m ON h.station = m.station AND h.moy = m.moy
), h3 AS (
  SELECT *,
         max(CASE WHEN bin > (mu + z) / 0.25 AND gap_up > 2 THEN bin END)
           OVER (PARTITION BY station, moy ORDER BY bin
                 ROWS UNBOUNDED PRECEDING) AS dhi,
         min(CASE WHEN bin < (mu - z) / 0.25 AND gap_dn > 2 THEN bin END)
           OVER (PARTITION BY station, moy ORDER BY bin
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS dlo
  FROM h2
), badb AS (
  SELECT station, moy, bin FROM h3
  WHERE z IS NOT NULL
    AND ((dhi IS NOT NULL AND bin >= dhi) OR (dlo IS NOT NULL AND bin <= dlo))
)
SELECT s.station, s.time, s.tas,
       CASE WHEN b.bin IS NOT NULL THEN 22.0e0 END AS tas_eraqc
FROM std s LEFT JOIN badb b
  ON s.station = b.station AND s.moy = b.moy AND s.bin = b.bin
"""


@query("f22_distribution_gap", F22_ORACLE)
def f22_distribution_gap(spark, sf_dir):
    obs = (
        _spread_obs(spark, sf_dir, span_days=720, station_mod=10)
        .withColumn("tas", F.expr(_F22_TAS))
        .drop("event_id", "value")
    )
    obs = Q.ensure_flag_columns(obs, ["tas"])
    out = D.distribution_gap_multi(obs, ["tas"])
    return out.select("station", "time", "tas", "tas_eraqc")


# --------------------------------------------------------------------
# L12 (round-2, VERDICT #5): sensor-height gates, flags 6/7/8/9 —
# whole-station instrument-mounting checks
# (qaqc_sensor_height_t / qaqc_sensor_height_w,
# qaqc_wholestation.py:579-689). Station-constant heights derive from
# the station id so every branch fires: missing thermometer (6),
# thermometer off 2 m (7), missing anemometer (8), anemometer off
# 10 m (9), and fully-conforming stations (no flag).
# --------------------------------------------------------------------
L12_ORACLE = """
WITH o AS (
  SELECT CAST(user_id % 40 AS VARCHAR) AS station, ts AS time,
         270.0 + value % 30.0 AS tas,
         CAST(CAST(floor(value) AS BIGINT) % 25 AS DOUBLE) AS sfcWind,
         CASE WHEN user_id % 40 % 5 = 0 THEN NULL
              WHEN user_id % 40 % 5 = 1 THEN 3.5
              ELSE 2.1 END AS th_h,
         CASE WHEN user_id % 40 % 4 = 0 THEN NULL
              WHEN user_id % 40 % 4 = 1 THEN 12.0
              ELSE 10.2 END AS an_h
  FROM events
), g AS (
  SELECT station,
         count(*) > count(th_h) AS t_miss,
         min(th_h) >= 2 - 1.0/3 AND max(th_h) <= 2 + 1.0/3 AS t_within,
         count(*) > count(an_h) AS w_miss,
         min(an_h) >= 10 - 1.0/3 AND max(an_h) <= 10 + 1.0/3 AS w_within
  FROM o GROUP BY station
)
SELECT o.station, o.time, o.tas, o.sfcWind,
       CASE WHEN g.t_miss THEN 6.0e0
            WHEN NOT g.t_within THEN 7.0e0 END AS tas_eraqc,
       CASE WHEN g.w_miss THEN 8.0e0
            WHEN NOT g.w_within THEN 9.0e0 END AS sfcWind_eraqc
FROM o JOIN g USING (station)
"""


@query("l12_sensor_height", L12_ORACLE)
def l12_sensor_height(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    sid = F.col("user_id") % 40
    obs = ev.select(
        sid.cast("string").alias("station"),
        F.col("ts").alias("time"),
        (F.lit(270.0) + F.col("value") % 30.0).alias("tas"),
        (F.floor("value").cast("long") % 25).cast("double").alias(
            "sfcWind"
        ),
        F.when(sid % 5 == 0, F.lit(None).cast("double"))
        .when(sid % 5 == 1, F.lit(3.5))
        .otherwise(F.lit(2.1))
        .alias("thermometer_height_m"),
        F.when(sid % 4 == 0, F.lit(None).cast("double"))
        .when(sid % 4 == 1, F.lit(12.0))
        .otherwise(F.lit(10.2))
        .alias("anemometer_height_m"),
    )
    out = Q.station_checks(obs, [Q.sensor_height_check])
    return out.select(
        "station", "time", "tas", "sfcWind", "tas_eraqc", "sfcWind_eraqc"
    )
