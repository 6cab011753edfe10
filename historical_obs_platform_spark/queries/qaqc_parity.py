"""Third query wave: the remaining SURVEY.md §2 flag-writers and
station-level operators driven through the driver's correctness gate —
L2 (wetbulb streak), L3/L4 (precip logic), L8 (elevation consistency),
L11 (derive-missing), W4 (same-hour streaks), J4 (co-location groups),
P3 (whole-station gates), A1 (grouped median), document
fingerprinting, and the multimodal feature plumbing (rows-only).

Pseudo-observations are derived deterministically from the driver
tables (events/customer/documents) exactly as in qaqc_demo.py; each
oracle mirrors the engine semantics in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.textfns import fingerprint_docs
from ..operators import distribution as D
from ..operators import multimodal as MM
from ..operators import qaqc as Q
from ..operators.concat import colocation_groups
from ..plans import merge as M
from ..registry import query
from .common import table


def _obs(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").cast("string").alias("station"),
        F.col("ts").alias("time"),
        F.col("user_id"),
        F.col("value"),
    )


# --------------------------------------------------------------------
# L2: wetbulb (dewpoint-depression) streak — tas − tdps == 0
# continuously for ≥ 24 h flags every row of the run 13
# (qaqc_logic_checks.py:80-151 via flag_long_runs sessionization).
# Days 0-2 of each 7-day cycle force dd == 0, producing multi-day runs.
# --------------------------------------------------------------------
L2_ORACLE = """
WITH obs AS (
  SELECT CAST(user_id AS VARCHAR) AS station, ts AS time,
         270.0 + value / 5 AS tas,
         CASE WHEN day(ts) % 7 < 3 THEN 270.0 + value / 5
              ELSE 270.0 + value / 5 - 2 - (value % 10.0) END AS tdps
  FROM events
), p AS (
  SELECT *, CASE WHEN tas - tdps = 0 THEN 1 ELSE 0 END AS pred FROM obs
), l AS (
  SELECT *, lag(pred) OVER (PARTITION BY station ORDER BY time) AS prev
  FROM p
), s AS (
  SELECT *, SUM(CASE WHEN prev IS NULL OR pred <> prev THEN 1 ELSE 0 END)
           OVER (PARTITION BY station ORDER BY time
                 ROWS UNBOUNDED PRECEDING) AS run
  FROM l
), sp AS (
  SELECT *,
         FLOOR(epoch(MAX(time) OVER w)) - FLOOR(epoch(MIN(time) OVER w))
           AS span
  FROM s WINDOW w AS (PARTITION BY station, run)
)
SELECT station, time, tas, tdps,
       CASE WHEN pred = 1 AND span >= 86400 THEN 13.0e0 END AS tdps_eraqc
FROM sp
"""


@query("l2_wetbulb_streak", L2_ORACLE)
def l2_wetbulb_streak(spark, sf_dir):
    tas = F.lit(270.0) + F.col("value") / 5
    obs = _obs(spark, sf_dir).select(
        "station",
        "time",
        tas.alias("tas"),
        F.when(F.dayofmonth("time") % 7 < 3, tas)
        .otherwise(tas - 2 - (F.col("value") % 10.0))
        .alias("tdps"),
    )
    obs = Q.ensure_flag_columns(obs, ["tas", "tdps"])
    out = Q.wetbulb_streak_check(obs)
    return out.select("station", "time", "tas", "tdps", "tdps_eraqc")


# --------------------------------------------------------------------
# L3: negative precipitation — pr < 0 flags 10
# (qaqc_logic_checks.py:154-208).
# --------------------------------------------------------------------
L3_ORACLE = """
SELECT CAST(user_id AS VARCHAR) AS station, ts AS time,
       (value % 9.0) - 2 AS pr,
       CASE WHEN (value % 9.0) - 2 < 0 THEN 10.0e0 END AS pr_eraqc
FROM events
"""


@query("l3_negative_precip", L3_ORACLE)
def l3_negative_precip(spark, sf_dir):
    obs = _obs(spark, sf_dir).select(
        "station", "time", ((F.col("value") % 9.0) - 2).alias("pr")
    )
    obs = Q.ensure_flag_columns(obs, ["pr"])
    out = Q.negative_precip_check(obs)
    return out.select("station", "time", "pr", "pr_eraqc")


# --------------------------------------------------------------------
# L4: interval-precip ordering — a shorter accumulation window must not
# exceed a longer one; flags 16/17/18 (qaqc_logic_checks.py:211-308).
# Sequential flag writes mean the localmid rule (18) overwrites 17 on
# pr_24h — the oracle CASE mirrors that last-write-wins order.
# --------------------------------------------------------------------
L4_ORACLE = """
WITH obs AS (
  SELECT CAST(user_id AS VARCHAR) AS station, ts AS time,
         value % 6.0 AS pr_5min, value % 8.0 AS pr_1h,
         value % 12.0 AS pr_24h, value % 13.0 AS pr_localmid
  FROM events
)
SELECT station, time, pr_5min, pr_1h, pr_24h, pr_localmid,
  CASE WHEN pr_5min > pr_1h OR pr_5min > pr_24h THEN 16.0e0 END
    AS pr_5min_eraqc,
  CASE WHEN pr_1h < pr_5min OR pr_1h > pr_24h THEN 17.0e0 END
    AS pr_1h_eraqc,
  CASE WHEN pr_24h < pr_localmid THEN 18.0e0
       WHEN pr_24h < pr_5min OR pr_24h < pr_1h THEN 17.0e0 END
    AS pr_24h_eraqc
FROM obs
"""


@query("l4_precip_ordering", L4_ORACLE)
def l4_precip_ordering(spark, sf_dir):
    obs = _obs(spark, sf_dir).select(
        "station",
        "time",
        (F.col("value") % 6.0).alias("pr_5min"),
        (F.col("value") % 8.0).alias("pr_1h"),
        (F.col("value") % 12.0).alias("pr_24h"),
        (F.col("value") % 13.0).alias("pr_localmid"),
    )
    obs = Q.ensure_flag_columns(
        obs, ["pr_5min", "pr_1h", "pr_24h", "pr_localmid"]
    )
    out = Q.precip_accum_ordering_check(obs)
    return out.select(
        "station", "time",
        "pr_5min", "pr_1h", "pr_24h", "pr_localmid",
        "pr_5min_eraqc", "pr_1h_eraqc", "pr_24h_eraqc",
    )


# --------------------------------------------------------------------
# L8: elevation consistency — >2 distinct elevations with range > 50 m
# flags values beyond median±50; exactly 2 distinct flags the minority
# (qaqc_wholestation.py:318-392). Elevations {100,150,200} planted.
# --------------------------------------------------------------------
L8_ORACLE = """
WITH obs AS (
  SELECT CAST(user_id AS VARCHAR) AS station, ts AS time,
         CASE WHEN value % 50.0 < 1 THEN 200.0e0
              WHEN value % 50.0 >= 49 THEN 150.0e0
              ELSE 100.0e0 END AS elevation
  FROM events
), st AS (
  SELECT station, COUNT(DISTINCT elevation) AS n_elev,
         MAX(elevation) - MIN(elevation) AS rng,
         quantile_cont(elevation, 0.5) AS med
  FROM obs GROUP BY station
), cnts AS (
  SELECT station, elevation, COUNT(*) AS c
  FROM obs WHERE elevation IS NOT NULL GROUP BY station, elevation
), minr AS (
  SELECT station, elevation AS minority FROM (
    SELECT *, row_number() OVER (
      PARTITION BY station ORDER BY c ASC, elevation DESC) AS rk
    FROM cnts) WHERE rk = 1
)
SELECT o.station, o.time, o.elevation,
  CASE WHEN (st.n_elev > 2 AND st.rng > 50
             AND abs(o.elevation - st.med) > 50)
        OR (st.n_elev = 2 AND st.rng > 50 AND o.elevation = minr.minority)
  THEN 36.0e0 END AS elevation_eraqc
FROM obs o
JOIN st USING (station) JOIN minr USING (station)
"""


@query("l8_elevation_consistency", L8_ORACLE)
def l8_elevation_consistency(spark, sf_dir):
    obs = _obs(spark, sf_dir).select(
        "station",
        "time",
        F.when(F.col("value") % 50.0 < 1, F.lit(200.0))
        .when(F.col("value") % 50.0 >= 49, F.lit(150.0))
        .otherwise(F.lit(100.0))
        .alias("elevation"),
    )
    obs = Q.ensure_flag_columns(obs, ["elevation"])
    out = Q.station_checks(obs, [Q.elevation_consistency_check])
    return out.select("station", "time", "elevation", "elevation_eraqc")


# --------------------------------------------------------------------
# L11: derive-missing — tdps_derived from (tas, hurs) when tdps is
# absent; synergistic flag 38 wherever an input row is flagged
# (merge_derive_missing.py:41-174, 202-250). tas rows with value > 45
# carry a planted world-record flag 11 feeding the 38 propagation.
# --------------------------------------------------------------------
L11_ORACLE = """
WITH obs AS (
  SELECT CAST(user_id AS VARCHAR) AS station, ts AS time,
         280.0 + value / 10 AS tas, 20.0 + (value % 60.0) AS hurs,
         CASE WHEN value > 45 THEN 11.0e0 END AS tas_eraqc
  FROM events
)
SELECT station, time, tas, hurs, tas_eraqc,
  round(1.0 / (1.0/273.0 - 0.0001844 * ln(
      (0.611 * exp(5423.0 * (1.0/273.0 - 1.0/tas)) * hurs / 100.0)
      / 0.611)), 6) AS tdps_derived,
  CASE WHEN tas_eraqc IS NOT NULL THEN 38.0e0 END AS tdps_derived_eraqc
FROM obs
"""


@query("l11_derive_missing", L11_ORACLE)
def l11_derive_missing(spark, sf_dir):
    obs = _obs(spark, sf_dir).select(
        "station",
        "time",
        (F.lit(280.0) + F.col("value") / 10).alias("tas"),
        (F.lit(20.0) + (F.col("value") % 60.0)).alias("hurs"),
        F.when(F.col("value") > 45, F.lit(11.0)).alias("tas_eraqc"),
    )
    obs = Q.ensure_flag_columns(obs, ["tas", "hurs"])
    out = M.derive_missing(obs)
    return out.select(
        "station", "time", "tas", "hurs", "tas_eraqc",
        F.round("tdps_derived", 6).alias("tdps_derived"),
        "tdps_derived_eraqc",
    )


# --------------------------------------------------------------------
# W4: same-hour repeat streaks — one hour-of-day repeating the same
# value on > 15 consecutive days (gap ≤ 1 day) flags 27
# (qaqc_unusual_streaks.py:474-570). Stations 0 and 3 report a
# constant, so every hour accumulates month-long clusters.
# --------------------------------------------------------------------
W4_ORACLE = """
WITH obs AS (
  SELECT CAST(user_id % 8 AS VARCHAR) AS station, ts AS time,
         CASE WHEN user_id % 8 IN (0, 3) THEN 5.0 ELSE value END AS tas
  FROM events
), days AS (
  SELECT DISTINCT station, hour(time) AS hh, CAST(time AS DATE) AS d,
         tas
  FROM obs
), l AS (
  SELECT *, date_diff('day',
      lag(d) OVER (PARTITION BY station, hh, tas ORDER BY d), d) AS gap
  FROM days
), s AS (
  SELECT *, SUM(CASE WHEN gap IS NULL OR gap > 1 THEN 1 ELSE 0 END)
      OVER (PARTITION BY station, hh, tas ORDER BY d
            ROWS UNBOUNDED PRECEDING) AS cl
  FROM l
), bad AS (
  SELECT station, hh, tas, d FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY station, hh, tas, cl)
        AS n_days
    FROM s) WHERE n_days > 15
)
SELECT o.station, o.time, o.tas,
       CASE WHEN bad.d IS NOT NULL THEN 27.0e0 END AS tas_eraqc
FROM obs o
LEFT JOIN bad ON o.station = bad.station AND hour(o.time) = bad.hh
             AND o.tas = bad.tas AND CAST(o.time AS DATE) = bad.d
"""


@query("w4_same_hour_streaks", W4_ORACLE)
def w4_same_hour_streaks(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    obs = ev.select(
        (F.col("user_id") % 8).cast("string").alias("station"),
        F.col("ts").alias("time"),
        F.when((F.col("user_id") % 8).isin(0, 3), F.lit(5.0))
        .otherwise(F.col("value"))
        .alias("tas"),
    )
    obs = Q.ensure_flag_columns(obs, ["tas"])
    out = D.same_hour_streak_multi(obs, ["tas"])
    return out.select("station", "time", "tas", "tas_eraqc")


# --------------------------------------------------------------------
# J4: co-location grouping — stations at identical (lat, lon) share a
# dense-rank group id (qaqc_concatenate_stations.py:87-152).
# --------------------------------------------------------------------
J4_ORACLE = """
WITH stations AS (
  SELECT 'S' || CAST(c_custkey AS VARCHAR) AS station,
         CAST(c_nationkey % 5 AS DOUBLE) AS latitude,
         CAST(c_custkey % 7 AS DOUBLE) AS longitude
  FROM customer
), g AS (
  SELECT latitude, longitude, COUNT(*) AS n_colocated
  FROM stations GROUP BY latitude, longitude
), r AS (
  SELECT *, CAST(dense_rank() OVER (ORDER BY latitude, longitude)
                 AS INTEGER) AS colocation_group
  FROM g
)
SELECT s.station, r.colocation_group, r.n_colocated
FROM stations s JOIN r USING (latitude, longitude)
"""


@query("j4_colocation_groups", J4_ORACLE)
def j4_colocation_groups(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    stations = cust.select(
        F.concat(F.lit("S"), F.col("c_custkey").cast("string")).alias(
            "station"
        ),
        (F.col("c_nationkey") % 5).cast("double").alias("latitude"),
        (F.col("c_custkey") % 7).cast("double").alias("longitude"),
    )
    return colocation_groups(stations).select(
        "station", "colocation_group", "n_colocated"
    )


# --------------------------------------------------------------------
# P3: whole-station gates — all-null lat/lon or median elevation
# outside [-95, 6210] rejects the station
# (qaqc_wholestation.py:56-110, 199-228, 537-574).
# --------------------------------------------------------------------
P3_ORACLE = """
WITH obs AS (
  SELECT CAST(user_id AS VARCHAR) AS station,
         270.0 + value / 5 AS tas,
         CASE WHEN user_id % 11 = 3 THEN NULL
              ELSE 40.0 + user_id END AS lat,
         CASE WHEN user_id % 9 = 4 THEN NULL ELSE -120.0 END AS lon,
         CASE WHEN user_id % 13 = 5 THEN 9000.0 ELSE 100.0 END
           AS elevation
  FROM events
), g AS (
  SELECT station,
         GREATEST(COUNT(tas), COUNT(elevation)) AS n_any,
         COUNT(lat) AS n_lat, COUNT(lon) AS n_lon,
         quantile_cont(elevation, 0.5) AS elev_med
  FROM obs GROUP BY station
)
SELECT station,
  CASE WHEN n_any = 0 THEN 'no_data_vars'
       WHEN n_lat = 0 OR n_lon = 0 THEN 'missing_latlon'
       WHEN elev_med IS NOT NULL
            AND (elev_med < -95.0 OR elev_med > 6210.0)
       THEN 'elevation_out_of_range' END AS reject_reason
FROM g
WHERE CASE WHEN n_any = 0 THEN 'no_data_vars'
           WHEN n_lat = 0 OR n_lon = 0 THEN 'missing_latlon'
           WHEN elev_med IS NOT NULL
                AND (elev_med < -95.0 OR elev_med > 6210.0)
           THEN 'elevation_out_of_range' END IS NOT NULL
"""


@query("p3_station_gates", P3_ORACLE)
def p3_station_gates(spark, sf_dir):
    obs = _obs(spark, sf_dir).select(
        "station",
        "time",
        (F.lit(270.0) + F.col("value") / 5).alias("tas"),
        F.when(F.col("user_id") % 11 == 3, F.lit(None).cast("double"))
        .otherwise(F.lit(40.0) + F.col("user_id"))
        .alias("lat"),
        F.when(F.col("user_id") % 9 == 4, F.lit(None).cast("double"))
        .otherwise(F.lit(-120.0))
        .alias("lon"),
        F.when(F.col("user_id") % 13 == 5, F.lit(9000.0))
        .otherwise(F.lit(100.0))
        .alias("elevation"),
    )
    return Q.station_gates(obs)


# --------------------------------------------------------------------
# A1: grouped median — per (station, calendar month) exact
# interpolated median (qaqc_unusual_gaps.py:174-181).
# --------------------------------------------------------------------
A1_ORACLE = """
SELECT CAST(user_id AS VARCHAR) AS station,
       CAST(month(ts) AS INTEGER) AS mon,
       round(quantile_cont(value, 0.5), 6) AS med
FROM events GROUP BY station, mon
"""


@query("a1_monthly_median", A1_ORACLE)
def a1_monthly_median(spark, sf_dir):
    obs = _obs(spark, sf_dir)
    return obs.groupBy(
        "station", F.month("time").alias("mon")
    ).agg(F.round(F.expr("percentile(value, 0.5)"), 6).alias("med"))


# --------------------------------------------------------------------
# Document fingerprinting: min-md5 over character 8-grams of the
# normalized text (winnowing-style rolling-hash fingerprint).
# --------------------------------------------------------------------
TFP_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
TFP_ORACLE = f"""
SELECT doc_id,
  list_aggregate(list_transform(
    range(1, GREATEST(length({TFP_NORM}) - 7, 1) + 1),
    i -> md5(substr({TFP_NORM}, CAST(i AS INTEGER), 8))), 'min') AS fp
FROM documents WHERE text IS NOT NULL
"""


@query("t_fingerprint", TFP_ORACLE)
def t_fingerprint(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    return fingerprint_docs(docs, "doc_id", "text", k=8)


# --------------------------------------------------------------------
# Multimodal plumbing: opaque binary content through the mapInPandas
# feature-extraction stage with a deterministic fake decoder — schema,
# batching, and partitioning are the real engine path; only the codec
# is stubbed. The driver query selects the engine-portable digest
# columns (content = UTF-8 bytes of text, so DuckDB's sha256(text)
# hashes the same bytes; the fake decoder's width/height are hex
# slices of that digest), which puts the Python island behind an exact
# SQL oracle. crc32/sha1/feature stay on the operator surface but
# have no DuckDB builtins.
# --------------------------------------------------------------------
def _hex4(expr: str) -> str:
    """Integer value of 4 hex chars (a 2-byte big-endian slice)."""
    return " + ".join(
        f"(instr('0123456789abcdef', substring({expr}, {i}, 1)) - 1)"
        f" * {16 ** (4 - i)}"
        for i in range(1, 5)
    )


MM_ORACLE = f"""
WITH f AS (
  SELECT doc_id AS media_id,
         CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
         sha256(text) AS sha256
  FROM documents WHERE text IS NOT NULL
)
SELECT media_id, n_bytes, sha256,
       CAST(({_hex4("substring(sha256, 17, 4)")}) % 4096 AS INTEGER) AS width,
       CAST(({_hex4("substring(sha256, 21, 4)")}) % 4096 AS INTEGER) AS height
FROM f
"""


@query("m_multimodal_features", MM_ORACLE)
def m_multimodal_features(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("content"),
    )
    feats = MM.extract_features(media, decoder=MM.FakeDecoder())
    return feats.select("media_id", "n_bytes", "sha256", "width", "height")


# --------------------------------------------------------------------
# The REAL pixel decoder behind an exact SQL oracle: a valid binary
# PPM (P6, 2x2, maxval 255) is synthesized IN-ENGINE for every doc —
# 11 header bytes + 12 pixel bytes from unhex(md5(text)[:24]) — and
# decoded by PpmBmpDecoder through the same mapInPandas seam a
# production codec would use. Because the pixel bytes are a hex
# function of the text, DuckDB can recompute every channel statistic
# from the SAME md5 without any image code: the oracle checks the
# decoder's arithmetic (Rec.601 luma, channel means, std) bit for
# bit, not just the plumbing. All stats are fixed-order IEEE float64
# narrowed to float32 by the feature schema on the Spark side and by
# CAST(... AS FLOAT4) in the oracle.
# --------------------------------------------------------------------
def _hexbyte(h: str, i: int) -> str:
    """DuckDB expression: integer value of the i-th (1-based) byte
    encoded as hex pair (2i-1, 2i) of hex string expression ``h``."""
    hi = f"(instr('0123456789abcdef', substr({h}, {2 * i - 1}, 1)) - 1)"
    lo = f"(instr('0123456789abcdef', substr({h}, {2 * i}, 1)) - 1)"
    return f"({hi} * 16 + {lo})"


def _ppm_oracle() -> str:
    h = "hx"
    # pixel bytes 1..12; channel c (0=R,1=G,2=B) lives at bytes
    # {c+1, c+4, c+7, c+10}; numpy sums row-major: p00, p01, p10, p11
    def chan(c):
        return [_hexbyte(h, c + 1 + 3 * p) for p in range(4)]

    def mean(c):
        b = chan(c)
        return f"((({b[0]} + {b[1]}) + {b[2]}) + {b[3]}) / 4.0"

    lumas = [
        f"(0.299 * {_hexbyte(h, 1 + 3 * p)} + 0.587 * "
        f"{_hexbyte(h, 2 + 3 * p)} + 0.114 * {_hexbyte(h, 3 + 3 * p)})"
        for p in range(4)
    ]
    mu = f"((({lumas[0]} + {lumas[1]}) + {lumas[2]}) + {lumas[3]}) / 4.0"
    # numpy std: sqrt(mean of squared deviations), sequential sum
    var = (
        f"(((power({lumas[0]} - mu, 2) + power({lumas[1]} - mu, 2))"
        f" + power({lumas[2]} - mu, 2)) + power({lumas[3]} - mu, 2)) / 4.0"
    )
    allb = [_hexbyte(h, i) for i in range(1, 13)]
    least = "least(" + ", ".join(allb) + ")"
    greatest = "greatest(" + ", ".join(allb) + ")"
    return f"""
WITH src AS (
  SELECT doc_id AS media_id, md5(text) AS full_hx,
         substr(md5(text), 1, 24) AS hx
  FROM documents WHERE text IS NOT NULL
),
withmu AS (SELECT *, {mu} AS mu FROM src)
SELECT media_id,
       CAST(23 AS INTEGER) AS n_bytes,
       CAST(2 AS INTEGER) AS width,
       CAST(2 AS INTEGER) AS height,
       CAST({mean(0)} / 255.0 AS FLOAT4) AS mean_r,
       CAST({mean(1)} / 255.0 AS FLOAT4) AS mean_g,
       CAST({mean(2)} / 255.0 AS FLOAT4) AS mean_b,
       CAST(sqrt({var}) / 255.0 AS FLOAT4) AS std_luma,
       CAST({least} / 255.0 AS FLOAT4) AS px_min,
       CAST({greatest} / 255.0 AS FLOAT4) AS px_max
FROM withmu
"""


@query("m_ppm_decode_stats", _ppm_oracle())
def m_ppm_decode_stats(spark, sf_dir):
    """Channel statistics of genuinely DECODED 2x2 PPM pixels, hash-
    checked against DuckDB recomputing the same bytes from md5 —
    map-only, the decode island is the real PpmBmpDecoder."""
    docs = table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    header = F.lit("P6\n2 2\n255\n").cast("binary")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            header, F.unhex(F.substring(F.md5("text"), 1, 24))
        ).alias("content"),
    )
    feats = MM.extract_features(media, decoder=MM.PpmBmpDecoder())
    f = feats
    return f.select(
        "media_id",
        "n_bytes",
        "width",
        "height",
        F.element_at("feature", 1).alias("mean_r"),
        F.element_at("feature", 2).alias("mean_g"),
        F.element_at("feature", 3).alias("mean_b"),
        F.element_at("feature", 4).alias("std_luma"),
        F.element_at("feature", 5).alias("px_min"),
        F.element_at("feature", 6).alias("px_max"),
    )
