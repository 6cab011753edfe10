"""Fourth query wave: rule-table flagging (L7), elevation infill (L9),
geospatial region gate (P4), Gaussian pdf-floor bounds (A7), and the
climatological-outlier pandas-UDF island (W13, rows-only).

Rules/DEM/polygon inputs are tiny driver-built broadcast tables, as in
the reference (broadcast lookup joins, SURVEY.md §2.3 J7).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators import distribution as D
from ..operators import qaqc as Q
from ..operators.concat import buoy_blacklist_check, elevation_infill
from ..operators.geo import station_region_gate
from ..registry import query
from .common import dec, table


def _obs(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").cast("string").alias("station"),
        F.col("ts").alias("time"),
        F.col("user_id"),
        F.col("value"),
    )


# --------------------------------------------------------------------
# L7: buoy blacklist — broadcast rules table; data past a
# disestablishment date (flag 2), daytime wind at a known-bad buoy
# (flag 1) (qaqc_buoy_check.py:24-164). First matching rule wins:
# write_flag never overwrites a non-null flag.
# --------------------------------------------------------------------
L7_ORACLE = """
SELECT CAST(user_id AS VARCHAR) AS station, ts AS time,
       5.0 + (value % 20.0) AS sfcWind,
       CASE WHEN CAST(user_id AS VARCHAR) = '3'
                 AND ts >= TIMESTAMP '2024-01-15 00:00:00' THEN 2.0e0
            WHEN CAST(user_id AS VARCHAR) = '7'
                 AND hour(ts) BETWEEN 6 AND 20 THEN 1.0e0
       END AS sfcWind_eraqc
FROM events
"""


@query("l7_buoy_blacklist", L7_ORACLE)
def l7_buoy_blacklist(spark, sf_dir):
    obs = _obs(spark, sf_dir).select(
        "station",
        "time",
        (F.lit(5.0) + F.col("value") % 20.0).alias("sfcWind"),
    )
    obs = Q.ensure_flag_columns(obs, ["sfcWind"])
    rules_schema = StructType(
        [
            StructField("station", StringType()),
            StructField("variable", StringType()),
            StructField("window_start", TimestampType()),
            StructField("window_end", TimestampType()),
            StructField("flag", IntegerType()),
            StructField("hour_start", IntegerType()),
            StructField("hour_end", IntegerType()),
        ]
    )
    import datetime as dt

    rules = spark.createDataFrame(
        [
            ("3", None, dt.datetime(2024, 1, 15), None, 2, None, None),
            ("7", "sfcWind", None, None, 1, 6, 20),
        ],
        schema=rules_schema,
    )
    out = buoy_blacklist_check(obs, rules)
    return out.select("station", "time", "sfcWind", "sfcWind_eraqc")


# --------------------------------------------------------------------
# L9: elevation infill — all-null stations fill from a DEM lookup
# (flag 3) or 0.0 offshore default (flag 5); partially-null stations
# fill from the station constant (flag 4)
# (qaqc_wholestation.py:270-534, DEM replaced by a broadcast table).
# --------------------------------------------------------------------
L9_ORACLE = """
WITH obs AS (
  SELECT CAST(user_id AS VARCHAR) AS station, ts AS time, user_id,
         CAST(user_id % 3 AS DOUBLE) AS lat,
         CAST(-(user_id % 3) AS DOUBLE) AS lon,
         CASE WHEN user_id % 4 = 0 THEN NULL
              WHEN user_id % 4 = 1 AND value < 5 THEN NULL
              WHEN user_id % 4 = 1 THEN 150.0e0
              ELSE 120.0e0 END AS elevation
  FROM events
), dem AS (
  SELECT CAST(k AS DOUBLE) AS lat, CAST(-k AS DOUBLE) AS lon,
         500.0 + k AS dem_elevation
  FROM (SELECT UNNEST([0, 1]) AS k)
), stats AS (
  SELECT station, COUNT(elevation) AS n_elev,
         MAX(elevation) AS stn_elev,
         MAX(lat) AS slat, MAX(lon) AS slon
  FROM obs GROUP BY station
), j AS (
  SELECT s.*, d.dem_elevation AS dem
  FROM stats s LEFT JOIN dem d ON s.slat = d.lat AND s.slon = d.lon
)
SELECT o.station, o.time,
  CASE WHEN o.elevation IS NULL THEN
         CASE WHEN j.n_elev > 0 THEN j.stn_elev
              WHEN j.dem IS NOT NULL THEN j.dem
              ELSE 0.0 END
       ELSE o.elevation END AS elevation,
  CASE WHEN o.elevation IS NULL THEN
         CASE WHEN j.n_elev > 0 THEN 4.0e0
              WHEN j.dem IS NOT NULL THEN 3.0e0
              ELSE 5.0e0 END
  END AS elevation_eraqc
FROM obs o JOIN j USING (station)
"""


@query("l9_elevation_infill", L9_ORACLE)
def l9_elevation_infill(spark, sf_dir):
    obs = _obs(spark, sf_dir).select(
        "station",
        "time",
        (F.col("user_id") % 3).cast("double").alias("lat"),
        (-(F.col("user_id") % 3)).cast("double").alias("lon"),
        F.when(F.col("user_id") % 4 == 0, F.lit(None).cast("double"))
        .when(
            (F.col("user_id") % 4 == 1) & (F.col("value") < 5),
            F.lit(None).cast("double"),
        )
        .when(F.col("user_id") % 4 == 1, F.lit(150.0))
        .otherwise(F.lit(120.0))
        .alias("elevation"),
    )
    dem = spark.createDataFrame(
        [(0.0, -0.0, 500.0), (1.0, -1.0, 501.0)],
        schema="lat double, lon double, dem_elevation double",
    )
    out = elevation_infill(obs, dem)
    return out.select("station", "time", "elevation", "elevation_eraqc")


# --------------------------------------------------------------------
# P4: region gate — stations whose representative coordinate falls
# outside the region polygon are listed for rejection
# (qaqc_within_wecc, qaqc_wholestation.py:231-267; ray-cast over a
# broadcast polygon evaluated per distinct coordinate).
# --------------------------------------------------------------------
P4_ORACLE = """
SELECT DISTINCT CAST(user_id AS VARCHAR) AS station,
       'outside_region' AS reject_reason
FROM events
WHERE (user_id % 10) + 0.5 NOT BETWEEN 1 AND 5
   OR -((user_id % 10) + 0.5) NOT BETWEEN -5 AND -1
"""

_POLY = [(-5.0, 1.0), (-1.0, 1.0), (-1.0, 5.0), (-5.0, 5.0)]


@query("p4_region_gate", P4_ORACLE)
def p4_region_gate(spark, sf_dir):
    obs = _obs(spark, sf_dir).select(
        "station",
        "time",
        ((F.col("user_id") % 10) + 0.5).cast("double").alias("lat"),
        (-((F.col("user_id") % 10) + 0.5)).cast("double").alias("lon"),
    )
    return station_region_gate(obs, [_POLY])


# --------------------------------------------------------------------
# P4/S10 WKT variant (round-2, VERDICT #6): region polygons arrive as
# a (region, wkt) TABLE — a MULTIPOLYGON whose first polygon carries a
# hole plus a disjoint second polygon, exercising the parser, the
# even-odd hole rule, and the multi-part union. Stations land at
# half-integer coordinates so no point sits on a boundary and the
# oracle is plain interval algebra.
# --------------------------------------------------------------------
P4W_ORACLE = """
WITH pt AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS station,
         (user_id % 10) + 0.5 AS lat, -((user_id % 10) + 0.5) AS lon
  FROM events
)
SELECT station, 'outside_region' AS reject_reason
FROM pt
WHERE NOT (
  (lat > 1 AND lat < 5 AND lon > -5 AND lon < -1
   AND NOT (lat > 2 AND lat < 4 AND lon > -4 AND lon < -2))
  OR (lat > 7 AND lat < 9 AND lon > -8 AND lon < -6)
)
"""

_WKT_REGIONS = (
    "MULTIPOLYGON (((-5 1, -1 1, -1 5, -5 5, -5 1), "
    "(-4 2, -2 2, -2 4, -4 4, -4 2)), "
    "((-8 7, -6 7, -6 9, -8 9, -8 7)))"
)


@query("p4_region_gate_wkt", P4W_ORACLE)
def p4_region_gate_wkt(spark, sf_dir):
    from ..operators.geo import station_region_gate_wkt

    obs = _obs(spark, sf_dir).select(
        "station",
        "time",
        ((F.col("user_id") % 10) + 0.5).cast("double").alias("lat"),
        (-((F.col("user_id") % 10) + 0.5)).cast("double").alias("lon"),
    )
    polys = spark.createDataFrame(
        [("wecc_demo", _WKT_REGIONS)], "region string, wkt string"
    )
    return station_region_gate_wkt(obs, polys)


# --------------------------------------------------------------------
# A7: Gaussian fit + pdf-floor bounds — per station, fit N(mu, sigma)
# and solve pdf(x) = 0.1 for the left/right flag bounds
# (fit_normal/pdf_bounds, qaqc_climatological_outlier.py:323-460,
# qaqc_utils.py:146-200). Moments from decimal-exact sums so both
# engines see identical doubles.
# --------------------------------------------------------------------
A7_ORACLE = """
WITH m AS (
  SELECT CAST(user_id AS VARCHAR) AS station,
         COUNT(value) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
         CAST(SUM(CAST(value AS DECIMAL(18,2))
                  * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ss
  FROM events GROUP BY station
), f AS (
  SELECT station, n, s / n AS mu,
         sqrt(ss / n - (s / n) * (s / n)) AS sigma
  FROM m
)
SELECT station,
  round(mu, 6) AS mu, round(sigma, 6) AS sigma,
  CASE WHEN 0.1 * sigma * sqrt(2 * pi()) < 1 THEN
    round(mu - sigma * sqrt(-2 * ln(0.1 * sigma * sqrt(2 * pi()))), 6)
  END AS lo,
  CASE WHEN 0.1 * sigma * sqrt(2 * pi()) < 1 THEN
    round(mu + sigma * sqrt(-2 * ln(0.1 * sigma * sqrt(2 * pi()))), 6)
  END AS hi
FROM f
"""


@query("a7_pdf_bounds", A7_ORACLE)
def a7_pdf_bounds(spark, sf_dir):
    import math

    ev = _obs(spark, sf_dir)
    m = ev.groupBy("station").agg(
        F.count("value").alias("n"),
        F.sum(dec("value")).cast("double").alias("s"),
        F.sum(dec("value") * dec("value")).cast("double").alias("ss"),
    )
    mu = F.col("s") / F.col("n")
    sigma = F.sqrt(F.col("ss") / F.col("n") - mu * mu)
    arg = F.lit(0.1) * sigma * F.lit(math.sqrt(2 * math.pi))
    z = sigma * F.sqrt(F.lit(-2.0) * F.log(arg))
    return m.select(
        "station",
        F.round(mu, 6).alias("mu"),
        F.round(sigma, 6).alias("sigma"),
        F.when(arg < 1, F.round(mu - z, 6)).alias("lo"),
        F.when(arg < 1, F.round(mu + z, 6)).alias("hi"),
    )


# --------------------------------------------------------------------
# W13 (+W9/W10): climatological outlier — winsorized (month, hour)
# climatology, IQR standardization, Butterworth low-pass, per-month
# normal fit with pdf-floor bounds, all inside a per-station
# applyInPandas island — in EXACT MODE, so the whole pipeline is
# hash-oracled end-to-end (retiring the r1/r2 rows-only pairing).
#
# Exact mode makes every island float bit-reproducible by DuckDB:
#   - winsorized means / grid moments from exact integer nano-unit
#     sums (BIGINT both sides; the one beyond-int64 sum — squared
#     deviations — converts to double via a base-2^62 digit split
#     because HUGEINT→DOUBLE is not correctly rounded in DuckDB);
#   - quantile interpolation / cadence / Butterworth coefficients as
#     identical expression trees (libm tan/exp are bit-identical when
#     values flow as DATA — bare SQL literals parse as DECIMAL, hence
#     the e-notation literals below);
#   - the order-1 Butterworth fold y_i = b0·x_i + b1·x_{i−1} −
#     a1·y_{i−1} replayed by the RECURSIVE CTE `fr` in the same
#     order (the w23 Holt technique);
#   - stage boundaries quantized with rint(x·1e9)/1e9 — an
#     IEEE-primitive composite DuckDB reproduces exactly via
#     round_even(x·1e9, 0)/1e9 (fuzzed in tests/test_hardening_r5.py).
# --------------------------------------------------------------------
def _q9sql(e: str) -> str:
    return f"(round_even(({e}) * 1000000000.0, 0) / 1000000000.0)"


_P62 = "4611686018427387904"  # 2^62


def _w13_oracle() -> str:
    q9 = _q9sql
    return f"""
WITH RECURSIVE
obs AS MATERIALIZED (
  SELECT CAST(user_id % 32 AS VARCHAR) AS station, ts AS time,
         285.0e0 + value / 4 AS tas
  FROM events
),
v0 AS (
  SELECT station, time, tas FROM obs
  WHERE tas IS NOT NULL AND time IS NOT NULL
),
vg AS (SELECT station FROM v0 GROUP BY station HAVING count(*) >= 20),
vs AS MATERIALIZED (
  SELECT v0.station, v0.time, v0.tas,
         month(v0.time) * 100 + hour(v0.time) AS key,
         row_number() OVER (PARTITION BY v0.station
                            ORDER BY v0.time, v0.tas) AS rn
  FROM v0 JOIN vg USING (station)
),
ck AS (
  SELECT station, key, tas,
         row_number() OVER (PARTITION BY station, key ORDER BY tas) AS krn,
         count(*) OVER (PARTITION BY station, key) AS kn
  FROM vs
),
ck2 AS (SELECT *, CAST(floor(0.05e0 * kn) AS BIGINT) AS kk FROM ck),
ck3 AS (
  SELECT *,
    max(CASE WHEN krn = kk + 1 THEN tas END)
      OVER (PARTITION BY station, key) AS lov,
    max(CASE WHEN krn = kn - kk THEN tas END)
      OVER (PARTITION BY station, key) AS hiv
  FROM ck2
),
clim AS (
  SELECT station, key,
    CAST(sum(CAST(round_even((CASE WHEN krn <= kk THEN lov
                  WHEN krn > kn - kk THEN hiv
                  ELSE tas END) * 1000000000.0, 0) AS BIGINT)) AS DOUBLE)
      / any_value(kn) / 1000000000.0 AS clim
  FROM ck3 GROUP BY station, key
),
an AS (
  SELECT vs.station, vs.time, vs.tas, vs.key, vs.rn,
         vs.tas - c.clim AS anom
  FROM vs JOIN clim c USING (station, key)
),
aq AS (
  SELECT station, key, anom,
         row_number() OVER (PARTITION BY station, key ORDER BY anom) AS arn,
         count(*) OVER (PARTITION BY station, key) AS n
  FROM an
),
qp AS (
  SELECT station, key, any_value(n) AS n,
    max(CASE WHEN arn = CAST(floor(0.25e0*(n-1)) AS BIGINT) + 1
        THEN anom END) AS q25a,
    max(CASE WHEN arn = least(CAST(floor(0.25e0*(n-1)) AS BIGINT) + 2, n)
        THEN anom END) AS q25b,
    max(CASE WHEN arn = CAST(floor(0.75e0*(n-1)) AS BIGINT) + 1
        THEN anom END) AS q75a,
    max(CASE WHEN arn = least(CAST(floor(0.75e0*(n-1)) AS BIGINT) + 2, n)
        THEN anom END) AS q75b
  FROM aq GROUP BY station, key
),
iq AS (
  SELECT station, key,
    greatest({q9("(q75a + (q75b - q75a) * (0.75e0*(n-1) - floor(0.75e0*(n-1))))"
                 " - (q25a + (q25b - q25a) * (0.25e0*(n-1) - floor(0.25e0*(n-1))))")},
             1.5e0) AS denom
  FROM qp
),
sd AS MATERIALIZED (
  SELECT a.station, a.time, a.tas, a.key, a.rn,
         {q9("a.anom / i.denom")} AS s
  FROM an a JOIN iq i USING (station, key)
),
cd AS (
  SELECT station,
         epoch_us(time) - lag(epoch_us(time))
           OVER (PARTITION BY station ORDER BY time, tas) AS du
  FROM vs
),
cad AS (
  SELECT station, du FROM (
    SELECT station, du,
           row_number() OVER (PARTITION BY station
                              ORDER BY count(*) DESC, du ASC) AS rr
    FROM cd WHERE du IS NOT NULL GROUP BY station, du
  ) WHERE rr = 1
),
cfr AS (
  SELECT station,
         2.0e0 * greatest(CAST(du AS DOUBLE) / 1000000.0, 1.0e0)
           / 1051200.0e0 AS cfrac
  FROM cad
),
co AS (
  SELECT station,
         1.0e0 / (1.0e0 + (1.0e0 / tan(pi() * cfrac / 2.0e0))) AS b0,
         (1.0e0 - (1.0e0 / tan(pi() * cfrac / 2.0e0)))
           / (1.0e0 + (1.0e0 / tan(pi() * cfrac / 2.0e0))) AS a1
  FROM cfr WHERE cfrac < 1.0e0
),
fr AS (
  SELECT s.station, s.rn, s.s,
         c.b0 * s.s + c.b0 * s.s - c.a1 * s.s AS y
  FROM sd s JOIN co c USING (station) WHERE s.rn = 1
  UNION ALL
  SELECT s.station, s.rn, s.s,
         c.b0 * s.s + c.b0 * fr.s - c.a1 * fr.y AS y
  FROM fr JOIN sd s ON s.station = fr.station AND s.rn = fr.rn + 1
          JOIN co c ON c.station = s.station
),
rz AS MATERIALIZED (
  SELECT f.station, f.rn, s2.time, s2.key,
         {q9("f.s - f.y")} AS r
  FROM fr f JOIN sd s2 USING (station, rn)
),
gk AS (
  SELECT station, key, count(*) AS gn,
         CAST(floor(min(r)) AS BIGINT) AS fmin,
         CAST(ceil(max(r)) AS BIGINT) AS cmax
  FROM rz GROUP BY station, key
  HAVING count(*) > 5
),
gm AS (
  SELECT station, key, gn, greatest(abs(fmin), abs(cmax)) AS m FROM gk
),
ed AS MATERIALIZED (
  SELECT station, key, gn, m, unnest(range(0, 8*m + 3)) AS ei
  FROM gm
),
ed2 AS (
  SELECT station, key, gn, m, ei,
         (CAST(ei AS DOUBLE) - CAST(4*m + 1 AS DOUBLE)) * 0.25e0 AS e
  FROM ed
),
ri AS MATERIALIZED (
  SELECT z.station, z.key, z.rn, z.r,
         count(*) FILTER (WHERE e2.e <= z.r) - 1 AS bi
  FROM rz z JOIN ed2 e2 USING (station, key)
  GROUP BY z.station, z.key, z.rn, z.r
),
fq AS (
  SELECT e2.station, e2.key, e2.ei AS bi, count(ri.rn) AS f
  FROM ed2 e2 LEFT JOIN ri
    ON ri.station = e2.station AND ri.key = e2.key AND ri.bi = e2.ei
  WHERE e2.ei < 8*e2.m + 2
  GROUP BY e2.station, e2.key, e2.ei
),
mo1 AS (
  SELECT z.station, z.key,
         CAST(sum(CAST(round_even(z.r * 1000000000.0, 0) AS BIGINT))
              AS DOUBLE) / g.gn / 1000000000.0 AS mu
  FROM rz z JOIN gm g USING (station, key)
  GROUP BY z.station, z.key, g.gn
),
dv AS (
  SELECT z.station, z.key,
         CAST(round_even((z.r - m1.mu) * 1000000000.0, 0) AS BIGINT) AS dn
  FROM rz z JOIN mo1 m1 USING (station, key)
),
mo2 AS (
  SELECT d.station, d.key, m1.mu,
         sqrt((CAST(sum(CAST(d.dn AS HUGEINT) * d.dn) // {_P62} AS DOUBLE)
                 * {_P62}.0
               + CAST(sum(CAST(d.dn AS HUGEINT) * d.dn) % {_P62} AS DOUBLE))
              / g.gn) / 1000000000.0 AS sigma
  FROM dv d JOIN mo1 m1 USING (station, key) JOIN gm g USING (station, key)
  GROUP BY d.station, d.key, m1.mu, g.gn
),
pp AS (
  SELECT e2.station, e2.key, e2.ei, e2.m, e2.e,
    CASE WHEN m2.sigma > 1e-8 THEN
      exp(-0.5e0 * (((e2.e - m2.mu) / m2.sigma)
                    * ((e2.e - m2.mu) / m2.sigma)))
        / (m2.sigma * sqrt(2 * pi())) * (0.25e0 * e2.gn)
    END AS p
  FROM ed2 e2 JOIN mo2 m2 USING (station, key)
),
gr AS (
  SELECT station, key, ei, m, p,
    CASE WHEN ei = 0 THEN lead(p) OVER w - p
         WHEN ei = 8*m + 2 THEN p - lag(p) OVER w
         ELSE (lead(p) OVER w - lag(p) OVER w) / 2.0e0 END AS g
  FROM pp WHERE p IS NOT NULL
  WINDOW w AS (PARTITION BY station, key ORDER BY ei)
),
lr AS (
  SELECT station, key, any_value(m) AS m,
    coalesce(max(CASE WHEN g > 0 AND p <= 0.1e0 THEN ei END), 1) AS lft,
    coalesce(min(CASE WHEN g < 0 AND p <= 0.1e0 THEN ei END),
             8*any_value(m) + 1) AS rgt
  FROM gr GROUP BY station, key
),
ct AS (
  SELECT f.station, f.key, any_value(l.m) AS m,
    max(CASE WHEN f.f = 0 AND f.bi <= least(l.lft, 8*l.m + 2) - 1
        THEN f.bi END) AS lo_bi,
    min(CASE WHEN f.f = 0 AND f.bi >= l.rgt + 1 THEN f.bi END) AS hi_bi
  FROM fq f JOIN lr l ON l.station = f.station AND l.key = f.key
  GROUP BY f.station, f.key
),
bk AS (
  SELECT DISTINCT z.station, z.time
  FROM rz z JOIN ct ON ct.station = z.station AND ct.key = z.key
  WHERE (ct.lo_bi IS NOT NULL
         AND z.r <= (CAST(ct.lo_bi + 1 AS DOUBLE)
                     - CAST(4*ct.m + 1 AS DOUBLE)) * 0.25e0)
     OR (ct.hi_bi IS NOT NULL
         AND z.r >= (CAST(ct.hi_bi AS DOUBLE)
                     - CAST(4*ct.m + 1 AS DOUBLE)) * 0.25e0)
)
SELECT o.station, o.time, o.tas,
       CASE WHEN b.station IS NOT NULL THEN 26.0e0 END AS tas_eraqc
FROM obs o LEFT JOIN bk b ON b.station = o.station AND b.time = o.time
"""


W13_ORACLE = _w13_oracle()


@query("w13_clim_outlier", W13_ORACLE)
def w13_clim_outlier(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    obs = ev.select(
        (F.col("user_id") % 32).cast("string").alias("station"),
        F.col("ts").alias("time"),
        (F.lit(285.0) + F.col("value") / 4).alias("tas"),
    )
    obs = Q.ensure_flag_columns(obs, ["tas"])
    out = D.climatological_outlier_multi(obs, ["tas"], exact_mode=True)
    return out.select("station", "time", "tas", "tas_eraqc")


# --------------------------------------------------------------------
# W13 hash-oracle variant (round-2, VERDICT #3): the clim-outlier MATH
# without the IIR low-pass — winsorized (month, hour) climatology
# (A5), IQR-floored standardization, then the A3+A7 closed-form
# normal-fit threshold: with the reference's 0.25-wide bins the
# histogram area is 0.25·n, so "scaled pdf ≤ 0.1" crosses at
# mu ± sigma·sqrt(−2·ln(0.1·sigma·sqrt(2π)/area)) — no grid snap, no
# gap scan, hence SQL-expressible and hash-exact. Winsorization is the
# rank-clamp (sorted a; a[:k]=a[k]; a[n−k:]=a[n−k−1]; mean) computed
# from decimal-exact sums; std anomalies are rounded to 6 dp on both
# sides before the moment sums so the normal fit sees identical exact
# decimals (qaqc_climatological_outlier.py:33-247, 330-460).
# --------------------------------------------------------------------
W13U_ORACLE = """
WITH o AS (
  SELECT CAST(user_id % 8 AS VARCHAR) AS station, ts AS time,
         285.0 + value / 4 AS tas,
         month(ts) AS mon, hour(ts) AS hh
  FROM events WHERE value IS NOT NULL
), r AS (
  SELECT *, row_number() OVER (
           PARTITION BY station, mon, hh ORDER BY tas) AS rn,
         count(*) OVER (PARTITION BY station, mon, hh) AS n
  FROM o
), k AS (
  SELECT *, CAST(floor(0.05 * n) AS BIGINT) AS kk FROM r
), clim AS (
  SELECT station, mon, hh, any_value(n) AS n, any_value(kk) AS kk,
         CAST(sum(CASE WHEN rn > kk AND rn <= n - kk
                  THEN CAST(tas AS DECIMAL(18,6)) END)
              + any_value(kk)
                * max(CASE WHEN rn = kk + 1
                      THEN CAST(tas AS DECIMAL(18,6)) END)
              + any_value(kk)
                * max(CASE WHEN rn = n - kk
                      THEN CAST(tas AS DECIMAL(18,6)) END)
              AS DOUBLE) / any_value(n) AS clim
  FROM k GROUP BY station, mon, hh
), a AS (
  SELECT o.station, o.time, o.tas, o.mon, o.hh,
         o.tas - c.clim AS anom
  FROM o JOIN clim c USING (station, mon, hh)
), iq AS (
  SELECT station, mon, hh,
         greatest(round(quantile_cont(anom, 0.75)
                        - quantile_cont(anom, 0.25), 6), 1.5) AS denom
  FROM a GROUP BY station, mon, hh
), s AS (
  SELECT a.station, a.time, a.tas, a.mon, a.hh,
         round(a.anom / iq.denom, 6) AS std
  FROM a JOIN iq USING (station, mon, hh)
), mo AS (
  SELECT station, mon, hh, count(*) AS n2,
         CAST(sum(CAST(std AS DECIMAL(18,6))) AS DOUBLE) AS sm,
         CAST(sum(CAST(std AS DECIMAL(18,6))
                  * CAST(std AS DECIMAL(18,6))) AS DOUBLE) AS ssm
  FROM s GROUP BY station, mon, hh
), fit AS (
  SELECT station, mon, hh, n2,
         sm / n2 AS mu,
         sqrt(greatest(ssm / n2 - (sm / n2) * (sm / n2), 0.0)) AS sigma,
         0.25 * n2 AS area
  FROM mo
), b AS (
  SELECT station, mon, hh, n2, mu, sigma,
         CASE WHEN sigma > 0
                   AND 0.1 * sigma * sqrt(2 * pi()) / area < 1
              THEN sigma * sqrt(-2 * ln(0.1 * sigma * sqrt(2 * pi())
                                        / area)) END AS z
  FROM fit
)
SELECT s.station, s.time, s.tas,
       CASE WHEN b.n2 > 5 AND b.z IS NOT NULL
                 AND (s.std < round(b.mu - b.z, 6)
                      OR s.std > round(b.mu + b.z, 6))
            THEN 26.0e0 END AS tas_eraqc
FROM s JOIN b USING (station, mon, hh)
"""


@query("w13_clim_outlier_unfiltered", W13U_ORACLE)
def w13_clim_outlier_unfiltered(spark, sf_dir):
    import math

    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    o = ev.where(F.col("value").isNotNull()).select(
        (F.col("user_id") % 8).cast("string").alias("station"),
        F.col("ts").alias("time"),
        (F.lit(285.0) + F.col("value") / 4).alias("tas"),
        F.month("ts").alias("mon"),
        F.hour("ts").alias("hh"),
    )
    grp = ["station", "mon", "hh"]
    wp = Window.partitionBy(*grp)
    r = o.withColumn(
        "rn", F.row_number().over(wp.orderBy("tas"))
    ).withColumn("n", F.count(F.lit(1)).over(wp))
    r = r.withColumn("kk", F.floor(F.lit(0.05) * F.col("n")))
    dtas = dec("tas", 18, 6)
    clim = r.groupBy(*grp).agg(
        F.any_value("n").alias("n"),
        F.any_value("kk").alias("kk"),
        (
            (
                F.sum(
                    F.when(
                        (F.col("rn") > F.col("kk"))
                        & (F.col("rn") <= F.col("n") - F.col("kk")),
                        dtas,
                    )
                )
                + F.any_value("kk")
                * F.max(F.when(F.col("rn") == F.col("kk") + 1, dtas))
                + F.any_value("kk")
                * F.max(F.when(F.col("rn") == F.col("n") - F.col("kk"), dtas))
            ).cast("double")
            / F.any_value("n")
        ).alias("clim"),
    )
    # ``a`` feeds both the IQR aggregation and the standardized-score
    # join, and ``s`` below feeds both the moment fit and the final
    # row build — each would otherwise re-run the whole
    # window+climatology subtree (plans are trees); one
    # materialization each
    a = o.join(clim.select(*grp, "clim"), grp).withColumn(
        "anom", F.col("tas") - F.col("clim")
    ).localCheckpoint(eager=False)
    iq = a.groupBy(*grp).agg(
        F.greatest(
            F.round(
                F.expr("percentile(anom, 0.75) - percentile(anom, 0.25)"), 6
            ),
            F.lit(1.5),
        ).alias("denom")
    )
    s = a.join(iq, grp).withColumn(
        "std", F.round(F.col("anom") / F.col("denom"), 6)
    ).localCheckpoint(eager=False)
    dstd = dec("std", 18, 6)
    mo = s.groupBy(*grp).agg(
        F.count(F.lit(1)).alias("n2"),
        F.sum(dstd).cast("double").alias("sm"),
        F.sum(dstd * dstd).cast("double").alias("ssm"),
    )
    mu = F.col("sm") / F.col("n2")
    sigma = F.sqrt(
        F.greatest(F.col("ssm") / F.col("n2") - mu * mu, F.lit(0.0))
    )
    area = F.lit(0.25) * F.col("n2")
    arg = F.lit(0.1) * sigma * F.lit(math.sqrt(2 * math.pi)) / area
    b = mo.select(
        *grp,
        F.col("n2"),
        mu.alias("mu"),
        sigma.alias("sigma"),
        F.when(
            (sigma > 0) & (arg < 1),
            sigma * F.sqrt(F.lit(-2.0) * F.log(arg)),
        ).alias("z"),
    )
    out = s.join(b, grp)
    flagged = (
        (F.col("n2") > 5)
        & F.col("z").isNotNull()
        & (
            (F.col("std") < F.round(F.col("mu") - F.col("z"), 6))
            | (F.col("std") > F.round(F.col("mu") + F.col("z"), 6))
        )
    )
    return out.select(
        "station",
        "time",
        "tas",
        F.when(flagged, F.lit(26.0)).alias("tas_eraqc"),
    )


# --------------------------------------------------------------------
# Pressure-units heuristic fix — a station whose mean pressure is
# < 10000 is reporting hPa, not Pa; the whole column is rescaled ×100
# (qaqc_logic_checks.py:376-414). The hPa/Pa means differ by 100× so
# the float-mean comparison has an enormous margin on both engines.
# --------------------------------------------------------------------
PUNITS_ORACLE = """
WITH obs AS (
  SELECT CAST(user_id AS VARCHAR) AS station, ts AS time,
         CASE WHEN user_id % 3 = 0 THEN 900.0 + value / 10
              ELSE 90000.0 + value END AS ps
  FROM events
), m AS (
  SELECT station, AVG(ps) AS mean_ps FROM obs GROUP BY station
)
SELECT o.station, o.time,
       CASE WHEN m.mean_ps < 10000 THEN o.ps * 100.0 ELSE o.ps END AS ps
FROM obs o JOIN m USING (station)
"""


@query("f_pressure_units_fix", PUNITS_ORACLE)
def f_pressure_units_fix(spark, sf_dir):
    obs = _obs(spark, sf_dir).select(
        "station",
        "time",
        F.when(
            F.col("user_id") % 3 == 0, F.lit(900.0) + F.col("value") / 10
        )
        .otherwise(F.lit(90000.0) + F.col("value"))
        .alias("ps"),
    )
    out = Q.station_checks(obs, [Q.pressure_units_fix])
    return out.select("station", "time", "ps")


# --------------------------------------------------------------------
# A6 hourly split-stack + roll-up: comma-joined hourly flag strings
# exploded back to codes (merge_eraqc_counts.py:87-157, split-stack at
# :127-129), counted per station, then rolled up per network and ALL
# (qaqc_generate_flag_rates.py:96-231).
# --------------------------------------------------------------------
A6H_ORACLE = """
WITH obs AS (
  SELECT 'NET' || CAST(user_id % 3 AS VARCHAR) || '_'
           || CAST(user_id AS VARCHAR) AS station,
         CASE WHEN value % 10.0 < 1 THEN '11.0'
              WHEN value % 10.0 < 3 THEN '11.0,23.0'
              WHEN value % 10.0 < 4 THEN '23.0,28.0,11.0'
         END AS fl
  FROM events
), e AS (
  SELECT station,
         CAST(CAST(UNNEST(string_split(fl, ',')) AS DOUBLE) AS INTEGER)
           AS flag
  FROM obs WHERE fl IS NOT NULL
), counts AS (
  SELECT station, 'tas' AS variable, flag, COUNT(*) AS n
  FROM e GROUP BY station, flag
), with_net AS (
  SELECT string_split(station, '_')[1] AS network, variable, flag, n
  FROM counts
)
SELECT network, variable, flag, CAST(SUM(n) AS BIGINT) AS n
FROM with_net GROUP BY network, variable, flag
UNION ALL
SELECT 'ALL' AS network, variable, flag, CAST(SUM(n) AS BIGINT) AS n
FROM with_net GROUP BY variable, flag
"""


@query("a6_hourly_flag_rollup", A6H_ORACLE)
def a6_hourly_flag_rollup(spark, sf_dir):
    from ..plans.merge import flag_counts, network_flag_rates

    obs = _obs(spark, sf_dir).select(
        F.concat(
            F.lit("NET"),
            (F.col("user_id") % 3).cast("string"),
            F.lit("_"),
            F.col("user_id").cast("string"),
        ).alias("station"),
        F.when(F.col("value") % 10.0 < 1, F.lit("11.0"))
        .when(F.col("value") % 10.0 < 3, F.lit("11.0,23.0"))
        .when(F.col("value") % 10.0 < 4, F.lit("23.0,28.0,11.0"))
        .alias("tas_eraqc"),
    )
    counts = flag_counts(obs)
    return network_flag_rates(counts).select(
        "network", "variable", "flag", "n"
    )


# --------------------------------------------------------------------
# J11 (round-2, VERDICT #8): HOMR-style station-metadata enrichment
# (homr_metadata.py) — a per-station metadata table (multiple records
# per station, a preference rank) is reduced to its best record,
# broadcast, and coalesce-backfills missing station attributes;
# enrichment never overwrites observed values.
# --------------------------------------------------------------------
J11_ORACLE = """
WITH md AS (
  SELECT CAST(c_custkey % 40 AS VARCHAR) AS station,
         c_custkey % 3 AS pref_rank, c_name AS station_name,
         CAST(c_custkey % 90 AS DOUBLE) AS lat
  FROM customer
), best AS (
  SELECT station, station_name, lat AS lat_m FROM (
    SELECT *, row_number() OVER (PARTITION BY station
        ORDER BY pref_rank, station_name, lat) AS rk
    FROM md) WHERE rk = 1
), o AS (
  SELECT CAST(user_id % 40 AS VARCHAR) AS station, ts AS time,
         CASE WHEN user_id % 3 = 0 THEN NULL
              ELSE CAST(user_id % 90 AS DOUBLE) + 0.25 END AS lat
  FROM events
)
SELECT o.station, o.time,
       coalesce(o.lat, b.lat_m) AS lat,
       b.station_name
FROM o LEFT JOIN best b USING (station)
"""


@query("j11_homr_enrich", J11_ORACLE)
def j11_homr_enrich(spark, sf_dir):
    from ..operators.concat import metadata_backfill

    ev = table(spark, sf_dir, "events")
    obs = ev.select(
        (F.col("user_id") % 40).cast("string").alias("station"),
        F.col("ts").alias("time"),
        F.when(
            F.col("user_id") % 3 == 0, F.lit(None).cast("double")
        )
        .otherwise((F.col("user_id") % 90).cast("double") + 0.25)
        .alias("lat"),
    )
    cust = table(spark, sf_dir, "customer")
    metadata = cust.select(
        (F.col("c_custkey") % 40).cast("string").alias("station"),
        (F.col("c_custkey") % 3).alias("pref_rank"),
        F.col("c_name").alias("station_name"),
        (F.col("c_custkey") % 90).cast("double").alias("lat"),
    )
    out = metadata_backfill(
        obs,
        metadata,
        rank_col="pref_rank",
        backfill=["lat"],
        carry=["station_name"],
    )
    return out.select("station", "time", "lat", "station_name")
