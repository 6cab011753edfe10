"""Full-pipeline throughput query: events mapped to pseudo-
observations, run through the structural/logic QA/QC chain and the
merge stage in one job — the driver's bench gets an end-to-end
pipeline number, not just per-operator numbers.

Exact DuckDB oracle (round-2): the battery that the parameterization
``run_qaqc(with_distribution=False, spike_vars=("tas",),
streak_vars=("tas",))`` actually executes is restated below in SQL.
On this input mapping several checks are provably no-op and the
restatement documents why instead of re-deriving them:

- station gates / elevation consistency: lat/lon/elevation are
  non-null constants (40, -120, 100) — no station rejected, a single
  distinct elevation never flags 36;
- pressure fix / de-accumulation: no pressure or ``accum_pr`` column;
- supersaturation + wet-bulb streak: tdps = tas − 5 identically, so
  tdps > tas and tas − tdps = 0 are both unsatisfiable;
- negative precip + world-record on pr: pr = pmod(value, 30) ∈ [0, 30);
- precip ordering: only one precip variant present — no pairs;
- world-record on sfcWind / sfcWind_dir / elevation: ranges
  [0, 24] / [0, 360] / {100} sit inside their limit tables.

What remains — and IS in the hash — is world-record on tas/tdps,
calm-wind 14/15, the resolution-tiered consecutive-streak check
(flag 28, including the per-station value-resolution inference), the
1–3-point spike check with per-(station, month) 6×IQR criticals
(flag 23), their valid-mask precedence, the hourly grid, and the
flag accounting.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..artifacts import shared
from ..plans.merge import flag_counts, hourly_standardize
from ..plans.qaqc_chain import run_qaqc
from ..registry import query
from .common import table

_CHAIN_FIN_CTES = """o AS (
  SELECT CAST(user_id AS VARCHAR) AS station, ts AS time,
         200.0 + value / 2 AS tas,
         195.0 + value / 2 AS tdps,
         CAST(CAST(floor(value) AS BIGINT) % 25 AS DOUBLE) AS wind,
         CAST(CAST(floor(value * 7) AS BIGINT) % 361 AS DOUBLE) AS dir
  FROM events
), f1 AS (
  -- world-record flag 11 (tas/tdps) + calm-wind flags 14/15
  SELECT *,
         CASE WHEN tas < 210.15 OR tas > 329.92 THEN 11.0 END AS tas_f0,
         CASE WHEN tdps < 173.15 OR tdps > 329.85 THEN 11.0 END AS tdps_f,
         CASE WHEN wind = 0 AND dir <> 0 THEN 14.0
              WHEN wind <> 0 AND dir = 0 THEN 15.0 END AS dir_f
  FROM o
), dv AS (  -- A12-style per-station value-resolution inference on tas
  SELECT DISTINCT station, tas FROM o WHERE tas IS NOT NULL
), dd AS (
  SELECT station,
         round(tas - lag(tas) OVER (PARTITION BY station ORDER BY tas),
               3) AS d
  FROM dv
), dc AS (
  SELECT station, d, count(*) AS n FROM dd WHERE d > 0 GROUP BY 1, 2
), res AS (
  SELECT station,
         CASE WHEN d >= 1.0 THEN 1.0
              WHEN d >= 0.5 THEN 0.5 ELSE 0.1 END AS tier
  FROM (SELECT station, d, row_number() OVER (
            PARTITION BY station ORDER BY n DESC, d ASC) AS rk
        FROM dc)
  WHERE rk = 1
), thr AS (
  SELECT station,
         CASE WHEN tier = 1.0 THEN 40
              WHEN tier = 0.5 THEN 30 ELSE 24 END AS max_count,
         CASE WHEN tier = 1.0 THEN 14.0
              WHEN tier = 0.5 THEN 10.0 ELSE 7.0 END AS max_days
  FROM res
), sr1 AS (  -- consecutive-streak runs (flag 28)
  SELECT f1.*, coalesce(thr.max_count, 20) AS max_count,
         coalesce(thr.max_days, 2.0) AS max_days,
         CASE WHEN tas IS NOT DISTINCT FROM lag(tas) OVER w
              THEN 0 ELSE 1 END AS c
  FROM f1 LEFT JOIN thr USING (station)
  WINDOW w AS (PARTITION BY station ORDER BY time)
), sr2 AS (
  SELECT *, sum(c) OVER (PARTITION BY station ORDER BY time
                         ROWS UNBOUNDED PRECEDING) AS run
  FROM sr1
), sr3 AS (
  SELECT *, count(*) OVER r AS run_len,
         (FLOOR(epoch(max(time) OVER r))
          - FLOOR(epoch(min(time) OVER r))) / 86400.0 AS run_days
  FROM sr2 WINDOW r AS (PARTITION BY station, run)
), f2 AS (
  SELECT *, CASE WHEN tas_f0 IS NULL AND tas IS NOT NULL
                      AND (run_len > max_count
                           OR (run_days > max_days AND run_len > 1))
                 THEN 28.0 ELSE tas_f0 END AS tas_f1
  FROM sr3
), sp0 AS (  -- spike check (flag 23): per-(station, month) criticals
  SELECT *, tas - lag(tas) OVER w AS d_diff,
         date_trunc('month', time) AS mon,
         FLOOR(epoch(time)) AS t_sec
  FROM f2 WINDOW w AS (PARTITION BY station ORDER BY time)
), critt AS (
  SELECT station, mon,
         CAST(ceil(6.0 * (quantile_cont(d_diff, 0.75)
                          - quantile_cont(d_diff, 0.25)))
              AS DOUBLE) AS crit
  FROM sp0 WHERE d_diff IS NOT NULL
  GROUP BY 1, 2 HAVING count(*) > 50
), spw AS (
  SELECT sp0.*, critt.crit,
         tas - lag(tas) OVER w AS d0,
         lead(tas, 1) OVER w - tas AS dv1,
         lead(tas, 2) OVER w - lead(tas, 1) OVER w AS dv2,
         lead(tas, 3) OVER w - lead(tas, 2) OVER w AS dv3,
         t_sec - lag(t_sec) OVER w AS g0,
         lead(t_sec, 1) OVER w - t_sec AS g1,
         lead(t_sec, 2) OVER w - lead(t_sec, 1) OVER w AS g2,
         lead(t_sec, 3) OVER w - lead(t_sec, 2) OVER w AS g3
  FROM sp0 LEFT JOIN critt USING (station, mon)
  WINDOW w AS (PARTITION BY station ORDER BY time)
), sps AS (  -- 1/2/3-point excursion start conditions
  SELECT *,
         coalesce(abs(d0) > crit AND g0 <= 43200
                  AND abs(dv1) > crit AND ((d0 > 0) <> (dv1 > 0))
                  AND g1 <= 43200, FALSE) AS sp1,
         coalesce(abs(d0) > crit AND g0 <= 43200
                  AND abs(dv1) <= crit / 2 AND g1 <= 43200
                  AND abs(dv2) > crit AND ((d0 > 0) <> (dv2 > 0))
                  AND g2 <= 43200, FALSE) AS sp2,
         coalesce(abs(d0) > crit AND g0 <= 43200
                  AND abs(dv1) <= crit / 2 AND g1 <= 43200
                  AND abs(dv2) <= crit / 2 AND g2 <= 43200
                  AND abs(dv3) > crit AND ((d0 > 0) <> (dv3 > 0))
                  AND g3 <= 43200, FALSE) AS sp3
  FROM spw
), spf AS (
  SELECT *,
         (sp1 OR sp2 OR coalesce(lag(sp2, 1) OVER w, FALSE)
              OR sp3 OR coalesce(lag(sp3, 1) OVER w, FALSE)
              OR coalesce(lag(sp3, 2) OVER w, FALSE)) AS spike
  FROM sps WINDOW w AS (PARTITION BY station ORDER BY time)
), fin AS (
  SELECT station, time,
         CASE WHEN tas_f1 IS NULL AND spike AND crit IS NOT NULL
              THEN 23.0 ELSE tas_f1 END AS tas_f,
         tdps_f, dir_f
  FROM spf
)
"""

CHAIN_QAQC_ORACLE = f"""
WITH {_CHAIN_FIN_CTES}, nf AS (  -- flag accounting (A6 roll-up)
  SELECT station,
         CAST(sum(CASE WHEN tas_f IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN tdps_f IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN dir_f IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_flags
  FROM fin GROUP BY station
), hrs AS (  -- hourly grid + infill accounting (W11/W12)
  SELECT station, date_trunc('hour', time) AS h, count(*) AS n
  FROM o GROUP BY 1, 2
), grid AS (
  SELECT station,
         unnest(generate_series(date_trunc('hour', min(time)),
                                date_trunc('hour', max(time)),
                                INTERVAL 1 HOUR)) AS h
  FROM o GROUP BY station
), gh AS (
  SELECT g.station,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(count(*) FILTER (WHERE hrs.n IS NULL) AS BIGINT)
           AS n_infilled
  FROM grid g LEFT JOIN hrs ON g.station = hrs.station AND g.h = hrs.h
  GROUP BY g.station
)
SELECT gh.station, gh.n_hours, gh.n_infilled,
       CAST(coalesce(nf.n_flags, 0) AS BIGINT) AS n_flags
FROM gh LEFT JOIN nf ON gh.station = nf.station
"""


# Flagged-chain output shared between chain_qaqc_merge_events and the
# flag-rates report (both consume the identical run_qaqc result, and
# a registry sweep runs every query in one session).
@shared
def _chain_flagged(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    obs = ev.select(
        F.col("user_id").cast("string").alias("station"),
        F.col("ts").alias("time"),
        F.lit(40.0).alias("lat"),
        F.lit(-120.0).alias("lon"),
        F.lit(100.0).alias("elevation"),
        (F.lit(200.0) + F.col("value") / 2).alias("tas"),
        (F.lit(195.0) + F.col("value") / 2).alias("tdps"),
        F.pmod(F.col("value"), F.lit(30.0)).alias("pr"),
        (F.floor(F.col("value")) % 25).cast("double").alias("sfcWind"),
        (F.floor(F.col("value") * 7) % 361).cast("double").alias(
            "sfcWind_dir"
        ),
    )
    # 30-day records: distribution tests are gated off by design
    # (record-length bypass would yellow-flag everything anyway)
    return run_qaqc(
        obs,
        with_distribution=False,
        spike_vars=("tas",),
        streak_vars=("tas",),
    )


@query("chain_qaqc_merge_events", CHAIN_QAQC_ORACLE)
def chain_qaqc_merge_events(spark, sf_dir):
    flagged = _chain_flagged(spark, sf_dir)
    hourly = hourly_standardize(flagged)
    counts = flag_counts(flagged)
    return (
        hourly.groupBy("station")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum(
                F.when(F.col("standardized_infill") == "y", 1).otherwise(0)
            ).alias("n_infilled"),
        )
        .join(
            counts.groupBy("station").agg(F.sum("n").alias("n_flags")),
            "station",
            "left",
        )
        .select(
            "station",
            "n_hours",
            "n_infilled",
            F.coalesce(F.col("n_flags"), F.lit(0)).alias("n_flags"),
        )
    )


# --------------------------------------------------------------------
# The SURVEY.md §7 "minimum end-to-end slice", exact-oracle edition:
# sentinel normalization (P2) → world-record check (L6) →
# supersaturation (L1) → negative precip (L3) → one-pass hourly
# standardization with grid infill (W11/W12) — every layer of the
# engine in one DAG, hash-compared against a DuckDB restatement.
# Check order follows the reference pipeline (QAQC_pipeline.py:579-
# 965: world-record before logic checks), so a negative precip value
# draws flag 11 (world-record floor 0.0), never reaching L3 — same
# precedence as the reference; flag 10 is exercised standalone in
# l3_negative_precip.
#
# The hourly firsts are row_number()-style (value at earliest stamp,
# even if null) — matching Spark's min_by null semantics — and the
# precip hour-sum is decimal so partial-aggregation order can't
# change the hash. Infilled hours carry NULL flags; observed hours
# with no flags carry '' (the engine's array_join of an empty set) —
# the distinction is part of the contract.
# --------------------------------------------------------------------
_MS_TAS = (
    "CASE WHEN event_id % 101 = 0 THEN -9999.0 "
    "WHEN event_id % 211 = 0 THEN 340.0 "
    "ELSE 270.0 + value % 30.0 END"
)
_MS_TDPS = (
    "CASE WHEN event_id % 13 = 0 THEN 271.0 + value % 30.0 "
    "ELSE 268.0 + value % 30.0 END"
)
_MS_PR = (
    "CAST(CASE WHEN event_id % 17 = 0 THEN -1.0 "
    "ELSE value % 3.0 END AS DECIMAL(18,2))"
)

MIN_SLICE_ORACLE = f"""
WITH o AS (
  SELECT CAST(user_id % 25 AS VARCHAR) AS station, ts AS time,
         CASE WHEN event_id % 101 = 0 THEN NULL
              WHEN event_id % 211 = 0 THEN 340.0
              ELSE 270.0 + value % 30.0 END AS tas,
         {_MS_TDPS} AS tdps,
         {_MS_PR} AS pr
  FROM events
), fl AS (
  SELECT *,
         CASE WHEN tas < 210.15 OR tas > 329.92 THEN 11.0 END AS tas_f,
         CASE WHEN pr < 0 OR pr > 656 THEN 11.0 END AS pr_f,
         CASE WHEN NOT (tas < 210.15 OR tas > 329.92)
                   AND tdps > tas THEN 12.0 END AS tdps_f
  FROM o
), rn AS (
  SELECT *, row_number() OVER (
           PARTITION BY station, date_trunc('hour', time)
           ORDER BY time) AS rnk
  FROM fl
), hourly AS (
  SELECT station, date_trunc('hour', time) AS time,
         max(CASE WHEN rnk = 1 THEN tas END) AS tas,
         max(CASE WHEN rnk = 1 THEN tdps END) AS tdps,
         CAST(CASE WHEN count(pr) = 0 THEN NULL ELSE sum(pr) END
              AS DOUBLE) AS pr,
         coalesce(array_to_string(list_sort(list_distinct(
             list(CAST(CAST(tas_f AS INT) AS VARCHAR))
               FILTER (WHERE tas_f IS NOT NULL))), ','), '') AS tas_eraqc,
         coalesce(array_to_string(list_sort(list_distinct(
             list(CAST(CAST(tdps_f AS INT) AS VARCHAR))
               FILTER (WHERE tdps_f IS NOT NULL))), ','), '') AS tdps_eraqc,
         coalesce(array_to_string(list_sort(list_distinct(
             list(CAST(CAST(pr_f AS INT) AS VARCHAR))
               FILTER (WHERE pr_f IS NOT NULL))), ','), '') AS pr_eraqc,
         count(*) AS n_source_obs
  FROM rn GROUP BY 1, 2
), grid AS (
  SELECT station,
         unnest(generate_series(date_trunc('hour', min(time)),
                                date_trunc('hour', max(time)),
                                INTERVAL 1 HOUR)) AS time
  FROM o GROUP BY station
)
SELECT g.station, g.time, h.tas, h.tdps, h.pr,
       h.tas_eraqc, h.tdps_eraqc, h.pr_eraqc, h.n_source_obs,
       CASE WHEN h.n_source_obs IS NULL THEN 'y' ELSE 'n' END
         AS standardized_infill
FROM grid g LEFT JOIN hourly h
  ON g.station = h.station AND g.time = h.time
"""


@query("chain_min_slice_hourly", MIN_SLICE_ORACLE)
def chain_min_slice_hourly(spark, sf_dir):
    from ..operators import qaqc as Q

    ev = table(spark, sf_dir, "events")
    obs = ev.select(
        (F.col("user_id") % 25).cast("string").alias("station"),
        F.col("ts").alias("time"),
        F.expr(_MS_TAS).alias("tas"),
        F.expr(_MS_TDPS).alias("tdps"),
        F.expr(_MS_PR).alias("pr"),
    )
    obs = Q.normalize_sentinels(obs, {"tas": ["-9999.0"]})
    obs = Q.ensure_flag_columns(obs, ["tas", "tdps", "pr"])
    obs = Q.world_record_check(obs)
    obs = Q.supersaturation_check(obs)
    obs = Q.negative_precip_check(obs)
    hourly = hourly_standardize(obs)
    return hourly.select(
        "station",
        "time",
        "tas",
        "tdps",
        F.col("pr").cast("double").alias("pr"),
        "tas_eraqc",
        "tdps_eraqc",
        "pr_eraqc",
        "n_source_obs",
        "standardized_infill",
    )


# --------------------------------------------------------------------
# Logic-check chain, exact-oracle edition #2: the full L-family pass in
# reference order — world-record (L6) → supersaturation (L1, no-op by
# construction) → wetbulb dewpoint-depression run (L2, sessionization
# with the valid-mask run-splitting semantics: a world-record flag
# BREAKS a run) → negative precip (L3, shadowed by L6's floor) →
# precip ordering (L4, single variant present ⇒ no-op) → calm-wind
# (L5 — the one check that REWRITES data: dir 0 under nonzero wind
# becomes 360 with flag 15, and the rewritten value flows into the
# hourly firsts) → one-pass hourly standardization with grid infill.
# Every precedence interaction is part of the DuckDB hash.
# --------------------------------------------------------------------
_CL_TAS = (
    "CASE WHEN event_id % 211 = 0 THEN 340.0 "
    "ELSE 270.0 + value % 30.0 END"
)
_CL_TDPS = (
    f"CASE WHEN day(ts) % 7 < 2 THEN ({_CL_TAS}) "
    "ELSE 268.0 + value % 30.0 END"
)
_CL_PR = (
    "CAST(CASE WHEN event_id % 17 = 0 THEN -1.0 "
    "ELSE value % 3.0 END AS DECIMAL(18,2))"
)
_CL_WIND = "CAST(CAST(floor(value) AS BIGINT) % 25 AS DOUBLE)"
_CL_DIR = "CAST(CAST(floor(value * 7) AS BIGINT) % 361 AS DOUBLE)"


def _flag_join(var_f: str) -> str:
    return (
        "coalesce(array_to_string(list_sort(list_distinct("
        f"list(CAST(CAST({var_f} AS INT) AS VARCHAR))"
        f" FILTER (WHERE {var_f} IS NOT NULL))), ','), '')"
    )


CHAIN_LOGIC_ORACLE = f"""
WITH o AS (
  SELECT CAST(user_id % 20 AS VARCHAR) AS station, ts AS time,
         {_CL_TAS} AS tas, {_CL_TDPS} AS tdps, {_CL_PR} AS pr,
         {_CL_WIND} AS sfcWind, {_CL_DIR} AS dir0
  FROM events
), f1 AS (
  SELECT *,
         CASE WHEN tas < 210.15 OR tas > 329.92 THEN 11.0 END AS tas_f,
         CASE WHEN tdps < 173.15 OR tdps > 329.85 THEN 11.0 END AS tdps_f0,
         CASE WHEN pr < 0 OR pr > 656 THEN 11.0 END AS pr_f,
         CAST(NULL AS DOUBLE) AS wind_f
  FROM o
), wb1 AS (
  SELECT *,
         CASE WHEN tas_f IS NULL AND tdps_f0 IS NULL AND tas - tdps = 0
              THEN 1 ELSE 0 END AS pred
  FROM f1
), wb2 AS (
  SELECT *, lag(pred) OVER (PARTITION BY station ORDER BY time) AS prevp
  FROM wb1
), wb3 AS (
  SELECT *, SUM(CASE WHEN prevp IS NULL OR pred <> prevp THEN 1 ELSE 0 END)
           OVER (PARTITION BY station ORDER BY time
                 ROWS UNBOUNDED PRECEDING) AS run
  FROM wb2
), wb4 AS (
  SELECT *,
         FLOOR(epoch(MAX(time) OVER w)) - FLOOR(epoch(MIN(time) OVER w))
           AS span
  FROM wb3 WINDOW w AS (PARTITION BY station, run)
), f2 AS (
  SELECT *, CASE WHEN pred = 1 AND span >= 86400 THEN 13.0
                 ELSE tdps_f0 END AS tdps_f
  FROM wb4
), f3 AS (
  SELECT *,
         CASE WHEN sfcWind = 0 AND dir0 <> 0 THEN 14.0
              WHEN sfcWind <> 0 AND dir0 = 0 THEN 15.0 END AS dir_f,
         CASE WHEN sfcWind <> 0 AND dir0 = 0 THEN 360.0
              ELSE dir0 END AS sfcWind_dir
  FROM f2
), rn AS (
  SELECT *, row_number() OVER (
           PARTITION BY station, date_trunc('hour', time)
           ORDER BY time) AS rnk
  FROM f3
), hourly AS (
  SELECT station, date_trunc('hour', time) AS time,
         max(CASE WHEN rnk = 1 THEN tas END) AS tas,
         max(CASE WHEN rnk = 1 THEN tdps END) AS tdps,
         CAST(CASE WHEN count(pr) = 0 THEN NULL ELSE sum(pr) END
              AS DOUBLE) AS pr,
         max(CASE WHEN rnk = 1 THEN sfcWind END) AS sfcWind,
         max(CASE WHEN rnk = 1 THEN sfcWind_dir END) AS sfcWind_dir,
         {_flag_join('tas_f')} AS tas_eraqc,
         {_flag_join('tdps_f')} AS tdps_eraqc,
         {_flag_join('pr_f')} AS pr_eraqc,
         {_flag_join('wind_f')} AS sfcWind_eraqc,
         {_flag_join('dir_f')} AS sfcWind_dir_eraqc,
         count(*) AS n_source_obs
  FROM rn GROUP BY 1, 2
), grid AS (
  SELECT station,
         unnest(generate_series(date_trunc('hour', min(time)),
                                date_trunc('hour', max(time)),
                                INTERVAL 1 HOUR)) AS time
  FROM o GROUP BY station
)
SELECT g.station, g.time, h.tas, h.tdps, h.pr, h.sfcWind, h.sfcWind_dir,
       h.tas_eraqc, h.tdps_eraqc, h.pr_eraqc, h.sfcWind_eraqc,
       h.sfcWind_dir_eraqc, h.n_source_obs,
       CASE WHEN h.n_source_obs IS NULL THEN 'y' ELSE 'n' END
         AS standardized_infill
FROM grid g LEFT JOIN hourly h
  ON g.station = h.station AND g.time = h.time
"""


# Hourly chain output shared between chain_logic_hourly and the
# hourly flag-rates report.
@shared
def _logic_hourly(spark, sf_dir):
    return _build_logic_hourly(spark, sf_dir).localCheckpoint(eager=False)


@query("chain_logic_hourly", CHAIN_LOGIC_ORACLE)
def chain_logic_hourly(spark, sf_dir):
    return _logic_hourly(spark, sf_dir)


def _build_logic_hourly(spark, sf_dir):
    from ..operators import qaqc as Q

    ev = table(spark, sf_dir, "events")
    obs = ev.select(
        (F.col("user_id") % 20).cast("string").alias("station"),
        F.col("ts").alias("time"),
        F.expr(_CL_TAS).alias("tas"),
        F.expr(_CL_TDPS).alias("tdps"),
        F.expr(_CL_PR).alias("pr"),
        F.expr(_CL_WIND).alias("sfcWind"),
        F.expr(_CL_DIR).alias("sfcWind_dir"),
    )
    obs = Q.ensure_flag_columns(
        obs, ["tas", "tdps", "pr", "sfcWind", "sfcWind_dir"]
    )
    obs = Q.world_record_check(obs)
    obs = Q.supersaturation_check(obs)
    obs = Q.wetbulb_streak_check(obs)
    obs = Q.negative_precip_check(obs)
    obs = Q.precip_accum_ordering_check(obs)
    obs = Q.calm_wind_dir_check(obs)
    hourly = hourly_standardize(obs)
    return hourly.select(
        "station",
        "time",
        "tas",
        "tdps",
        F.col("pr").cast("double").alias("pr"),
        "sfcWind",
        "sfcWind_dir",
        "tas_eraqc",
        "tdps_eraqc",
        "pr_eraqc",
        "sfcWind_eraqc",
        "sfcWind_dir_eraqc",
        "n_source_obs",
        "standardized_infill",
    )


# --------------------------------------------------------------------
# The reference's QAQC success-report core number — per-station,
# per-variable flag rates at the native timestep
# (qaqc_generate_flag_rates.py:46-94 `_pairwise_rate`: total_flag /
# total_obs_count, where total_obs_count is the station's row count).
# The reference builds this table in a ~37-minute single process
# folding per-station CSVs (BASELINE.md); here it is one aggregation
# over the already-flagged table — a single shuffle on station, with
# the per-variable counts computed map-side.
# --------------------------------------------------------------------
_RATE_VARS = ["tas", "tdps", "pr", "sfcWind", "sfcWind_dir"]

REPORT_RATES_ORACLE = f"""
WITH {_CHAIN_FIN_CTES},
agg AS (
  SELECT station,
         CAST(count(*) AS BIGINT) AS total_obs_count,
         CAST(count(tas_f) AS BIGINT) AS n_tas,
         CAST(count(tdps_f) AS BIGINT) AS n_tdps,
         CAST(count(dir_f) AS BIGINT) AS n_dir
  FROM fin GROUP BY station
)
SELECT station, 'tas' AS variable,
       CAST(n_tas AS DOUBLE) / total_obs_count AS flag_rate,
       total_obs_count FROM agg
UNION ALL
SELECT station, 'tdps', CAST(n_tdps AS DOUBLE) / total_obs_count,
       total_obs_count FROM agg
UNION ALL
SELECT station, 'pr', 0.0, total_obs_count FROM agg
UNION ALL
SELECT station, 'sfcWind', 0.0, total_obs_count FROM agg
UNION ALL
SELECT station, 'sfcWind_dir', CAST(n_dir AS DOUBLE) / total_obs_count,
       total_obs_count FROM agg
"""


@query("report_flag_rates", REPORT_RATES_ORACLE)
def report_flag_rates(spark, sf_dir):
    """Per-(station, variable) flag rates over the full chain output.

    Reference: qaqc_generate_flag_rates.py:46-94 (station rates table,
    native timestep). One groupBy(station) computes the row total and
    every per-variable flagged count in a single pass; the long format
    is unpivoted from that one aggregate row, so the whole report is
    one shuffle regardless of variable count.
    """
    from ..operators.qaqc import eraqc

    flagged = _chain_flagged(spark, sf_dir)
    agg = flagged.groupBy("station").agg(
        F.count(F.lit(1)).alias("total_obs_count"),
        *[F.count(eraqc(v)).alias(f"__n_{v}") for v in _RATE_VARS],
    )
    stack = ", ".join(f"'{v}', __n_{v}" for v in _RATE_VARS)
    return agg.selectExpr(
        "station",
        f"stack({len(_RATE_VARS)}, {stack}) AS (variable, n)",
        "total_obs_count",
    ).select(
        "station",
        "variable",
        (F.col("n") / F.col("total_obs_count")).alias("flag_rate"),
        "total_obs_count",
    )


# --------------------------------------------------------------------
# Hourly-timestep flag rates — the second half of the reference's
# report pair (qaqc_generate_flag_rates.py:96-231 generates both
# native and hourly tables; hourly counts come from
# merge_eraqc_counts.eraqc_counts_hourly_timestep, where a cell is
# "flagged" when its comma-joined hourly flag string is non-empty and
# total_obs_count is the station's full hourly-grid row count,
# infilled stamps included).
# --------------------------------------------------------------------
REPORT_HOURLY_ORACLE = f"""
WITH hh AS ({CHAIN_LOGIC_ORACLE}),
agg AS (
  SELECT station,
         CAST(count(*) AS BIGINT) AS total_obs_count,
         CAST(count(*) FILTER (WHERE tas_eraqc <> '') AS BIGINT) AS n_tas,
         CAST(count(*) FILTER (WHERE tdps_eraqc <> '') AS BIGINT) AS n_tdps,
         CAST(count(*) FILTER (WHERE pr_eraqc <> '') AS BIGINT) AS n_pr,
         CAST(count(*) FILTER (WHERE sfcWind_eraqc <> '') AS BIGINT)
           AS n_sfcWind,
         CAST(count(*) FILTER (WHERE sfcWind_dir_eraqc <> '') AS BIGINT)
           AS n_sfcWind_dir
  FROM hh GROUP BY station
)
SELECT station, 'tas' AS variable,
       CAST(n_tas AS DOUBLE) / total_obs_count AS flag_rate,
       total_obs_count FROM agg
UNION ALL
SELECT station, 'tdps', CAST(n_tdps AS DOUBLE) / total_obs_count,
       total_obs_count FROM agg
UNION ALL
SELECT station, 'pr', CAST(n_pr AS DOUBLE) / total_obs_count,
       total_obs_count FROM agg
UNION ALL
SELECT station, 'sfcWind', CAST(n_sfcWind AS DOUBLE) / total_obs_count,
       total_obs_count FROM agg
UNION ALL
SELECT station, 'sfcWind_dir',
       CAST(n_sfcWind_dir AS DOUBLE) / total_obs_count,
       total_obs_count FROM agg
"""


@query("report_flag_rates_hourly", REPORT_HOURLY_ORACLE)
def report_flag_rates_hourly(spark, sf_dir):
    """Per-(station, variable) flag rates at the hourly timestep.

    Same one-shuffle shape as ``report_flag_rates``: a single
    groupBy(station) over the (memoized) hourly-standardized logic
    battery computes the grid total and every per-variable non-empty
    flag-string count map-side; the long format is a stack unpivot.
    """
    hourly = _logic_hourly(spark, sf_dir)
    agg = hourly.groupBy("station").agg(
        F.count(F.lit(1)).alias("total_obs_count"),
        *[
            F.count(F.when(F.col(f"{v}_eraqc") != "", 1)).alias(f"__n_{v}")
            for v in _RATE_VARS
        ],
    )
    stack = ", ".join(f"'{v}', __n_{v}" for v in _RATE_VARS)
    return agg.selectExpr(
        "station",
        f"stack({len(_RATE_VARS)}, {stack}) AS (variable, n)",
        "total_obs_count",
    ).select(
        "station",
        "variable",
        (F.col("n") / F.col("total_obs_count")).alias("flag_rate"),
        "total_obs_count",
    )


# --------------------------------------------------------------------
# The reference's station-coverage report data layer
# (notebooks/plot_station_coverage.ipynb, scripts/misc/
# station_coverage_figure.py render per-station temporal coverage):
# for each (station, calendar month), how many of the month's hours
# carry at least one observation. Coverage is integer fixed-point
# (ppm, floor division on non-negative counts) so both engines hash
# identically; the month key is an ISO string per the repo's
# no-DATE-columns determinism rule. One shuffle on (station, month);
# at 100 TB the distinct-hour count is a partial aggregate on the
# same key, so the report stays one exchange regardless of record
# length.
# --------------------------------------------------------------------
COVERAGE_ORACLE = """
WITH o AS (
  SELECT CAST(user_id AS VARCHAR) AS station, ts FROM events
),
agg AS (
  SELECT station,
         strftime(ts, '%Y-%m') AS month,
         CAST(count(*) AS BIGINT) AS n_obs,
         CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT)
           AS n_hours,
         min(ts) AS __any
  FROM o GROUP BY 1, 2
)
SELECT station, month, n_obs, n_hours,
       CAST(24 * date_diff('day', date_trunc('month', __any),
            date_trunc('month', __any) + INTERVAL 1 MONTH) AS BIGINT)
         AS expected_hours,
       CAST((n_hours * 1000000) // (24 * date_diff('day',
            date_trunc('month', __any),
            date_trunc('month', __any) + INTERVAL 1 MONTH)) AS BIGINT)
         AS coverage_ppm
FROM agg
"""


@query("report_station_coverage", COVERAGE_ORACLE)
def report_station_coverage(spark, sf_dir):
    """Per-(station, month) temporal coverage: hours with >=1 obs vs
    the month's calendar hours, as integer ppm.

    Reference: notebooks/plot_station_coverage.ipynb and
    scripts/misc/station_coverage_figure.py plot station coverage;
    this is the table those figures consume. Plan: one groupBy on
    (station, month) computes the row count, the distinct-hour count
    (map-side partial agg on the same key), and min(ts) — from which
    the month's day count is derived exactly on both engines
    (datediff to the next month start). coverage_ppm uses integer
    floor division on non-negative counts, which Spark DIV and DuckDB
    // compute identically.
    """
    ev = table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("station"), "ts"
    )
    agg = ev.groupBy(
        "station", F.date_format("ts", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.countDistinct(F.date_trunc("hour", F.col("ts")))
        .cast("long")
        .alias("n_hours"),
        F.min("ts").alias("__any"),
    )
    month_start = F.date_trunc("month", F.col("__any"))
    days = F.datediff(F.add_months(month_start, 1), month_start.cast("date"))
    return agg.select(
        "station",
        "month",
        "n_obs",
        "n_hours",
        (F.lit(24) * days).cast("long").alias("expected_hours"),
        F.floor(
            (F.col("n_hours") * F.lit(1000000)) / (F.lit(24) * days)
        )
        .cast("long")
        .alias("coverage_ppm"),
    )
