"""Driver-facing scale-path operators: batch interval join, grid
quantile sketch, frame sampling, cascaded rollup maintenance.

Each query pairs a 100 TB-shaped plan (equi-join decomposition,
fixed-memory sketch, partial-aggregate reuse) with an exact DuckDB
oracle that computes the same result the straightforward way — the
hash-match proves the scale-path rewrite is semantics-preserving.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import multimodal as MM
from ..operators import rangejoin as RJ
from ..operators import sketches as SK
from ..registry import query
from .common import dec, table

# --------------------------------------------------------------------
# J10: batch interval join — clicks joined to same-user views within
# a 2 h half-open window, via the bucketed equi-join decomposition
# (operators/rangejoin.py). The oracle states the range predicate
# directly; the Spark plan contains no nested-loop/cartesian join
# (asserted in tests/test_scaleops.py).
# --------------------------------------------------------------------
_W_US = 2 * 3600 * 1_000_000

J10_ORACLE = f"""
WITH c AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'click'),
     v AS (SELECT user_id, ts AS vts FROM events
           WHERE event_type = 'view')
SELECT c.event_id AS click_id,
       count(*) AS n_views,
       min(epoch_us(v.vts) - epoch_us(c.ts)) AS min_delta_us
FROM c JOIN v
  ON c.user_id = v.user_id
 AND epoch_us(v.vts) >= epoch_us(c.ts)
 AND epoch_us(v.vts) < epoch_us(c.ts) + {_W_US}
GROUP BY c.event_id
"""


@query("j10_interval_join", J10_ORACLE)
def j10_interval_join(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts")
    )
    j = RJ.bucketed_interval_join(
        clicks, views, on=["user_id"], left_ts="ts", right_ts="vts",
        window_us=_W_US,
    )
    return (
        j.groupBy(F.col("event_id").alias("click_id"))
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.min(
                F.unix_micros(F.col("vts").cast("timestamp"))
                - F.unix_micros(F.col("ts").cast("timestamp"))
            ).alias("min_delta_us"),
        )
    )


# --------------------------------------------------------------------
# Grid quantile sketch: deterministic fixed-grid approximate
# percentiles of events.value (one histogram pass, mergeable counter
# state). The oracle replays the identical grid arithmetic — the
# *approximate* answer hash-matches, like the other sk_* sketches.
# --------------------------------------------------------------------
_Q_LO, _Q_HI, _Q_BINS = 0.0, 500.0, 256
_QS = (0.5, 0.9, 0.99)
_Q_W = (_Q_HI - _Q_LO) / _Q_BINS

SKQ_ORACLE = f"""
WITH h AS (
  SELECT CAST(least({_Q_BINS - 1}, greatest(0,
           floor((value - {_Q_LO:.17e}) / {_Q_W:.17e})))
         AS INTEGER) AS bin,
         count(*) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
c AS (
  SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum,
         sum(cnt) OVER () AS n
  FROM h
),
q AS (SELECT unnest([5.0e-1, 9.0e-1, 9.9e-1]) AS q)
SELECT q,
       CAST(ceil(q * min(n)) AS BIGINT) AS rank,
       round({_Q_LO:.17e} + (min(bin) + 1) * {_Q_W:.17e}, 9) AS est
FROM q, c
WHERE cum >= ceil(q * n)
GROUP BY q
"""


@query("sk_grid_quantiles", SKQ_ORACLE)
def sk_grid_quantiles(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return SK.grid_quantiles(
        ev, "value", lo=_Q_LO, hi=_Q_HI, bins=_Q_BINS, qs=_QS
    )


# --------------------------------------------------------------------
# Multimodal frame sampling: the pure-Spark half of video frame
# extraction (operators/multimodal.frame_sample_plan) — one row per
# sampled frame timestamp from the typed metadata; the per-frame
# decode would be a further mapInPandas stage (codec stubbed, like
# m_multimodal_features). Duration is derived deterministically from
# n_chars so the explode is oracle-checkable.
# --------------------------------------------------------------------
MFS_ORACLE = """
SELECT doc_id AS media_id,
       CAST(unnest(generate_series(
         0, greatest(CAST((n_chars * 37) % 54321 AS BIGINT) - 1, 0),
         1000)) AS BIGINT) AS frame_ms
FROM documents WHERE n_chars IS NOT NULL
"""


@query("m_frame_sample", MFS_ORACLE)
def m_frame_sample(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").where(
        F.col("n_chars").isNotNull()
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.struct(
            ((F.col("n_chars") * 37) % 54321)
            .cast("int")
            .alias("duration_ms")
        ).alias("meta"),
    )
    plan = MM.frame_sample_plan(media, every_ms=1000)
    return plan.select(
        "media_id", F.col("frame_ms").cast("long").alias("frame_ms")
    )


# --------------------------------------------------------------------
# O9: cascaded rollup maintenance (hypertable-style continuous
# aggregates): hourly partials -> daily from hourly -> monthly from
# daily, each level re-aggregating the previous level's partial sums.
# Decimal sums are associative/exact, so the cascade equals a direct
# monthly aggregation from raw rows — which is exactly what the
# oracle computes. At 100 TB the raw table is scanned once for the
# finest grain and every coarser grain reads only the (tiny) next
# level down, the same partial-merge contract as o8_incremental_rollup.
# --------------------------------------------------------------------
O9_ORACLE = """
SELECT event_type,
       strftime(date_trunc('month', ts), '%Y-%m-%d') AS mon,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       count(value) AS n_obs,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             / count(value), 6) AS avg_value
FROM events
GROUP BY event_type, date_trunc('month', ts)
"""


@query("o9_cascade_rollup", O9_ORACLE)
def o9_cascade_rollup(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.sum(dec("value")).alias("s"), F.count("value").alias("c")
    )
    daily = hourly.groupBy(
        "event_type", F.date_trunc("day", "h").alias("d")
    ).agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
    monthly = daily.groupBy(
        "event_type", F.date_trunc("month", "d").alias("mon")
    ).agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
    # ISO-string month key on the way out (DuckDB month-trunc is DATE,
    # Spark's is TIMESTAMP); the cascade itself stays on timestamps.
    return monthly.select(
        "event_type",
        F.date_format("mon", "yyyy-MM-dd").alias("mon"),
        F.col("s").cast("double").alias("total_value"),
        F.col("c").alias("n_obs"),
        F.round(F.col("s").cast("double") / F.col("c"), 6).alias(
            "avg_value"
        ),
    )


# --------------------------------------------------------------------
# O11: full MERGE (upsert + delete changeset) against a snapshot —
# the transactional-table write path (Delta/Iceberg MERGE INTO)
# expressed as one anti-join + union. Changeset derived
# deterministically from the snapshot itself: %10==3 deletes,
# %10==7 updates (price bump), %97==0 inserts under shifted keys.
# --------------------------------------------------------------------
O11_ORACLE = """
WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
chg AS (
  SELECT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice,
         'delete' AS op
  FROM orders WHERE o_orderkey % 10 = 3
  UNION ALL
  SELECT o_orderkey, o_totalprice + 1.0, 'upsert'
  FROM orders WHERE o_orderkey % 10 = 7
  UNION ALL
  SELECT o_orderkey + 10000000, o_totalprice, 'upsert'
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT b.o_orderkey, b.o_totalprice FROM base b
WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM chg)
UNION ALL
SELECT o_orderkey, o_totalprice FROM chg WHERE op = 'upsert'
"""


@query("o11_merge_changeset", O11_ORACLE)
def o11_merge_changeset(spark, sf_dir):
    from ..plans.incremental import merge_changeset

    orders = table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_totalprice")
    chg = (
        orders.where(F.col("o_orderkey") % 10 == 3)
        .select(
            "o_orderkey",
            F.lit(None).cast("double").alias("o_totalprice"),
            F.lit("delete").alias("op"),
        )
        .unionByName(
            orders.where(F.col("o_orderkey") % 10 == 7).select(
                "o_orderkey",
                (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
                F.lit("upsert").alias("op"),
            )
        )
        .unionByName(
            orders.where(F.col("o_orderkey") % 97 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                "o_totalprice",
                F.lit("upsert").alias("op"),
            )
        )
    )
    return merge_changeset(base, chg, keys=("o_orderkey",))


# --------------------------------------------------------------------
# J12: radius (distance) self-join via grid-cell bucketing — the
# spatial analog of the LSH candidate decomposition: cell equi-join
# + exact predicate, never an n² cross product. Oracle: DuckDB's
# IE-join on the bounding-box predicate + the same exact squared
# distance.
# --------------------------------------------------------------------
_J12_R = 1.25
J12_ORACLE = f"""
WITH pt AS (
  SELECT c_custkey AS id,
         -- CAST: DuckDB parses bare 0.37 as DECIMAL; Spark uses
         -- DOUBLE — force identical IEEE arithmetic on both sides
         (c_custkey % 100) * CAST(0.37 AS DOUBLE) AS x,
         (c_custkey % 83) * CAST(0.53 AS DOUBLE) AS y
  FROM customer WHERE c_custkey % 5 = 0
)
SELECT p.id AS a, q.id AS b,
       (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) AS dist_sq
FROM pt p JOIN pt q
  ON p.id < q.id
 AND q.x BETWEEN p.x - {_J12_R} AND p.x + {_J12_R}
 AND q.y BETWEEN p.y - {_J12_R} AND p.y + {_J12_R}
WHERE (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y)
      <= {_J12_R * _J12_R}
"""


@query("j12_radius_join", J12_ORACLE)
def j12_radius_join(spark, sf_dir):
    from ..operators.geo import radius_join

    cust = table(spark, sf_dir, "customer")
    pts = cust.where(F.col("c_custkey") % 5 == 0).select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") % 100) * 0.37).alias("x"),
        ((F.col("c_custkey") % 83) * 0.53).alias("y"),
    )
    return radius_join(pts, "id", "x", "y", _J12_R)


# --------------------------------------------------------------------
# O5 salted join, driver-checked: l_linestatus has TWO values — the
# worst-case hot key a shuffled join can meet (every row of the fact
# table lands on one of two reducers). salted_join spreads each hot
# key over 8 reducers by salting the big side and replicating the
# 2-row dim ×8; the oracle is the PLAIN join — salting must be
# row-for-row invisible in the result.
# --------------------------------------------------------------------
O5_ORACLE = """
WITH dim AS (
  SELECT 'O' AS status, 'open' AS status_name UNION ALL
  SELECT 'F', 'fulfilled'
)
SELECT d.status_name,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM lineitem l JOIN dim d ON l.l_linestatus = d.status
GROUP BY d.status_name
"""


@query("o5_salted_join", O5_ORACLE)
def o5_salted_join(spark, sf_dir):
    """Hot-key equi-join via explicit salting (operators/skew.py).
    At 100 TB the un-salted version of this plan stalls on two
    straggler reducers; the salted key (status, salt) fans each hot
    key across 8. Result must equal the plain join exactly."""
    from ..operators.skew import salted_join

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_linestatus").alias("status"), "l_extendedprice"
    )
    dim = spark.createDataFrame(
        [("O", "open"), ("F", "fulfilled")], ["status", "status_name"]
    )
    joined = salted_join(li, dim, "status", n_salt=8)
    return joined.groupBy("status_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sum_price"),
    )


# --------------------------------------------------------------------
# Resize planning through the decode island (the remaining multimodal
# verb next to decode/feature-extract/frame-sample): FakeDecoder dims
# are sha256 hex slices, so DuckDB replays the whole island — fit
# arithmetic included — exactly.
# --------------------------------------------------------------------
def _resize_oracle(target: int = 256) -> str:
    from .qaqc_parity import _hex4

    w = f"(({_hex4('substring(sha256(text), 17, 4)')}) % 4096)"
    h = f"(({_hex4('substring(sha256(text), 21, 4)')}) % 4096)"
    return f"""
WITH f AS (
  SELECT doc_id AS media_id,
         CAST({w} AS INTEGER) AS width,
         CAST({h} AS INTEGER) AS height
  FROM documents WHERE text IS NOT NULL),
g AS (
  SELECT *, GREATEST(width, height, 1) AS m,
         GREATEST(width, height, 1) > {target} AS resized
  FROM f)
SELECT media_id, width, height,
       CAST(CASE WHEN resized
            THEN floor(width * {target} / CAST(m AS DOUBLE))
            ELSE width END AS INTEGER) AS out_w,
       CAST(CASE WHEN resized
            THEN floor(height * {target} / CAST(m AS DOUBLE))
            ELSE height END AS INTEGER) AS out_h,
       resized
FROM g
"""


@query("m_resize_plan", _resize_oracle())
def m_resize_plan(spark, sf_dir):
    """Fit-to-256 resize planning for every media row — map-only
    mapInPandas over the content bytes; no upscaling, long edge
    capped, aspect preserved by integer-floor of the scaled dims."""
    docs = table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("content"),
    )
    return MM.resize_plan(media, target=256, decoder=MM.FakeDecoder())


# --------------------------------------------------------------------
# Entity-resolution linkage (record-linkage blocking, Fellegi-Sunter
# style candidate generation): near-identical catalog names found by
# (a) collapsing the row table to the DISTINCT-entity table first —
# entity resolution never runs over rows, only over the vocabulary —
# (b) blocking candidates on the first name token so the pair join is
# within-block only, and (c) confirming with exact Levenshtein
# distance (an O(len^2)-per-pair metric affordable precisely because
# blocking bounds the pair count). Row impact attaches back from the
# per-name counts, broadcast-sized by construction.
# --------------------------------------------------------------------
_LINK_ORACLE = """
WITH counts AS (
  SELECT p_name, CAST(count(*) AS BIGINT) AS n_rows
  FROM part GROUP BY p_name
),
blocked AS (
  SELECT p_name, n_rows, string_split(p_name, ' ')[1] AS blk
  FROM counts
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist,
       a.n_rows AS n_rows_a, b.n_rows AS n_rows_b
FROM blocked a JOIN blocked b
  ON a.blk = b.blk AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
"""


@query("j13_entity_link", _LINK_ORACLE)
def j13_entity_link(spark, sf_dir):
    """Catalog-variant linkage: distinct names -> first-token blocks
    -> within-block pairs -> Levenshtein <= 3 confirm, with per-name
    row counts attached. The distinct-entity collapse is the scale
    move: the quadratic stage sees the vocabulary (64 names here),
    never the row table, and at 100 TB the entity table is still
    dimension-sized while the one heavy stage — the groupBy collapse
    — is a plain distributed aggregation."""
    counts = (
        table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    blocked = counts.select(
        "p_name",
        "n_rows",
        F.element_at(F.split("p_name", " "), 1).alias("blk"),
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            on=[
                F.col("a.blk") == F.col("b.blk"),
                F.col("a.p_name") < F.col("b.p_name"),
            ],
        )
        .where(dist.between(1, 3))
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.cast("int").alias("edit_dist"),
            F.col("a.n_rows").alias("n_rows_a"),
            F.col("b.n_rows").alias("n_rows_b"),
        )
    )


# --------------------------------------------------------------------
# EXACT global median without a global sort — the selection-by-
# histogram-narrowing pattern that replaces "ORDER BY the whole
# column" at 100 TB: each pass scans the (range-filtered, pushed-
# down) column once, builds a <=4096-bucket histogram (a partial agg,
# counters merge associatively), and the driver keeps only the bucket
# containing the target rank. log_4096(domain) passes pin the rank to
# a <=4096-value range; a final exact value-count walk selects it.
# Every driver collect is <=4097 counter rows (dimension-sized, the
# house .collect() rule). Both middle ranks are selected so the even-
# count median is exact; the only float op is the final (v1+v2)/200.
# The oracle sorts (it can afford to) — same answer, opposite plan.
# --------------------------------------------------------------------
_MED_NB = 4096


def _select_ranks_cents(spark, sf_dir, ranks):
    """Exact order statistics (1-based ranks, ascending) of
    round(l_extendedprice*100) plus the total row count — ONE
    narrowing pass shared by all requested ranks. The narrowing
    keeps the interval [lo, hi] covering every still-unresolved
    rank: adjacent ranks (a median's two middles) almost always
    stay in one bucket, so the common case costs the same scans as
    a single selection.

    Returns (n_rows, {rank: value}).
    """
    ranks = sorted(set(ranks))
    li = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v")
    )
    row = li.agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    lo, hi, n = row["lo"], row["hi"], row["n"]
    before = 0  # values strictly below lo, already excluded
    while hi - lo > _MED_NB:
        w = (hi - lo) // _MED_NB + 1
        counts = dict(
            li.where((F.col("v") >= lo) & (F.col("v") <= hi))
            .groupBy(((F.col("v") - lo) / w).cast("long").alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        # bucket range [b_first, b_last] covering ALL ranks
        cum, b_first, b_last, before_first = before, None, None, before
        for b in range(_MED_NB + 1):
            c = counts.get(b, 0)
            if b_first is None and cum + c >= ranks[0]:
                b_first, before_first = b, cum
            if cum + c >= ranks[-1]:
                b_last = b
                break
            cum += c
        if b_first is None or b_last is None:
            raise ValueError("rank beyond range — inconsistent counts")
        new_lo = lo + b_first * w
        new_hi = min(hi, lo + (b_last + 1) * w - 1)
        lo, hi, before = new_lo, new_hi, before_first
        # a rank straddle widens the window; it still shrinks by
        # ~NB/(b_last-b_first+1) per pass, and adjacent ranks make
        # b_last - b_first <= 1, so termination is unchanged
        if b_last - b_first + 1 > _MED_NB // 2:
            raise ValueError("ranks too spread for shared narrowing")
    vals = sorted(
        li.where((F.col("v") >= lo) & (F.col("v") <= hi))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    out, cum, it = {}, before, iter(ranks)
    want = next(it)
    for v, c in vals:
        while want is not None and cum + c >= want:
            out[want] = v
            want = next(it, None)
        cum += c
    if want is not None:
        raise ValueError("rank beyond range — inconsistent counts")
    return n, out


_MED_ORACLE = """
WITH c AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem
),
s AS (
  SELECT v, row_number() OVER (ORDER BY v) AS rn,
         count(*) OVER () AS n
  FROM c
)
SELECT CAST(max(n) AS BIGINT) AS n_rows,
       CAST(min(CASE WHEN rn = (n + 1) // 2 THEN v END) AS BIGINT)
         AS v_lo_cents,
       CAST(min(CASE WHEN rn = (n + 2) // 2 THEN v END) AS BIGINT)
         AS v_hi_cents,
       (min(CASE WHEN rn = (n + 1) // 2 THEN v END)
        + min(CASE WHEN rn = (n + 2) // 2 THEN v END)) / 200.0
         AS median_price
FROM s
"""


@query("a27_exact_median", _MED_ORACLE)
def a27_exact_median(spark, sf_dir):
    """Exact median of l_extendedprice by iterative histogram
    selection — no global sort, no per-group collect of data rows;
    the oracle's full sort confirms the narrowing is exact."""
    li = table(spark, sf_dir, "lineitem")
    n = li.count()
    k1, k2 = (n + 1) // 2, (n + 2) // 2
    n2, sel = _select_ranks_cents(spark, sf_dir, [k1, k2])
    assert n2 == n
    v1, v2 = sel[k1], sel[k2]
    return spark.range(1).select(
        F.lit(n).cast("long").alias("n_rows"),
        F.lit(v1).cast("long").alias("v_lo_cents"),
        F.lit(v2).cast("long").alias("v_hi_cents"),
        ((F.lit(v1) + F.lit(v2)) / F.lit(200.0)).alias("median_price"),
    )


# --------------------------------------------------------------------
# p_coreset_kcenter: deterministic k-center greedy coreset (farthest-
# point sampling) over the embedding corpus — the data-SELECTION
# primitive (diverse subset for labeling / distillation / eval
# holdouts) next to the data-REMOVAL primitives (dedup/SemDeDup).
#
# Exactness: embeddings are floor-quantized to integer millis
# (floor(x*1000), identical on both engines — no round() half-mode
# hazard), so every squared L2 distance is a BIGINT and the argmax
# selection has NO float rounding to diverge on. Greedy is seeded at
# min(vec_id); each round picks the point maximizing the min distance
# to the chosen set, ties broken by vec_id.
#
# Scale shape: k rounds, each ONE map-only distance pass against the
# single newest center (the per-row running min distance carries
# across rounds as a materialized column, so total work is
# O(k * n * dim), not O(k^2 * n * dim)) + one top-1 TakeOrdered per
# round — at 100 TB this is k scans, the same budget as a27's
# histogram narrowing. The driver holds only the k selected vectors.
# Corpora with fewer than k vectors degrade to min(n, k) rows, same
# as the oracle's emptying sel CTEs.
# --------------------------------------------------------------------
_KC_K = 8

_KC_QE_SQL = (
    "list_transform(embedding, x -> "
    "CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
)


def _kc_oracle() -> str:
    # dim-agnostic: series length follows each row's own vector (all
    # rows must share one dim, same contract as the Spark zip_with)
    sq = (
        "list_aggregate(list_transform(generate_series(1, "
        "len(e.qe)), i -> (e.qe[i] - c.qe[i]) * (e.qe[i] - c.qe[i])),"
        " 'sum')"
    )
    # Every round CTE is MATERIALIZED: DuckDB inlines a plain CTE again
    # at each reference, and ch{r} is read by md{r+1} (twice) and by
    # ch{r+1}, so unmaterialized each round multiplies the plan. q stays
    # plain: it reads no other CTE, and inlined, the IN filter on the
    # center side is pushed into its scan (materialized, md{r} becomes
    # a full n x n cross product).
    parts = [
        f"q AS (SELECT vec_id, {_KC_QE_SQL} AS qe FROM embeddings)",
        "ch0 AS MATERIALIZED (SELECT min(vec_id) AS vec_id FROM q)",
    ]
    for r in range(1, _KC_K):
        parts.append(
            f"""md{r} AS MATERIALIZED (
  SELECT e.vec_id, min({sq}) AS mind
  FROM q e, q c
  WHERE c.vec_id IN (SELECT vec_id FROM ch{r - 1})
    AND e.vec_id NOT IN (SELECT vec_id FROM ch{r - 1})
  GROUP BY e.vec_id)"""
        )
        parts.append(
            f"sel{r} AS MATERIALIZED (SELECT vec_id, mind FROM md{r} "
            f"ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        parts.append(
            f"ch{r} AS MATERIALIZED (SELECT vec_id FROM ch{r - 1} "
            f"UNION ALL SELECT vec_id FROM sel{r})"
        )
    unions = [
        "SELECT CAST(0 AS INTEGER) AS round, vec_id,"
        " CAST(0 AS BIGINT) AS mind_sq FROM ch0"
    ] + [
        f"SELECT CAST({r} AS INTEGER) AS round, vec_id,"
        f" CAST(mind AS BIGINT) AS mind_sq FROM sel{r}"
        for r in range(1, _KC_K)
    ]
    return (
        "WITH " + ",\n".join(parts) + "\n"
        + "\nUNION ALL ".join(unions)
    )


@query("p_coreset_kcenter", _kc_oracle())
def p_coreset_kcenter(spark, sf_dir):
    """Greedy k-center coreset over integer-quantized embeddings —
    each round ONE map-only distance pass against the newest center
    (the running min-distance rides as a column) + one single-row
    TakeOrdered; the selected set is the only driver-side state."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000).cast("long"),
        ).alias("qe"),
    )
    out_schema = "round int, vec_id long, mind_sq long"
    seeds = emb.orderBy("vec_id").limit(1).collect()
    if not seeds:
        return spark.createDataFrame([], out_schema)
    seed = seeds[0]
    chosen = [(0, int(seed["vec_id"]), 0)]

    def sqdist_to(vec):
        lit = F.array(*[F.lit(int(v)) for v in vec])
        return F.aggregate(
            F.zip_with("qe", lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # rest = every not-yet-chosen row with its min distance to the
    # chosen set; each round updates it against ONLY the new center.
    # Storage rotation keeps live block storage O(1) in k: each
    # round's TakeOrdered materializes the NEW persisted `rest` (its
    # blocks then exist independently), after which the PREVIOUS
    # round's blocks are freed. The lazy-localCheckpoint chain this
    # replaces held up to k corpus-sized block sets concurrently
    # (tests/test_hardening_r5.py asserts the bound).
    rest = (
        emb.where(F.col("vec_id") != chosen[0][1])
        .withColumn("mind", sqdist_to(list(seed["qe"])))
        .persist()
    )
    prev = None
    for r in range(1, _KC_K):
        tops = (
            rest.orderBy(F.desc("mind"), F.asc("vec_id"))
            .limit(1)
            .collect()
        )
        if prev is not None:
            prev.unpersist()
        if not tops:
            break  # corpus smaller than k: degrade like the oracle
        top = tops[0]
        chosen.append((r, int(top["vec_id"]), int(top["mind"])))
        if r < _KC_K - 1:
            prev = rest
            rest = (
                rest.where(F.col("vec_id") != int(top["vec_id"]))
                .withColumn(
                    "mind",
                    F.least("mind", sqdist_to(list(top["qe"]))),
                )
                .persist()
            )
    rest.unpersist()

    return spark.createDataFrame(chosen, out_schema)


# --------------------------------------------------------------------
# a29: exact grouped WEIGHTED median — the estimator behind
# quantity-weighted price statistics (and sample-weight-aware
# curation thresholds): the smallest value whose cumulative weight
# reaches half the group total. All arithmetic is integer (price
# cents, integer quantities; threshold compare is 2*cum >= W to
# avoid halving), and values are pre-aggregated per (group, value)
# BEFORE the running sum, so the cumulative has no within-tie
# order ambiguity for either engine. Plan: one partial agg to
# (group, value, w), one window over groups ordered by value, one
# first-crossing filter — the weighted sibling of a1's grouped
# median, with none of a27's narrowing machinery needed because the
# window is per-group, not global.
# --------------------------------------------------------------------
A29_ORACLE = """
WITH vw AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
),
c AS (
  SELECT grp, cents, w,
         sum(w) OVER (PARTITION BY grp ORDER BY cents
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(w) OVER (PARTITION BY grp) AS total
  FROM vw
)
SELECT grp, CAST(total AS BIGINT) AS total_weight,
       CAST(min(cents) AS BIGINT) AS median_cents
FROM (SELECT * FROM c WHERE 2 * cum >= total)
GROUP BY grp, total
"""


@query("a29_weighted_median", A29_ORACLE)
def a29_weighted_median(spark, sf_dir):
    """Exact quantity-weighted median price (cents) per return flag."""
    from pyspark.sql.window import Window as W

    li = table(spark, sf_dir, "lineitem")
    vw = (
        li.select(
            F.col("l_returnflag").alias("grp"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("cents"),
            F.round("l_quantity").cast("long").alias("q"),
        )
        .groupBy("grp", "cents")
        .agg(F.sum("q").alias("w"))
    )
    win = (
        W.partitionBy("grp")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = vw.select(
        "grp",
        "cents",
        F.sum("w").over(win).alias("cum"),
        F.sum("w").over(W.partitionBy("grp")).alias("total"),
    )
    return (
        c.where(2 * F.col("cum") >= F.col("total"))
        .groupBy("grp", "total")
        .agg(F.min("cents").cast("long").alias("median_cents"))
        .select(
            "grp",
            F.col("total").cast("long").alias("total_weight"),
            "median_cents",
        )
    )
