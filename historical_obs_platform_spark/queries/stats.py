"""Evaluation / hypothesis-test statistics, Spark-first:

- a32_kruskal_wallis — the nonparametric one-way ANOVA on ranks
  (Kruskal & Wallis 1952) across event types, with exact average
  ranks and the tie correction. Ranks are NEVER computed by a global
  per-row sort: the 2-decimal `value` domain is grouped first, so the
  rank table is value-distinct-sized and the per-row work is one
  broadcastable join — the same replaces-global-sort move as
  a27_exact_median. Average ranks are kept as the INTEGER 2·rank to
  stay exact; the only floats are five per-group R²/n terms folded in
  event-type order.
- a33_ab_test_z — the two-proportion pooled z-test on a deterministic
  user split (user_id parity), conversion = reached 'purchase'. All
  counts are exact; the z expression tree is written identically on
  both engines.
- t_zipf_slope — Zipf/power-law fit of the token rank-frequency
  curve: OLS of ln(freq) on ln(rank) over the top-256 tokens.
  Logarithms run on the DRIVER with CPython libm (bit-identical to
  DuckDB's ln, same as p_dsir_selection / t_js_divergence); all four
  OLS sums fold in rank order.
- s_silhouette_cells — simplified (centroid-based) silhouette score
  per k-means cell (Hruschka et al. 2004): a = squared distance to
  own centroid, b = to the nearest other centroid, s = (b−a)/max(a,b).
  Distances use the dot-expansion form of d_semdedup; per-point work
  is a 16-row broadcast cross join, never point-pairwise.

Reference anchor: the reference's QAQC layer makes keep/flag
decisions from distribution statistics per station/month
(qaqc_dist_whole_stn.py; frequent-bins and Gaussian-fit bounds) —
these queries add the standard hypothesis-test / fit-quality
statistics a platform needs to JUDGE such distributions at corpus
scale.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.textfns import tokens
from ..registry import query
from .common import round_half_away, table
from .textops import TOKS

# ------------------------------------------------------------------ #
# a32_kruskal_wallis
# ------------------------------------------------------------------ #
A32_ORACLE = """
WITH v AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL
),
cv AS (SELECT value, count(*) AS cnt FROM v GROUP BY value),
cr AS (
  SELECT value, cnt,
         2 * (sum(cnt) OVER (ORDER BY value) - cnt) + cnt + 1 AS rank2
  FROM cv
),
gv AS (
  SELECT event_type, value, count(*) AS n_gv FROM v GROUP BY 1, 2
),
rg AS (
  SELECT g.event_type,
         sum(g.n_gv * cr.rank2) AS r2,
         sum(g.n_gv) AS n_i
  FROM gv g JOIN cr ON cr.value = g.value
  GROUP BY g.event_type
),
tot AS (SELECT count(*) AS n FROM v),
sfold AS (
  SELECT count(*) AS k,
         list_reduce(
           list((CAST(r2 AS DOUBLE) / 2.0e0) * (CAST(r2 AS DOUBLE) / 2.0e0)
                / CAST(n_i AS DOUBLE) ORDER BY event_type),
           (a, b) -> a + b) AS s
  FROM rg
),
tie AS (
  -- cube in DECIMAL: BIGINT cnt^3 overflows (silently, on Spark's
  -- non-ANSI side) once a single value bin exceeds ~2.1M rows; the
  -- exact decimal sum is order-independent and holds to cnt ~ 1e12
  SELECT sum(CAST(cnt AS DECIMAL(12,0)) * CAST(cnt AS DECIMAL(12,0))
             * CAST(cnt AS DECIMAL(12,0)) - cnt) AS tsum
  FROM cv),
nv AS (SELECT count(*) AS c FROM cv)
-- degenerate corpora emit typed NULLs: the test is undefined with no
-- rows or fewer than two groups, and the tie-corrected H divides by
-- tie_c = 0 when every value is identical (nv.c <= 1)
SELECT CAST(tot.n AS BIGINT) AS n, CAST(sfold.k AS BIGINT) AS k,
       CASE WHEN tot.n = 0 OR sfold.k < 2 THEN NULL
            ELSE round(12.0e0 * sfold.s
                       / (CAST(tot.n AS DOUBLE) * (tot.n + 1))
                       - 3.0e0 * (tot.n + 1), 6) END AS h,
       CASE WHEN tot.n = 0 OR sfold.k < 2 THEN NULL
            ELSE round(1.0e0 - CAST(tie.tsum AS DOUBLE)
                       / (CAST(tot.n AS DOUBLE) * tot.n * tot.n - tot.n), 6)
            END AS tie_c,
       CASE WHEN tot.n = 0 OR sfold.k < 2 OR nv.c <= 1 THEN NULL
            ELSE round((12.0e0 * sfold.s
                        / (CAST(tot.n AS DOUBLE) * (tot.n + 1))
                        - 3.0e0 * (tot.n + 1))
                       / (1.0e0 - CAST(tie.tsum AS DOUBLE)
                          / (CAST(tot.n AS DOUBLE) * tot.n * tot.n - tot.n)),
                       6) END AS h_adj
FROM sfold, tot, tie, nv
"""


@query("a32_kruskal_wallis", A32_ORACLE)
def a32_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H across event types, exact tie-corrected ranks.

    Scale shape: value-distinct grouping → a rank table the size of
    the value domain (bounded by measurement resolution, not rows),
    one join back keyed on value, one k-row fold. No global per-row
    sort anywhere.
    """
    v = (
        table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    # cv feeds THREE branches (rank table, tie correction, distinct
    # count) and tot is derivable from it — one materialized grid
    # aggregation instead of four corpus passes
    cv = (
        v.groupBy("value")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    w = Window.orderBy("value").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cr = cv.select(
        "value",
        (
            2 * (F.sum("cnt").over(w) - F.col("cnt"))
            + F.col("cnt")
            + 1
        ).alias("rank2"),
    )
    gv = v.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).alias("n_gv")
    )
    rg = (
        gv.join(cr, "value")
        .groupBy("event_type")
        .agg(
            F.sum(F.col("n_gv") * F.col("rank2")).alias("r2"),
            F.sum("n_gv").alias("n_i"),
        )
    )
    sfold = rg.agg(
        F.count(F.lit(1)).alias("k"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "event_type",
                            (
                                (F.col("r2").cast("double") / F.lit(2.0))
                                * (F.col("r2").cast("double") / F.lit(2.0))
                                / F.col("n_i").cast("double")
                            ).alias("x"),
                        )
                    )
                ),
                lambda s: s["x"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("s"),
    )
    # total rows = sum of per-value counts — no second corpus pass;
    # an empty corpus sums to NULL where the oracle's count(*) gives 0
    tot = cv.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("n"))
    # decimal cube (not BIGINT): see the oracle's tie CTE comment
    cnt_dec = F.col("cnt").cast("decimal(12,0)")
    tie = cv.agg(
        F.sum(cnt_dec * cnt_dec * cnt_dec - F.col("cnt")).alias("tsum")
    )
    nv = cv.agg(F.count(F.lit(1)).alias("nvals"))
    n_d = F.col("n").cast("double")
    h = F.lit(12.0) * F.col("s") / (n_d * (F.col("n") + 1)) - F.lit(
        3.0
    ) * (F.col("n") + 1)
    tie_c = F.lit(1.0) - F.col("tsum").cast("double") / (
        n_d * F.col("n") * F.col("n") - F.col("n")
    )
    # typed NULLs on degenerate input (empty / <2 groups / constant
    # values), mirroring the oracle's CASE guards — see the oracle
    defined = (F.col("n") > 0) & (F.col("k") >= 2)
    return (
        sfold.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tie))
        .crossJoin(F.broadcast(nv))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("k").cast("long").alias("k"),
            F.when(defined, F.round(h, 6)).alias("h"),
            F.when(defined, F.round(tie_c, 6)).alias("tie_c"),
            F.when(
                defined & (F.col("nvals") > 1), F.round(h / tie_c, 6)
            ).alias("h_adj"),
        )
    )


# ------------------------------------------------------------------ #
# a33_ab_test_z
# ------------------------------------------------------------------ #
A33_ORACLE = """
WITH fe AS (
  SELECT user_id, event_type,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
u AS (
  SELECT user_id % 2 AS variant,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
           AS converted
  FROM fe WHERE rn = 1
),
ab AS (
  -- ONE conditional aggregate, not per-variant scalar subqueries: a
  -- grand aggregate emits exactly one row even when a variant (or the
  -- whole corpus) is empty, so both engines agree on the row count
  -- and surface NULL metrics instead of diverging
  SELECT count(*) FILTER (WHERE variant = 0) AS n_a,
         count(*) FILTER (WHERE variant = 1) AS n_b,
         sum(converted) FILTER (WHERE variant = 0) AS conv_a,
         sum(converted) FILTER (WHERE variant = 1) AS conv_b
  FROM u
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(conv_a AS BIGINT) AS conv_a, CAST(conv_b AS BIGINT) AS conv_b,
       round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS p_a,
       round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS p_b,
       round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / sqrt((CAST(conv_a + conv_b AS DOUBLE)
                     / CAST(n_a + n_b AS DOUBLE))
                    * (1.0e0 - CAST(conv_a + conv_b AS DOUBLE)
                       / CAST(n_a + n_b AS DOUBLE))
                    * (1.0e0 / CAST(n_a AS DOUBLE)
                       + 1.0e0 / CAST(n_b AS DOUBLE))), 6) AS z
FROM ab
"""


@query("a33_ab_test_z", A33_ORACLE)
def a33_ab_test_z(spark, sf_dir):
    """Two-proportion pooled z-test on a deterministic user split;
    conversion = the user's FIRST event (by time) is a purchase — a
    per-user-rare outcome at every scale, unlike "ever purchased"
    which saturates as event counts grow.

    Scale shape: one first-event window per user (shuffle on
    user_id), one 2-row variant agg — experiment analysis at any
    corpus size is two aggregations. The z expression is the
    identical IEEE tree on both engines over exact integer counts.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    u = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_type",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .select(
            (F.col("user_id") % 2).alias("variant"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("converted"),
        )
    )
    # one conditional aggregate (not a variant-0 × variant-1 cross
    # join): always exactly one row, NULL metrics when a variant is
    # empty — matching the oracle's FILTER aggregate row-for-row
    ab = u.agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted"))).alias(
            "conv_a"
        ),
        F.sum(F.when(F.col("variant") == 1, F.col("converted"))).alias(
            "conv_b"
        ),
    )
    pa = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    pb = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return ab.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("conv_a").cast("long").alias("conv_a"),
        F.col("conv_b").cast("long").alias("conv_b"),
        F.round(pa, 6).alias("p_a"),
        F.round(pb, 6).alias("p_b"),
        F.round((pa - pb) / se, 6).alias("z"),
    )


# ------------------------------------------------------------------ #
# t_zipf_slope
# ------------------------------------------------------------------ #
_ZIPF_K = 256

T_ZIPF_ORACLE = f"""
WITH d AS (
  SELECT {TOKS} AS t FROM documents
  WHERE text IS NOT NULL AND len({TOKS}) >= 1
),
tc AS (
  SELECT w, count(*) AS freq
  FROM (SELECT unnest(t) AS w FROM d) GROUP BY w
),
top AS (
  SELECT w, freq,
         row_number() OVER (ORDER BY freq DESC, w) AS rnk
  FROM tc ORDER BY freq DESC, w LIMIT {_ZIPF_K}
),
xy AS (
  SELECT rnk, ln(CAST(rnk AS DOUBLE)) AS x,
         ln(CAST(freq AS DOUBLE)) AS y
  FROM top
),
m AS (
  SELECT count(*) AS k,
         list_reduce(list(x ORDER BY rnk), (a, b) -> a + b)
           / count(*) AS xbar,
         list_reduce(list(y ORDER BY rnk), (a, b) -> a + b)
           / count(*) AS ybar
  FROM xy
),
dev AS (
  SELECT m.k,
         list_reduce(list((x - xbar) * (y - ybar) ORDER BY rnk),
                     (a, b) -> a + b) AS sxy,
         list_reduce(list((x - xbar) * (x - xbar) ORDER BY rnk),
                     (a, b) -> a + b) AS sxx,
         list_reduce(list((y - ybar) * (y - ybar) ORDER BY rnk),
                     (a, b) -> a + b) AS syy,
         any_value(xbar) AS xbar, any_value(ybar) AS ybar
  FROM xy, m GROUP BY m.k
)
SELECT CAST(k AS BIGINT) AS k,
       round(sxy / sxx, 6) AS slope,
       round(ybar - (sxy / sxx) * xbar, 6) AS intercept,
       round((sxy * sxy) / (sxx * syy), 6) AS r2
FROM dev
"""


@query("t_zipf_slope", T_ZIPF_ORACLE)
def t_zipf_slope(spark, sf_dir):
    """Zipf exponent of the corpus token distribution: OLS of ln(freq)
    on ln(rank) over the top-256 tokens.

    Scale shape: one token-keyed count agg + top-256 — the regression
    itself runs on the driver over a 256-row report table with
    CPython libm (bit-identical to DuckDB ln), all sums folded in
    rank order.
    """

    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(tokens(F.col("text")).alias("t"))
        .where(F.size("t") >= 1)
    )
    tc = docs.select(F.explode("t").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("freq")
    )
    top = tc.orderBy(F.desc("freq"), F.asc("w")).limit(_ZIPF_K).collect()
    top = sorted(top, key=lambda r: (-r["freq"], r["w"]))

    k = len(top)
    xs = [math.log(float(i + 1)) for i in range(k)]
    ys = [math.log(float(r["freq"])) for r in top]
    sx = 0.0
    for x in xs:
        sx = sx + x
    sy = 0.0
    for y in ys:
        sy = sy + y
    xbar, ybar = sx / k, sy / k
    sxy = sxx = syy = 0.0
    for x, y in zip(xs, ys):
        sxy = sxy + (x - xbar) * (y - ybar)
        sxx = sxx + (x - xbar) * (x - xbar)
        syy = syy + (y - ybar) * (y - ybar)
    slope = sxy / sxx
    return spark.createDataFrame(
        [
            (
                k,
                round_half_away(slope, 6),
                round_half_away(ybar - slope * xbar, 6),
                round_half_away((sxy * sxy) / (sxx * syy), 6),
            )
        ],
        "k long, slope double, intercept double, r2 double",
    )


# ------------------------------------------------------------------ #
# s_silhouette_cells
# ------------------------------------------------------------------ #
_SIL_CELLS = 16

_E_D = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
_DOT = "list_dot_product({a}, {b})"

S_SIL_ORACLE = f"""
WITH e AS (SELECT vec_id, {_E_D} AS v FROM embeddings),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
           AS cell,
         v AS c
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT {_SIL_CELLS})
),
dists AS (
  SELECT e.vec_id, cent.cell,
         round({_DOT.format(a="e.v", b="e.v")}
               - 2 * {_DOT.format(a="e.v", b="cent.c")}
               + {_DOT.format(a="cent.c", b="cent.c")}, 6) AS d
  FROM e CROSS JOIN cent
),
ranked AS (
  SELECT vec_id, cell, d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
  FROM dists
),
ab AS (
  SELECT r1.vec_id, r1.cell, r1.d AS a, r2.d AS b
  FROM ranked r1 JOIN ranked r2
    ON r1.vec_id = r2.vec_id AND r1.rn = 1 AND r2.rn = 2
),
sil AS (
  SELECT vec_id, cell,
         round((b - a) / greatest(a, b), 6) AS s
  FROM ab
)
SELECT cell, CAST(count(*) AS BIGINT) AS n,
       round(list_reduce(list(s ORDER BY vec_id), (x, y) -> x + y)
             / count(*), 6) AS mean_sil
FROM sil GROUP BY cell
"""


@query("s_silhouette_cells", S_SIL_ORACLE)
def s_silhouette_cells(spark, sf_dir):
    """Simplified silhouette per cell against 16 seed centroids.

    Scale shape: per-point work is a 16-row broadcast cross join (the
    centroid table), one min-2 selection, one cell-keyed agg — linear
    in corpus size, never point-pairwise; the same shape scores a
    full Lloyd clustering by swapping the centroid table.
    """
    from ..operators.similarity import dot

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "v"
        ),
    )
    cent = (
        e.orderBy("vec_id")
        .limit(_SIL_CELLS)
        .select(
            (
                F.row_number().over(Window.orderBy("vec_id")) - 1
            ).alias("cell"),
            F.col("v").alias("c"),
        )
    )
    dists = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cell",
        F.round(
            dot(F.col("v"), F.col("v"))
            - 2 * dot(F.col("v"), F.col("c"))
            + dot(F.col("c"), F.col("c")),
            6,
        ).alias("d"),
    )
    two = (
        dists.groupBy("vec_id")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("d", "cell"))), 1, 2
            ).alias("t2")
        )
        .select(
            "vec_id",
            F.col("t2")[0]["cell"].alias("cell"),
            F.col("t2")[0]["d"].alias("a"),
            F.col("t2")[1]["d"].alias("b"),
        )
    )
    sil = two.select(
        "vec_id",
        "cell",
        F.round(
            (F.col("b") - F.col("a")) / F.greatest("a", "b"), 6
        ).alias("s"),
    )
    return sil.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("vec_id", "s"))),
                    lambda t: t["s"],
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            )
            / F.count(F.lit(1)),
            6,
        ).alias("mean_sil"),
    )
