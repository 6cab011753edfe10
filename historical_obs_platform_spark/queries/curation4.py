"""Round-4 curation depth: document-quality gating, temperature-scaled
mixture sampling, label propagation (k-NN classify), a fully-relational
naive-Bayes domain classifier (train + score in one plan), and the
per-source duplication report a corpus owner reads first.

Each query is backed by a DuckDB oracle computing the identical
definition; floating-point results are either integer-exact (the NB
scorer uses fixed-point ppm arithmetic) or rounded to 6 decimals after
a deterministic fold order, per the repo's determinism rules.

Reference parity: the reference has no LLM-curation surface; these are
the "beyond reference" training-data operators (SURVEY.md §2.11),
modeled on public recipes — Gopher quality rules (Rae et al. 2021,
Table A1), temperature-scaled multilingual sampling (Conneau et al.
2020 §3.1 / mT5), SemDeDup-style label-vote curation.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import textfns as TX
from ..operators import dedup as DD
from ..operators import similarity as SIM
from ..registry import query
from .common import table
from .textops import NORM, TOKS

_SW_SQL = "('" + "', '".join(TX.STOPWORDS) + "')"


# --------------------------------------------------------------------
# Gopher-style document quality gates (Rae et al. 2021, Table A1 —
# the subset computable without a tokenizer model): word-count
# bounds, mean-word-length bounds, alphabetic-word fraction, stopword
# floor, and a top-token repetition cap. One explode → two hash
# aggregations (both map-side combinable); no window, no UDF. At
# 100 TB this is the same shape as a word-count: shuffle on
# (doc_id, tok) then on doc_id.
# --------------------------------------------------------------------
GOPHER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS}) AS tok FROM documents
),
tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM toks WHERE tok <> '' GROUP BY doc_id, tok
),
m AS (
  SELECT doc_id,
         CAST(sum(tf) AS BIGINT) AS n_tokens,
         round(sum(length(tok) * tf) * 1.0 / sum(tf), 6) AS mean_word_len,
         round(sum(CASE WHEN regexp_matches(tok, '[a-z]') THEN tf
                        ELSE 0 END) * 1.0 / sum(tf), 6) AS frac_alpha,
         CAST(sum(CASE WHEN tok IN {_SW_SQL} THEN tf ELSE 0 END)
              AS BIGINT) AS n_stopwords,
         round(max(tf) * 1.0 / sum(tf), 6) AS top_token_frac
  FROM tf GROUP BY doc_id
)
SELECT doc_id, n_tokens, mean_word_len, frac_alpha, n_stopwords,
       top_token_frac,
       CAST(n_tokens BETWEEN 50 AND 100000 AS INTEGER) AS pass_word_count,
       CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS INTEGER) AS pass_mean_wl,
       CAST(frac_alpha >= 0.8 AS INTEGER) AS pass_alpha,
       CAST(n_stopwords >= 2 AS INTEGER) AS pass_stopwords,
       CAST(top_token_frac <= 0.2 AS INTEGER) AS pass_repetition,
       CAST(n_tokens BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND frac_alpha >= 0.8
            AND n_stopwords >= 2
            AND top_token_frac <= 0.2 AS INTEGER) AS pass_all
FROM m
"""


@query("t_gopher_rules", GOPHER_ORACLE)
def t_gopher_rules(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.split(DD.normalize_text("text"), " ")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    is_stop = F.col("tok").isin(list(TX.STOPWORDS))
    m = tf.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.round(
            F.sum(F.length("tok") * F.col("tf")) / F.sum("tf"), 6
        ).alias("mean_word_len"),
        F.round(
            F.sum(F.when(F.col("tok").rlike("[a-z]"), F.col("tf")).otherwise(0))
            / F.sum("tf"),
            6,
        ).alias("frac_alpha"),
        F.sum(F.when(is_stop, F.col("tf")).otherwise(0))
        .cast("long")
        .alias("n_stopwords"),
        F.round(F.max("tf") / F.sum("tf"), 6).alias("top_token_frac"),
    )
    g_wc = F.col("n_tokens").between(50, 100000)
    g_wl = F.col("mean_word_len").between(3.0, 10.0)
    g_al = F.col("frac_alpha") >= 0.8
    g_sw = F.col("n_stopwords") >= 2
    g_rep = F.col("top_token_frac") <= 0.2
    return m.select(
        "doc_id",
        "n_tokens",
        "mean_word_len",
        "frac_alpha",
        "n_stopwords",
        "top_token_frac",
        g_wc.cast("int").alias("pass_word_count"),
        g_wl.cast("int").alias("pass_mean_wl"),
        g_al.cast("int").alias("pass_alpha"),
        g_sw.cast("int").alias("pass_stopwords"),
        g_rep.cast("int").alias("pass_repetition"),
        (g_wc & g_wl & g_al & g_sw & g_rep).cast("int").alias("pass_all"),
    )


# --------------------------------------------------------------------
# Temperature-scaled mixture sampling (Conneau et al. 2020 §3.1;
# mT5): q_s ∝ p_s^α flattens the domain distribution; weight
# q_s / p_s is the per-domain up/down-sampling factor. Two partial
# aggregations + a broadcast one-row total — never a second corpus
# scan. The normalizer Σ p^α is folded over a source-sorted array so
# the float sum order is identical in both engines.
# --------------------------------------------------------------------
_ALPHA = 0.3
_NTOK = (
    f"sum(CASE WHEN len({TOKS}) = 1 AND {TOKS}[1] = '' THEN 0 "
    f"ELSE len({TOKS}) END)"
)

TEMPERATURE_ORACLE = f"""
WITH per AS (
  SELECT source, CAST({_NTOK} AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM per),
p AS (
  SELECT source, n_tokens,
         CAST(n_tokens AS DOUBLE) / t AS p_s
  FROM per, tot
),
z AS (
  SELECT list_aggregate(
           list_transform(list(pow(p_s, {_ALPHA}) ORDER BY source),
                          x -> x),
           'sum') AS z
  FROM p
)
SELECT source, n_tokens,
       round(p_s, 6) AS token_share,
       round(pow(p_s, {_ALPHA}) / z, 6) AS temp_share,
       round(pow(p_s, {_ALPHA}) / z / p_s, 6) AS weight,
       CAST(floor(pow(p_s, {_ALPHA}) / z * 1000000) AS BIGINT)
         AS budget_tokens_1m
FROM p, z
"""


@query("p_temperature_mixture", TEMPERATURE_ORACLE)
def p_temperature_mixture(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(TX.token_count("text")).cast("long").alias("n_tokens")
    )
    tot = per.agg(F.sum("n_tokens").cast("long").alias("t"))
    p = per.crossJoin(F.broadcast(tot)).withColumn(
        "p_s", F.col("n_tokens").cast("double") / F.col("t")
    )
    # deterministic normalizer: fold pow(p, alpha) in source order
    z = p.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("source"), F.pow("p_s", _ALPHA).alias("pa"))
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["pa"],
        ).alias("z")
    )
    q_s = F.pow("p_s", _ALPHA) / F.col("z")
    return p.crossJoin(F.broadcast(z)).select(
        "source",
        "n_tokens",
        F.round("p_s", 6).alias("token_share"),
        F.round(q_s, 6).alias("temp_share"),
        F.round(q_s / F.col("p_s"), 6).alias("weight"),
        F.floor(q_s * 1000000).cast("long").alias("budget_tokens_1m"),
    )


# --------------------------------------------------------------------
# k-NN label classification (label propagation / curation-by-vote):
# the 20 lowest-id vectors are the "unlabeled" queries; each takes
# the majority label of its top-5 cosine neighbors in the remaining
# corpus (ties: larger vote count, then smaller label). Queries are
# broadcast; the corpus streams through one stage — the exact
# brute-force baseline whose ANN scale path is the IVF/PQ family.
# --------------------------------------------------------------------
_DOT = (
    "list_aggregate(list_transform(list_zip({a}, {b}), "
    "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')"
)

KNN_ORACLE = f"""
WITH q AS (SELECT * FROM embeddings WHERE vec_id < 20),
c AS (SELECT * FROM embeddings WHERE vec_id >= 20),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
         c.vec_id AS neighbor_id, c.label AS neighbor_label,
         round({_DOT.format(a='q.embedding', b='c.embedding')}
           / (sqrt({_DOT.format(a='q.embedding', b='q.embedding')})
              * sqrt({_DOT.format(a='c.embedding', b='c.embedding')})),
           6) AS cosine_sim
  FROM q JOIN c ON true
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id
      ORDER BY cosine_sim DESC, neighbor_id) AS rnk
    FROM scored
  ) WHERE rnk <= 5
),
votes AS (
  SELECT query_id, true_label, neighbor_label,
         count(*) AS n_votes
  FROM topk GROUP BY query_id, true_label, neighbor_label
)
SELECT query_id, true_label,
       neighbor_label AS predicted_label,
       CAST(n_votes AS BIGINT) AS n_votes,
       CAST(neighbor_label = true_label AS INTEGER) AS correct
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id
    ORDER BY n_votes DESC, neighbor_label) AS vr
  FROM votes
) WHERE vr = 1
"""


@query("s_knn_classify", KNN_ORACLE)
def s_knn_classify(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    corpus = emb.where(F.col("vec_id") >= 20)
    topk = SIM.cosine_topk(corpus, queries, k=5)
    labeled = topk.join(
        F.broadcast(
            queries.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("true_label"),
            )
        ),
        "query_id",
    ).join(
        corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
        ),
        "neighbor_id",
    )
    votes = labeled.groupBy(
        "query_id", "true_label", "neighbor_label"
    ).agg(F.count(F.lit(1)).alias("n_votes"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("neighbor_label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(w))
        .where(F.col("vr") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("neighbor_label").alias("predicted_label"),
            F.col("n_votes").cast("long").alias("n_votes"),
            (F.col("neighbor_label") == F.col("true_label"))
            .cast("int")
            .alias("correct"),
        )
    )


# --------------------------------------------------------------------
# Naive-Bayes domain classifier, trained AND applied in one
# relational plan — the fastText-classifier role (quality/domain
# tagging) without a model artifact. Scoring is fixed-point: the
# Laplace-smoothed token likelihood is quantized to parts-per-million
# with INTEGER division, so scores are BIGINT-exact across engines
# (a float log-sum would be ulp-divergent; the repo rule is
# integer-exact scores where rounding could split engines). The
# scorer is linear in likelihood space — sum of tf·ppm(tok|class) —
# which preserves the argmax behavior a smoothed unigram voter needs
# while staying exactly reproducible.
#
# Plan shape at 100 TB: token table shuffles on tok to meet the
# (tok × class) likelihood table (vocab-sized, hash join — AQE
# broadcasts it when small); per-doc score is one map-side-combinable
# aggregation on (doc_id, class). Nothing is corpus-quadratic; the
# class dimension (20) rides as a broadcast cross of class constants.
# --------------------------------------------------------------------
NB_ORACLE = f"""
WITH tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest({TOKS}) AS tok FROM documents)
  WHERE tok <> '' GROUP BY doc_id, tok
),
truth AS (SELECT doc_id, source FROM documents),
vocab AS (SELECT count(DISTINCT tok) AS v FROM tf),
cls AS (
  SELECT t.source AS class, CAST(sum(f.tf) AS BIGINT) AS tot,
         count(DISTINCT t.doc_id) AS n_docs
  FROM tf f JOIN truth t USING (doc_id) GROUP BY t.source
),
alldocs AS (SELECT count(*) AS n FROM documents),
prior AS (
  SELECT class, (n_docs * 1000000) // n AS prior_ppm,
         tot FROM cls, alldocs
),
ccnt AS (
  SELECT t.source AS class, f.tok, CAST(sum(f.tf) AS BIGINT) AS cnt
  FROM tf f JOIN truth t USING (doc_id) GROUP BY t.source, f.tok
),
lik AS (
  SELECT c.class, c.tok,
         ((c.cnt + 1) * 1000000) // (p.tot + v.v) AS ppm
  FROM ccnt c JOIN prior p USING (class) CROSS JOIN vocab v
),
dflt AS (
  SELECT p.class, 1000000 // (p.tot + v.v) AS ppm0
  FROM prior p CROSS JOIN vocab v
),
scored AS (
  SELECT f.doc_id, d.class,
         CAST(max(p.prior_ppm)
              + sum(f.tf * coalesce(l.ppm, d.ppm0)) AS BIGINT) AS score
  FROM tf f
  CROSS JOIN dflt d
  LEFT JOIN lik l ON l.class = d.class AND l.tok = f.tok
  JOIN prior p ON p.class = d.class
  GROUP BY f.doc_id, d.class
)
SELECT s.doc_id, t.source AS true_source,
       s.class AS predicted_source, s.score,
       CAST(s.class = t.source AS INTEGER) AS correct
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, class) AS r
  FROM scored
) s JOIN truth t USING (doc_id)
WHERE s.r = 1
"""


@query("t_nb_domain_classify", NB_ORACLE)
def t_nb_domain_classify(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.split(DD.normalize_text("text"), " ")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        # referenced by three subtrees (class totals, per-class counts,
        # scoring) — Spark plans are trees, so without a checkpoint the
        # corpus explode+shuffle would execute three times
        .localCheckpoint(eager=False)
    )
    truth = docs.select("doc_id", "source")
    vocab = tf.agg(F.countDistinct("tok").alias("v"))
    labeled = tf.join(truth, "doc_id")
    cls = labeled.groupBy(F.col("source").alias("class")).agg(
        F.sum("tf").cast("long").alias("tot"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    alldocs = docs.agg(F.count(F.lit(1)).alias("n"))
    prior = cls.crossJoin(F.broadcast(alldocs)).select(
        "class",
        F.expr("(n_docs * 1000000) div n").alias("prior_ppm"),
        "tot",
    )
    ccnt = labeled.groupBy(
        F.col("source").alias("class"), "tok"
    ).agg(F.sum("tf").cast("long").alias("cnt"))
    lik = (  # noqa: F841 — superseded by the wide one-pass scoring
        ccnt.join(F.broadcast(prior), "class")
        .crossJoin(F.broadcast(vocab))
        .select(
            "class",
            "tok",
            F.expr("((cnt + 1) * 1000000) div (tot + v)").alias("ppm"),
        )
    )
    # One-pass wide scoring (the o13 unpivot-two-stage shape): instead
    # of fanning tf out x n_classes before the aggregation (5.4 M rows
    # at sf0.1), pivot the tiny likelihood table wide (vocab rows x
    # class columns, broadcast), compute every class's score as its
    # own sum column in ONE map-side-combinable pass over tf, then
    # unpivot the per-doc score vector. Same exact integer ppm math.
    # Measured 4.2 s -> 2.2 s at sf0.1 (min-of-3, idle).
    pr = {
        r["class"]: (int(r["prior_ppm"]), int(r["tot"]))
        for r in prior.collect()
    }
    v = int(vocab.collect()[0]["v"])
    classes = sorted(pr)
    ppm0 = {c: 1_000_000 // (pr[c][1] + v) for c in classes}
    lik_wide = (
        lik.groupBy("tok")
        .pivot("class", classes)
        .agg(F.max("ppm"))
    )
    safe = {c: f"__s{i}" for i, c in enumerate(classes)}
    sums = tf.join(F.broadcast(lik_wide), "tok", "left").groupBy(
        "doc_id"
    ).agg(
        *[
            F.sum(
                F.col("tf")
                * F.coalesce(F.col(f"`{c}`"), F.lit(ppm0[c]))
            ).alias(safe[c])
            for c in classes
        ]
    )
    score_cols = [
        (F.lit(pr[c][0]) + F.col(safe[c])).cast("long").alias(safe[c])
        for c in classes
    ]
    scored = sums.select("doc_id", *score_cols).unpivot(
        ["doc_id"], [safe[c] for c in classes], "cls_key", "score"
    )
    cls_map = F.create_map(
        *[x for c in classes for x in (F.lit(safe[c]), F.lit(c))]
    )
    scored = scored.select(
        "doc_id", cls_map[F.col("cls_key")].alias("class"), "score"
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("class"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .join(truth, "doc_id")
        .select(
            "doc_id",
            F.col("source").alias("true_source"),
            F.col("class").alias("predicted_source"),
            "score",
            (F.col("class") == F.col("source")).cast("int").alias("correct"),
        )
    )


# --------------------------------------------------------------------
# Per-source duplication report — the first table a corpus owner
# reads: for each source, how many docs, how many are non-canonical
# members of a near-dup cluster (would be removed keeping the min-id
# representative), and the dup rate. Reuses the shared LSH candidate
# index + jaccard confirm + min-label components; the report itself
# is one broadcast-joined aggregation.
# --------------------------------------------------------------------
# --------------------------------------------------------------------
# Cosine range search (radius query): ALL corpus neighbors above a
# similarity threshold, not a fixed k — what retrieval-augmented
# filtering and clone detection actually ask ("everything at least
# this close"). Same broadcast-queries / one-corpus-stream shape as
# cosine_topk but with a threshold filter instead of a window, so the
# plan has NO shuffle at all: scan → score → filter. The LSH/IVF
# bucket families are the scale path when the query set is large.
# --------------------------------------------------------------------
_RANGE_TAU = 0.3

RANGE_ORACLE = f"""
WITH q AS (SELECT * FROM embeddings WHERE vec_id < 20),
c AS (SELECT * FROM embeddings WHERE vec_id >= 20)
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       round({_DOT.format(a='q.embedding', b='c.embedding')}
         / (sqrt({_DOT.format(a='q.embedding', b='q.embedding')})
            * sqrt({_DOT.format(a='c.embedding', b='c.embedding')})),
         6) AS cosine_sim
FROM q JOIN c ON true
WHERE round({_DOT.format(a='q.embedding', b='c.embedding')}
        / (sqrt({_DOT.format(a='q.embedding', b='q.embedding')})
           * sqrt({_DOT.format(a='c.embedding', b='c.embedding')})),
        6) >= {_RANGE_TAU}
"""


@query("s_range_search", RANGE_ORACLE)
def s_range_search(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        SIM.as_double_array("embedding").alias("__qv"),
    ).withColumn("__qn", SIM.norm(F.col("__qv")))
    c = emb.where(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("neighbor_id"),
        SIM.as_double_array("embedding").alias("__cv"),
    ).withColumn("__cn", SIM.norm(F.col("__cv")))
    return (
        c.join(F.broadcast(q))
        .withColumn(
            "cosine_sim",
            F.round(
                SIM.dot(F.col("__qv"), F.col("__cv"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ),
        )
        .where(F.col("cosine_sim") >= _RANGE_TAU)
        .select("query_id", "neighbor_id", "cosine_sim")
    )


# --------------------------------------------------------------------
# Curriculum buckets: quality-quartile planning (easy→hard ordering
# for curriculum training). Buckets are defined by VALUE thresholds
# (exact interpolated quartiles of the rounded quality score,
# themselves rounded), not by ntile — a global ntile window is a
# single-partition sort, which dies at corpus scale; threshold
# bucketing is one aggregate + one broadcast + one grouped pass.
# --------------------------------------------------------------------
_Q_SCORE_SQL = f"""
    round(0.4 * least(len({TOKS}) / 100.0, 1.0)
      + 0.2 * (CASE WHEN
          round(list_aggregate(list_transform({TOKS}, w -> length(w)),
                'sum') / greatest(len({TOKS}), 1), 6) BETWEEN 3.0 AND 8.0
          THEN 1.0 ELSE 0.5 END)
      + 0.2 * least(round(len(list_filter({TOKS},
            w -> w IN ('the','a','of','and','to','in','is','it')))
            / greatest(len({TOKS}), 1), 6) * 4.0, 1.0)
      + 0.2 * (1.0 - least(round((length(text)
            - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
            / greatest(length(text), 1), 6) * 5.0, 1.0)), 6)
"""

CURRICULUM_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, {_Q_SCORE_SQL} AS quality,
         len({TOKS}) AS n_tokens
  FROM documents
),
b AS (
  SELECT round(quantile_cont(quality, 0.25), 6) AS q1,
         round(quantile_cont(quality, 0.50), 6) AS q2,
         round(quantile_cont(quality, 0.75), 6) AS q3
  FROM scored
)
SELECT CAST(1 + CAST(quality > q1 AS INTEGER)
              + CAST(quality > q2 AS INTEGER)
              + CAST(quality > q3 AS INTEGER) AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(min(quality), 6) AS min_quality,
       round(max(quality), 6) AS max_quality
FROM scored, b
GROUP BY 1
"""


@query("p_curriculum_buckets", CURRICULUM_ORACLE)
def p_curriculum_buckets(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        TX.quality_score("text").alias("quality"),
        TX.token_count("text").alias("n_tokens"),
    )
    b = scored.agg(
        F.round(F.expr("percentile(quality, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(quality, 0.50)"), 6).alias("q2"),
        F.round(F.expr("percentile(quality, 0.75)"), 6).alias("q3"),
    )
    return (
        scored.crossJoin(F.broadcast(b))
        .select(
            (
                F.lit(1)
                + (F.col("quality") > F.col("q1")).cast("int")
                + (F.col("quality") > F.col("q2")).cast("int")
                + (F.col("quality") > F.col("q3")).cast("int")
            ).alias("bucket"),
            "n_tokens",
            "quality",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.min("quality"), 6).alias("min_quality"),
            F.round(F.max("quality"), 6).alias("max_quality"),
        )
    )


# --------------------------------------------------------------------
# LSH candidate recall — "measure, don't guess" for the dedup family:
# how many of the TRUE near-dup pairs (exact Jaccard ≥ 0.5) does the
# banded MinHash index actually surface as candidates? Ground truth
# is computed exactly on a SAMPLED pair universe (pairs touching the
# 100 lowest original doc ids) via a sample-side inverted index, so
# the exact computation is sample × corpus, never corpus² — the same
# asymmetry that makes the harness runnable at any scale while the
# LSH index under test stays whole-corpus.
# --------------------------------------------------------------------
def _lsh_recall_oracle() -> str:
    from .textops import _shingle_cte

    return f"""
WITH {_shingle_cte()},
sample_sh AS (
  SELECT doc_id, shingle FROM shingles WHERE doc_id % 1000000 < 100
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT least(s.doc_id, o.doc_id) AS a,
         greatest(s.doc_id, o.doc_id) AS b,
         count(DISTINCT s.shingle) AS n_common
  FROM sample_sh s JOIN shingles o
    ON s.shingle = o.shingle AND s.doc_id <> o.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.a, i.b
  FROM inter i
  JOIN sizes sa ON i.a = sa.doc_id
  JOIN sizes sb ON i.b = sb.doc_id
  WHERE round(n_common / (sa.sz + sb.sz - n_common), 6) >= 0.5
),
{{CAND}}
hit AS (
  SELECT t.a FROM truth t
  JOIN cand_norm c ON c.a = t.a AND c.b = t.b
)
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
       round((SELECT count(*) FROM hit) * 1.0
             / greatest((SELECT count(*) FROM truth), 1), 6) AS recall
"""


def _lsh_recall_oracle_full() -> str:
    # candidate pairs restricted + normalized, from the same banded
    # index the Spark side uses (textops._lsh_pairs_oracle CTEs)
    from .textops import LSH_BANDS, LSH_N_HASHES, _minhash_cte

    rows = LSH_N_HASHES // LSH_BANDS
    band_selects = []
    for b in range(LSH_BANDS):
        cat = " || '|' || ".join(
            f"minhash_{b * rows + r}" for r in range(rows)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({cat}) AS bucket FROM sigs"
        )
    buckets = " UNION ALL ".join(band_selects)
    cand = f"""
{_minhash_cte()},
buckets AS ({buckets}),
cand_norm AS (
  SELECT DISTINCT least(x.doc_id, y.doc_id) AS a,
         greatest(x.doc_id, y.doc_id) AS b
  FROM buckets x JOIN buckets y
    ON x.band = y.band AND x.bucket = y.bucket
   AND x.doc_id < y.doc_id
  WHERE x.doc_id % 1000000 < 100 OR y.doc_id % 1000000 < 100
),
"""
    return _lsh_recall_oracle().replace("{CAND}", cand)


@query("d_lsh_recall", _lsh_recall_oracle_full())
def d_lsh_recall(spark, sf_dir):
    from .textops import _lsh_shared

    shingles, cand = _lsh_shared(spark, sf_dir)
    in_sample = lambda c: F.col(c) % 1000000 < 100  # noqa: E731
    sample_sh = shingles.where(in_sample("doc_id")).select(
        F.col("doc_id").alias("s_doc"), "shingle"
    )
    # referenced by BOTH size-attach legs — materialize the per-doc
    # size table once instead of running the corpus-wide aggregation
    # twice (plans are trees)
    sizes = (
        shingles.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .localCheckpoint(eager=False)
    )
    # Broadcast the 100-doc sample's shingles: the inverted-index join
    # becomes map-side over the corpus shingle table (no shuffle of the
    # corpus side — guide §3.1), feeding the (a, b) partial agg
    # directly. The former corpus-sized DISTINCT on (a, b, shingle) is
    # replaced by an orientation filter proven equivalent:
    # word_shingles is distinct per (doc, shingle), so a sample-vs-
    # non-sample pair produces exactly one row, and a sample-vs-sample
    # pair produces both orientations — keeping only s_doc < o_doc for
    # those leaves every (a, b, shingle) exactly once (guide §2.4: a
    # distinct on data that is already unique is a free shuffle).
    inter = (
        shingles.select(F.col("doc_id").alias("o_doc"), "shingle")
        .join(F.broadcast(sample_sh), "shingle")
        .where(F.col("s_doc") != F.col("o_doc"))
        .where((~in_sample("o_doc")) | (F.col("s_doc") < F.col("o_doc")))
        .select(
            F.least("s_doc", "o_doc").alias("a"),
            F.greatest("s_doc", "o_doc").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # size attach: broadcast the PAIR-sized side (bounded by the
    # sample), never the corpus-sized ``sizes`` table — each join is
    # then one map-side pass over sizes at any scale
    with_sza = F.broadcast(inter).join(
        sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza")),
        "a",
    )
    truth = (
        F.broadcast(with_sza)
        .join(
            sizes.select(
                F.col("doc_id").alias("b"), F.col("sz").alias("szb")
            ),
            "b",
        )
        .where(
            F.round(
                F.col("n_common")
                / (F.col("sza") + F.col("szb") - F.col("n_common")),
                6,
            )
            >= 0.5
        )
        .select("a", "b")
    )
    cand_norm = (
        cand.where(in_sample("a") | in_sample("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    # n_truth and n_hit in ONE pass over truth: a left join against
    # the (tiny, unique) candidate pair set marks each truth pair,
    # count(*) vs count(mark) replaces the former two separate
    # aggregates (which duplicated the whole truth subtree — plans
    # are trees — and needed a checkpoint to stay single-build).
    # truth pairs are unique (groupBy output), cand_norm is distinct,
    # so the left join is row-preserving and count(mark) = |truth ∩
    # cand| exactly as the old inner-join count.
    marked = truth.join(
        F.broadcast(cand_norm.withColumn("__c", F.lit(1))),
        ["a", "b"],
        "left",
    )
    return marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        F.count("__c").cast("long").alias("n_hit"),
    ).select(
        "n_truth",
        "n_hit",
        F.round(
            F.col("n_hit") / F.greatest(F.col("n_truth"), F.lit(1)), 6
        ).alias("recall"),
    )


# --------------------------------------------------------------------
# OOD / mislabel detection: cosine of each vector against its OWN
# label's centroid direction. The centroid is the exact integer sum
# of micro-quantized components (floor(val·1e6) summed in
# decimal(38,0) — associative, order-free), so the score's inputs are
# BIGINT-exact on both engines and the only float ops are the final
# sqrt/divide on identical integers. cos < 0 ⇒ the vector points
# away from its class: a label-noise candidate for curation review.
# Plan: one (label,pos) aggregation builds the labels×dim centroid
# table (broadcast-sized), one map-side join scores every vector.
# --------------------------------------------------------------------
OOD_ORACLE = """
WITH vq AS (
  SELECT vec_id, label, pos,
         CAST(floor(CAST(embedding[pos] AS DOUBLE) * 1000000)
              AS BIGINT) AS q
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS u(pos)
),
cent AS (
  SELECT label, pos, sum(q) AS cq FROM vq GROUP BY label, pos
),
cnorm AS (
  SELECT label, sum(cq * cq) AS cn FROM cent GROUP BY label
),
scored AS (
  SELECT v.vec_id, v.label,
         sum(CAST(v.q AS HUGEINT) * c.cq) AS dvc,
         sum(CAST(v.q AS HUGEINT) * v.q) AS vn
  FROM vq v JOIN cent c ON c.label = v.label AND c.pos = v.pos
  GROUP BY v.vec_id, v.label
)
SELECT s.vec_id, s.label,
       round(CAST(s.dvc AS DOUBLE)
             / (sqrt(CAST(s.vn AS DOUBLE))
                * sqrt(CAST(n.cn AS DOUBLE))), 6) AS cos_centroid,
       CAST(CAST(s.dvc AS DOUBLE)
            / (sqrt(CAST(s.vn AS DOUBLE))
               * sqrt(CAST(n.cn AS DOUBLE))) < 0 AS INTEGER) AS is_ood
FROM scored s JOIN cnorm n ON n.label = s.label
"""


@query("s_ood_centroid", OOD_ORACLE)
def s_ood_centroid(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    vq = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos0", "val"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("val").cast("double") * 1000000)
        .cast("long")
        .alias("q"),
    )
    cent = vq.groupBy("label", "pos").agg(F.sum("q").alias("cq"))
    dec = "decimal(38,0)"
    cnorm = cent.groupBy("label").agg(
        F.sum(F.col("cq").cast(dec) * F.col("cq").cast(dec)).alias("cn")
    )
    scored = (
        vq.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("q").cast(dec) * F.col("cq").cast(dec)).alias(
                "dvc"
            ),
            F.sum(F.col("q").cast(dec) * F.col("q").cast(dec)).alias(
                "vn"
            ),
        )
    )
    cos = F.col("dvc").cast("double") / (
        F.sqrt(F.col("vn").cast("double"))
        * F.sqrt(F.col("cn").cast("double"))
    )
    return scored.join(F.broadcast(cnorm), "label").select(
        "vec_id",
        "label",
        F.round(cos, 6).alias("cos_centroid"),
        (cos < 0).cast("int").alias("is_ood"),
    )


def _dup_by_source_oracle() -> str:
    from .textops import _components_cte

    return (
        _components_cte()
        + """
, planted AS (
  SELECT doc_id, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000, source FROM documents
)
SELECT p.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN c.node IS NOT NULL AND c.node <> c.component
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       round(sum(CASE WHEN c.node IS NOT NULL AND c.node <> c.component
                      THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS dup_rate
FROM planted p LEFT JOIN comp c ON c.node = p.doc_id
GROUP BY p.source
"""
    )


@query("report_dup_rate_by_source", _dup_by_source_oracle())
def report_dup_rate_by_source(spark, sf_dir):
    from .textops import _dup_components_shared

    docs = table(spark, sf_dir, "documents")
    planted = docs.select("doc_id", "source").unionByName(
        docs.select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "source"
        )
    )
    comp = _dup_components_shared(spark, sf_dir)
    is_dup = F.col("node").isNotNull() & (
        F.col("node") != F.col("component")
    )
    return (
        planted.join(comp, planted.doc_id == comp.node, "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(is_dup.cast("long")).cast("long").alias("n_dup"),
            F.round(
                F.sum(is_dup.cast("long")) / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
        )
    )


# --------------------------------------------------------------------
# Token-yield report: the number a corpus owner actually budgets with.
# For each source, total tokens, tokens surviving exact dedup (one
# keeper per identical normalized text), and tokens surviving
# near-dup removal (the chain_neardup_removal keep rule), plus floor
# ppm yields. Exact dedup groups on md5(normalized text) so the
# shuffle key is 32 bytes, never the document body; near-dup keepers
# come from the shared LSH -> confirm -> components pipeline, whose
# component table is proportional to the duplicated subset only.
# Everything is BIGINT counts; the ppm divisions are floor integer
# division on non-negative values, bit-identical across engines.
# --------------------------------------------------------------------
def _dedup_yield_oracle() -> str:
    from .textops import _components_cte

    return (
        _components_cte()
        + """
, ntext AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM corpus
),
tokc AS (
  SELECT doc_id,
         CASE WHEN norm = '' THEN 0
              ELSE len(string_split(norm, ' ')) END AS tok
  FROM ntext
),
ekeep AS (
  SELECT min(doc_id) AS keeper FROM ntext GROUP BY md5(norm)
),
marked AS (
  SELECT c.doc_id,
         d.source,
         t.tok,
         CASE WHEN e.keeper IS NOT NULL THEN 1 ELSE 0 END AS keep_exact,
         CASE WHEN comp.node IS NULL OR comp.component = c.doc_id
              THEN 1 ELSE 0 END AS keep_near
  FROM corpus c
  JOIN documents d ON d.doc_id = c.doc_id % 1000000
  JOIN tokc t ON t.doc_id = c.doc_id
  LEFT JOIN ekeep e ON e.keeper = c.doc_id
  LEFT JOIN comp ON comp.node = c.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS tok_total,
       CAST(sum(keep_exact * tok) AS BIGINT) AS tok_exact,
       CAST(sum(keep_near * tok) AS BIGINT) AS tok_neardup,
       CAST((CAST(sum(keep_exact * tok) AS HUGEINT) * 1000000)
            // greatest(sum(tok), 1) AS BIGINT) AS yield_exact_ppm,
       CAST((CAST(sum(keep_near * tok) AS HUGEINT) * 1000000)
            // greatest(sum(tok), 1) AS BIGINT) AS yield_neardup_ppm
FROM marked GROUP BY source
"""
    )


@query("t_dedup_yield", _dedup_yield_oracle())
def t_dedup_yield(spark, sf_dir):
    from .textops import _near_corpus_spark

    corpus = _near_corpus_spark(spark, sf_dir)
    norm = TX.normalize_text(F.col("text"))
    base = corpus.select(
        "doc_id",
        F.md5(norm).alias("nh"),
        TX.token_count(F.col("text")).cast("long").alias("tok"),
    )
    ekeep = base.groupBy("nh").agg(F.min("doc_id").alias("keeper"))
    from .textops import _dup_components_shared

    comp = _dup_components_shared(spark, sf_dir).withColumnRenamed(
        "node", "doc_id"
    )
    src = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("orig_id"), "source"
    )
    marked = (
        base.join(
            ekeep.select(F.col("keeper").alias("doc_id")).withColumn(
                "keep_exact", F.lit(1)
            ),
            "doc_id",
            "left",
        )
        .join(comp, "doc_id", "left")
        .withColumn(
            "keep_near",
            (
                F.col("component").isNull()
                | (F.col("component") == F.col("doc_id"))
            ).cast("int"),
        )
        .withColumn("orig_id", F.col("doc_id") % 1000000)
        .join(src, "orig_id")
    )
    hug = "decimal(38,0)"
    te = F.sum(F.coalesce(F.col("keep_exact"), F.lit(0)) * F.col("tok"))
    tn = F.sum(F.col("keep_near") * F.col("tok"))
    tt = F.sum("tok")
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        tt.cast("long").alias("tok_total"),
        te.cast("long").alias("tok_exact"),
        tn.cast("long").alias("tok_neardup"),
        F.expr(
            f"CAST((CAST(sum(coalesce(keep_exact, 0) * tok) AS {hug})"
            f" * 1000000) div greatest(sum(tok), 1) AS BIGINT)"
        ).alias("yield_exact_ppm"),
        F.expr(
            f"CAST((CAST(sum(keep_near * tok) AS {hug})"
            f" * 1000000) div greatest(sum(tok), 1) AS BIGINT)"
        ).alias("yield_neardup_ppm"),
    )


# --------------------------------------------------------------------
# Join-key skew diagnosis: the report you run BEFORE a big join. For
# the heaviest 20 values of lineitem.l_suppkey: row count, corpus
# share in ppm, whether the key alone exceeds one ideal partition of
# a 32-way shuffle, and the salt fan-out that would level it
# (ceil(cnt * 32 / total)). Top-k is orderBy+limit — Spark plans
# TakeOrderedAndProject (per-partition heaps + driver merge of 20-row
# tops), never a global sort; the rank window runs on the 20
# surviving rows only. All integer arithmetic.
# --------------------------------------------------------------------
SKEW_REPORT_ORACLE = """
WITH counts AS (
  SELECT l_suppkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1
),
tot AS (SELECT sum(cnt) AS total FROM counts),
top AS (
  SELECT key, cnt FROM counts ORDER BY cnt DESC, key LIMIT 20
)
SELECT row_number() OVER (ORDER BY cnt DESC, key) AS rank,
       key, cnt,
       CAST((CAST(cnt AS HUGEINT) * 1000000) // total AS BIGINT)
         AS share_ppm,
       CAST(cnt * 32 > total AS INTEGER) AS exceeds_partition,
       CAST(greatest((CAST(cnt AS HUGEINT) * 32 + total - 1) // total,
                     1) AS BIGINT) AS salt_factor
FROM top, tot
"""


@query("o16_skew_report", SKEW_REPORT_ORACLE)
def o16_skew_report(spark, sf_dir):
    from pyspark.sql.window import Window as W

    counts = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = counts.agg(F.sum("cnt").alias("total"))
    top = counts.orderBy(F.desc("cnt"), F.asc("key")).limit(20)
    hug = "decimal(38,0)"
    return (
        top.crossJoin(F.broadcast(tot))
        .withColumn(
            "rank",
            F.row_number().over(
                W.orderBy(F.desc("cnt"), F.asc("key"))
            ),
        )
        .select(
            "rank",
            "key",
            "cnt",
            F.expr(
                f"CAST((CAST(cnt AS {hug}) * 1000000) div total"
                f" AS BIGINT)"
            ).alias("share_ppm"),
            (F.col("cnt") * 32 > F.col("total"))
            .cast("int")
            .alias("exceeds_partition"),
            F.expr(
                f"CAST(greatest((CAST(cnt AS {hug}) * 32 + total - 1)"
                f" div total, 1) AS BIGINT)"
            ).alias("salt_factor"),
        )
    )


# --------------------------------------------------------------------
# Top principal direction of the embedding second-moment matrix via
# fixed-point power iteration — the whitening/PCA primitive a
# curation pipeline runs before SemDeDup-style clustering. Same
# fixed-iteration discipline as g_pagerank_fixed: micro-quantized
# components (floor(val*1e6)) make the dim x dim moment matrix an
# exact integer aggregate; each of the 8 sweeps is one join of the
# 4096-row matrix against the 64-row vector plus one tiny shuffle
# (sweep count is a knob: convergence ~ (lambda2/lambda1)^k, so
# near-isotropic spectra need more sweeps — the engines agree
# bit-exactly at ANY count);
# rescaling divides by max|w| with sign-split floor division so both
# engines truncate identically on negatives. At 100 TB the moment
# matrix build is the only corpus-scale stage (one partial-agg scan,
# d^2 accumulator); the iteration cost is independent of corpus size.
# --------------------------------------------------------------------
def _pca_oracle(iters: int = 8) -> str:
    # Every sweep CTE is MATERIALIZED: DuckDB inlines a plain CTE again
    # at each reference, and v{k} reads w{k} twice (directly and via
    # m{k}), so unmaterialized each sweep doubles the plan — 8 sweeps
    # hold ~2^8 copies of the cmat self-join and exhaust memory.
    head = """
WITH vq AS (
  SELECT vec_id, pos,
         CAST(floor(CAST(embedding[pos] AS DOUBLE) * 1000000)
              AS BIGINT) AS q
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS u(pos)
),
cmat AS MATERIALIZED (
  SELECT a.pos AS i, b.pos AS j,
         sum(CAST(a.q AS HUGEINT) * b.q) AS c
  FROM vq a JOIN vq b ON a.vec_id = b.vec_id
  GROUP BY 1, 2
),
v0 AS MATERIALIZED (
  SELECT DISTINCT pos, CAST(1000000 AS HUGEINT) AS v FROM vq
)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
w{k} AS MATERIALIZED (
  SELECT cmat.i AS pos, sum(cmat.c * v.v) AS w
  FROM cmat JOIN v{k - 1} v ON v.pos = cmat.j
  GROUP BY 1
),
m{k} AS MATERIALIZED (SELECT max(abs(w)) AS m FROM w{k}),
v{k} AS MATERIALIZED (
  SELECT pos,
         CASE WHEN w < 0 THEN -((-w * 1000000) // m)
              ELSE (w * 1000000) // m END AS v
  FROM w{k}, m{k}
)""")
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
SELECT pos, CAST(v AS BIGINT) AS v_fixed FROM v{iters}
"""
    )


@query("s_pca_topdir", _pca_oracle())
def s_pca_topdir(spark, sf_dir, iters: int = 8):
    emb = table(spark, sf_dir, "embeddings")
    hug = "decimal(38,0)"
    # quantization (floor(val*1e6) on float64) happens inside the
    # Arrow kernel below — same IEEE ops as the oracle's SQL floor
    # the ONLY corpus-scale stage: one scan + the d^2
    # partial aggregate. The moment matrix is dim^2 = 4096 rows —
    # dimension-sized, not corpus-sized — so the 8 power sweeps run
    # on the driver in exact arbitrary-precision ints (bit-identical
    # to the HUGEINT/decimal(38,0) SQL: Python int IS unbounded, and
    # the sign-split floor division below is the same truncation).
    # This removes ~25 per-sweep Spark jobs; at 100 TB the plan is
    # one scan + a 4096-row collect, iteration cost zero.
    # map-side combine for the outer products: each Arrow batch of
    # vectors contributes ONE 4096-row partial matrix (int64 einsum —
    # exact: |q| <= 1e6 so q_i*q_j <= 1e12, and a 10k-row batch sums
    # to <= 1e16, far under int64; the cross-batch sum that CAN
    # exceed int64 at corpus scale happens in decimal(38,0)). The
    # shuffle moves n_batches * d^2 rows, never corpus * d^2.
    import numpy as np

    # 50k rows per einsum chunk bounds a partial sum at
    # 5e4 * 1e12 = 5e16 << 2^63 REGARDLESS of how large Arrow
    # batches are configured — one partial matrix is emitted per
    # chunk, never accumulated in int64 across chunks
    _CHUNK = 50_000

    def partial_outer(batches):
        import pandas as pd

        for pdf in batches:
            # NULL embeddings contribute nothing (the old posexplode
            # dropped them; the oracle's unnest does too)
            col = pdf["embedding"].dropna()
            if not len(col):
                continue
            lens = col.map(len)
            # group by length so a ragged corpus still sums pos-wise
            # (each length group is a rectangular einsum)
            for _l, sub in col.groupby(lens):
                rows = np.stack(
                    [np.asarray(e, dtype="float64") for e in sub]
                )
                for s in range(0, len(rows), _CHUNK):
                    qm = np.floor(
                        rows[s : s + _CHUNK] * 1_000_000
                    ).astype("int64")
                    m = np.einsum("ni,nj->ij", qm, qm)
                    d = m.shape[0]
                    ii, jj = np.meshgrid(
                        np.arange(1, d + 1),
                        np.arange(1, d + 1),
                        indexing="ij",
                    )
                    yield pd.DataFrame(
                        {
                            "i": ii.ravel().astype("int32"),
                            "j": jj.ravel().astype("int32"),
                            "cp": m.ravel(),
                        }
                    )

    cmat_rows = (
        emb.select("embedding")
        .mapInPandas(partial_outer, "i int, j int, cp long")
        .groupBy("i", "j")
        .agg(F.sum(F.col("cp").cast(hug)).alias("c"))
        .collect()
    )
    cmat = {(r["i"], r["j"]): int(r["c"]) for r in cmat_rows}
    dims = sorted({i for i, _ in cmat})
    if not dims:
        # empty / all-NULL corpus: no direction, like the oracle
        return spark.createDataFrame([], "pos int, v_fixed long")
    v = {p: 10**6 for p in dims}
    for _ in range(iters):
        w = {
            i: sum(cmat[(i, j)] * v[j] for j in dims if (i, j) in cmat)
            for i in dims
        }
        m = max(abs(x) for x in w.values())
        if m == 0:
            raise ValueError(
                "degenerate (all-zero) moment matrix — no principal "
                "direction exists for this corpus"
            )
        v = {
            i: (
                -((-w[i] * 1000000) // m)
                if w[i] < 0
                else (w[i] * 1000000) // m
            )
            for i in dims
        }
    return spark.createDataFrame(
        [(p, int(v[p])) for p in dims], "pos int, v_fixed long"
    ).select("pos", "v_fixed")
