"""Round-9 optimization hardening: the r8 ADVICE fixes (shared-codes
codebook identity, artifact eviction hook) and equivalence tests for
the round's structural rewrites."""

from __future__ import annotations

import pytest

from .conftest import SF_SMALL


def test_pq_shared_codes_rebuilds_on_codebook_change(spark):
    """Reusing a tag with a DIFFERENT codebook object must rebuild the
    encoded-corpus memo, not silently return codes encoded against the
    old codebook (r8 ADVICE item 3)."""
    from historical_obs_platform_spark.queries.curation3 import (
        _PQ_POINTS,
        _pq_shared_codebook,
        _pq_shared_codes,
        _pq_shared_sharded_codebook,
    )

    sf_dir = SF_SMALL
    p0 = _PQ_POINTS[0]
    cents_a = _pq_shared_codebook(spark, sf_dir, p0)
    codes_a = _pq_shared_codes(spark, sf_dir, p0, cents_a, "r9test")
    # same tag, same codebook object -> memo hit (same handle)
    assert _pq_shared_codes(spark, sf_dir, p0, cents_a, "r9test") is codes_a
    # same tag, different codebook object -> rebuild, not the old codes
    cents_b = _pq_shared_sharded_codebook(spark, sf_dir, p0)
    assert cents_b is not cents_a
    codes_b = _pq_shared_codes(spark, sf_dir, p0, cents_b, "r9test")
    assert codes_b is not codes_a


def test_unshare_all_clears_every_memo(spark):
    """The artifact eviction hook empties every session memo and the
    next consumer rebuilds (r8 ADVICE item 4)."""
    from historical_obs_platform_spark import artifacts
    from historical_obs_platform_spark.queries.textops import _lsh_shared

    sh_a, cand_a = _lsh_shared(spark, SF_SMALL)
    assert artifacts._STORE  # populated by the call above
    n = artifacts.unshare_all()
    assert n >= 1
    for d in artifacts._memo_dicts():
        assert d == {}
    # consumers rebuild lazily and the rebuilt artifact is equivalent
    sh_b, cand_b = _lsh_shared(spark, SF_SMALL)
    assert sh_b is not sh_a
    got_a = sorted(tuple(r) for r in cand_b.collect())
    got_b = sorted(tuple(r) for r in cand_a.collect())
    assert got_a == got_b


def test_nprobe_curve_unpersists_on_error(spark, monkeypatch):
    """If the arm collect raises, BOTH of the harness's own persists
    are released (r8 ADVICE item 1: `scored` previously leaked)."""
    from historical_obs_platform_spark import registry
    from historical_obs_platform_spark.registry import QUERIES
    # patch the CLASSIC DataFrame (Spark 4 splits classic/connect;
    # the parent class's collect is overridden and never called)
    from pyspark.sql.classic.dataframe import DataFrame

    registry.load_all()

    sf_dir = SF_SMALL
    jsc = spark.sparkContext._jsc.sc()

    def n_persisted():
        return jsc.getPersistentRDDs().size()

    # warm call builds the session-shared artifacts (those legitimately
    # stay persisted); the snapshot after it isolates the harness's OWN
    # per-call persists
    QUERIES["s_ivf_nprobe_curve"](spark, sf_dir)
    before = n_persisted()
    real_collect = DataFrame.collect
    calls = {"n": 0}

    def exploding_collect(self):
        calls["n"] += 1
        # let the truth-pairs collect through; blow up on a later one
        if calls["n"] >= 2:
            raise RuntimeError("boom")
        return real_collect(self)

    monkeypatch.setattr(DataFrame, "collect", exploding_collect)
    with pytest.raises(RuntimeError, match="boom"):
        QUERIES["s_ivf_nprobe_curve"](spark, sf_dir)
    monkeypatch.undo()
    assert n_persisted() <= before


def test_ivfpq_rerank_cand_path_identical(spark):
    """ivfpq_rerank_topk(cand=prebuilt ADC top-kprime) must return
    exactly the rows of the self-computed path, and the plain-ADC
    top-5 must equal rank<=5 of the top-25 window (the one-pass
    rewrite of s_ivfpq_rerank_recall)."""
    from historical_obs_platform_spark.operators import similarity as SIM
    from historical_obs_platform_spark.queries.common import table
    from historical_obs_platform_spark.queries.curation3 import (
        _ivfpq_shared,
    )
    from pyspark.sql import functions as F

    sf_dir = SF_SMALL
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    cent, cb, codes = _ivfpq_shared(spark, sf_dir)
    self_path = sorted(
        tuple(r)
        for r in SIM.ivfpq_rerank_topk(
            cent, cb, codes, emb, queries, k=5, kprime=25, nprobe=4
        ).collect()
    )
    adc25 = SIM.ivfpq_query(cent, cb, codes, queries, k=25, nprobe=4)
    cand_path = sorted(
        tuple(r)
        for r in SIM.ivfpq_rerank_topk(
            cent, cb, codes, emb, queries, k=5, kprime=25, nprobe=4,
            cand=adc25.select("query_id", "neighbor_id"),
        ).collect()
    )
    assert cand_path == self_path
    adc5_direct = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in SIM.ivfpq_query(
            cent, cb, codes, queries, k=5, nprobe=4
        ).collect()
    )
    adc5_from25 = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in adc25.where(F.col("rank") <= 5).collect()
    )
    assert adc5_from25 == adc5_direct
