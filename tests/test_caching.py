"""Unified persist-registry semantics (operators/caching.py).

Covers the lifecycle invariants the r5 ADVICE flagged: true-LRU
recency on reuse hits, applicationId session-scoping (a plan from a
dead/foreign session must never be served or unpersisted through a
stopped SparkContext), retire-previous bounding, and the
semantic-dedup compact-projection persist (no embedding column ever
persisted)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rpa_etl_investing_spark.operators import caching
from rpa_etl_investing_spark.operators.caching import (
    _STORE,
    _Entry,
    keep,
    keep_or_reuse,
    release_all,
    release_scope,
)

SCOPE = "test_caching_scope"


@pytest.fixture(autouse=True)
def _clean_scope():
    release_scope(SCOPE)
    yield
    release_scope(SCOPE)


def test_keep_or_reuse_returns_warm_relation_for_same_plan(spark, sf_dir):
    a = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey")
    b = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey")
    got_a = keep_or_reuse(a, SCOPE)
    got_b = keep_or_reuse(b, SCOPE)
    assert got_b is got_a, "identical plans must reuse the persisted relation"
    assert len(_STORE[SCOPE]) == 1


def test_keep_or_reuse_distinguishes_sources_with_same_shape(spark, sf_dir):
    """The r5 collision bug: one pipeline shape over two corpora printed
    identically; sameResult keying must keep them distinct."""
    a = keep_or_reuse(
        spark.read.parquet(f"{sf_dir}/nation.parquet").select(
            F.col("n_nationkey").alias("k")
        ),
        SCOPE,
    )
    b = keep_or_reuse(
        spark.read.parquet(f"{sf_dir}/region.parquet").select(
            F.col("r_regionkey").alias("k")
        ),
        SCOPE,
    )
    assert b is not a
    assert len(_STORE[SCOPE]) == 2


def test_keep_or_reuse_is_lru_not_fifo(spark, sf_dir):
    """A reuse hit must REFRESH recency: after hitting the oldest entry,
    filling the cache evicts a colder one, not the hot one (ADVICE r5:
    the old list was FIFO — a hot corpus' signatures got evicted while
    cold entries survived)."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")

    def rel(i: int):
        return nation.filter(F.col("n_nationkey") >= i).select("n_nationkey")

    hot = keep_or_reuse(rel(0), SCOPE, cap=3)
    keep_or_reuse(rel(1), SCOPE, cap=3)
    keep_or_reuse(rel(2), SCOPE, cap=3)  # cache full: [hot, 1, 2]
    assert keep_or_reuse(rel(0), SCOPE, cap=3) is hot  # hit refreshes → [1, 2, hot]
    keep_or_reuse(rel(3), SCOPE, cap=3)  # evicts rel(1), NOT hot
    assert keep_or_reuse(rel(0), SCOPE, cap=3) is hot, (
        "hot entry was evicted despite a recent hit — FIFO, not LRU"
    )


def test_dead_session_entries_never_served_or_unpersisted(spark, sf_dir):
    """Entries whose applicationId is not the live session's must be
    invisible to lookups and must not be unpersisted through their
    (possibly stopped) SparkContext on eviction/release (ADVICE r5)."""
    df = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey")
    plan = df._jdf.queryExecution().analyzed()

    class _Boom:
        def unpersist(self):
            raise AssertionError("unpersist must not be called on a dead session")

    _STORE.setdefault(SCOPE, []).append(_Entry(_Boom(), plan, "app-from-dead-session"))
    got = keep_or_reuse(df, SCOPE)
    assert not isinstance(got, _Boom), "served a relation from a dead session"
    release_scope(SCOPE, live_app=spark.sparkContext.applicationId)  # must not raise


def test_keep_retires_previous_in_scope_only(spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    keep(nation.select("n_nationkey"), SCOPE)
    other = keep(nation.select("n_name"), "test_caching_other")
    keep(nation.select("n_regionkey"), SCOPE)
    assert len(_STORE[SCOPE]) == 1, "retire-previous must bound the scope at one"
    assert _STORE["test_caching_other"][0].df is other, "foreign scope retired"
    release_scope("test_caching_other")


def test_keep_append_mode_accumulates_rounds(spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    keep(nation.select("n_nationkey"), SCOPE)
    keep(nation.select("n_name"), SCOPE, retire=False)
    assert len(_STORE[SCOPE]) == 2


def test_release_all_empties_every_scope(spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    keep(nation.select("n_nationkey"), SCOPE)
    keep_or_reuse(nation.select("n_name"), "test_caching_other")
    release_all()
    assert not _STORE


def test_semantic_dedup_persists_compact_projection_only(spark, sf_dir):
    """The persisted cell assignment must exclude the embedding column:
    caching fact-sized vector-carrying relations would hold the whole
    corpus' vectors in MEMORY_AND_DISK at scale (ADVICE r5)."""
    from rpa_etl_investing_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    release_scope("kept")
    out = semantic_dedup(emb, n_centroids=4, threshold=0.95)
    assert out.count() > 0
    cached_cols = [set(e.df.columns) for e in _STORE.get("kept", [])]
    assert cached_cols, "semantic_dedup no longer persists its assignment"
    for cols in cached_cols:
        assert "embedding" not in cols, f"vector column persisted: {cols}"
    release_scope("kept")


def test_spread_invariant_check_rejects_duplicate_keys(spark, monkeypatch):
    from rpa_etl_investing_spark.operators.dedup import spread

    monkeypatch.setenv("SPARK_GRAFT_CHECK_INVARIANTS", "1")
    docs = spark.createDataFrame(
        [(1, "a b c"), (1, "a b c"), (2, "d e f")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="one row per"):
        spread(docs, "doc_id")
    ok = spread(docs.dropDuplicates(["doc_id"]), "doc_id")
    assert ok.count() == 2


def test_graph_caches_route_through_registry(spark):
    """pagerank/kcore persist lifecycles now live in the unified store."""
    from rpa_etl_investing_spark.operators.graph import (
        kcore_peel,
        pagerank,
    )

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 1, 1)], "src long, dst long, w long"
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    pagerank(nodes, edges, iters=2).collect()
    assert len(_STORE.get("graph_edges", [])) == 1
    kcore_peel(edges, k=2, rounds=2).collect()
    assert len(_STORE.get("graph_kcore", [])) == 3  # sym + one per round
    release_scope("graph_edges")
    release_scope("graph_kcore")
    assert not _STORE.get("graph_edges") and not _STORE.get("graph_kcore")


def test_hit_repersists_externally_cleared_cache(spark, sf_dir):
    """A sameResult hit whose persist was dropped OUTSIDE the registry
    (clearCache / manual unpersist) must come back persisted — the
    reuse contract AND the optimizer-barrier contract (the winnowing
    query's InferFiltersFromGenerate guard) both depend on the
    returned frame actually being cached."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    df = keep_or_reuse(nation.select("n_nationkey"), "test_caching_heal")
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    df.unpersist()  # external actor drops the cache, registry unaware
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)
    again = keep_or_reuse(nation.select("n_nationkey"), "test_caching_heal")
    assert again is df  # still the same plan-matched entry
    assert again.storageLevel.useMemory or again.storageLevel.useDisk
    release_scope("test_caching_heal")


def test_persist_once_skips_equivalent_cached_plan(spark):
    """r9 (verdict item #5): persist_once() on a FRESHLY-BUILT logically
    equal plan must NOT call persist again — the new object reports the
    cached entry's storage level (Dataset.storageLevel is a CacheManager
    sameResult lookup), and a second persist is the no-op that spammed
    'Asked to cache already cached data' once per bench rep. Detected
    by counting actual persist() calls via monkeypatch."""
    from rpa_etl_investing_spark.operators.caching import persist_once

    df1 = spark.range(512).selectExpr("id", "id * 7 AS v7")
    # patch the CONCRETE class (pyspark 4's classic.DataFrame overrides
    # persist; patching the abstract parent would count nothing)
    DataFrame = type(df1)
    try:
        persist_once(df1)
        df1.count()  # materialize the cache entry
        df2 = spark.range(512).selectExpr("id", "id * 7 AS v7")
        calls = []
        real_persist = DataFrame.persist
        DataFrame.persist = lambda self, *a, **k: (
            calls.append(1), real_persist(self, *a, **k))[1]
        try:
            out = persist_once(df2)
        finally:
            DataFrame.persist = real_persist
        assert not calls, "persist_once re-persisted an already-cached plan"
        assert out.count() == 512
        # and a genuinely different plan DOES persist
        df3 = spark.range(512).selectExpr("id", "id * 9 AS v9")
        DataFrame.persist = lambda self, *a, **k: (
            calls.append(1), real_persist(self, *a, **k))[1]
        try:
            persist_once(df3)
        finally:
            DataFrame.persist = real_persist
        assert calls, "persist_once failed to persist a new plan"
        df3.unpersist()
    finally:
        df1.unpersist()
