"""Concurrent query issue against one SparkSession (r6 verdict item #3).

A real engine serves parallel queries; Spark supports driver-side
thread pools (each action is an independent job), but the repo's own
shared state — the persist registry's recency lists, the workers'
package path, the scratch-dir writers — had only ever run single-threaded.
These tests hammer exactly those paths:

- the LRU registry under 16 threads × mixed scopes (no lost entries,
  no double-persist of the same plan, eviction respects the cap),
- a representative 24-query slice of the registry driven from an
  8-thread pool WITH oracle comparison (the full-registry 8-thread
  sweep runs via ``scripts/verify_driver_contract.py --threads 8`` and
  is recorded in LOCAL_VERIFY; this keeps a fast regression in-suite),
- the workers' package path staying a single entry under concurrent calls.
"""

from __future__ import annotations

import pytest

import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

import rpa_etl_investing_spark.plans as plans
from tests.parity import run_compare

# Slice chosen to cover the shared-state paths: dedup sig caches
# (keep_or_reuse from both sides of self-joins), graph per-round keeps,
# scratch-dir writers, pandas UDFs (worker imports), SQL temp views, and
# plain joins/aggs for volume.
CONCURRENT_SLICE = [
    "llm_minhash_pairs",
    "llm_minhash_bucket_audit",
    "llm_simhash64_hamming_pairs",
    "llm_simhash64_bucket_audit",
    "llm_exact_dedup",
    "graph_nation_pagerank",
    "graph_kcore",
    "source_csv_roundtrip",
    "source_json_corrupt_metrics",
    "agg_grouping_sets",
    "agg_pricing_summary",
    "join_star_broadcast",
    "flagship_topk",
    "udf_grouped_agg_spread",
    "llm_tfidf_topk",
    "timeseries_ewma",
    "analytics_price_elasticity",
    "etl_reject_metrics",
    "window_rank_dense",
    "curation_deterministic_split",
    "llm_quality_score",
    "agg_approx_distinct",
    "analytics_theil_decomposition",
    "llm_token_entropy",
]


@pytest.mark.slow
def test_concurrent_slice_matches_oracles(spark, sf_dir):
    """24 registry queries issued from 8 threads against ONE session,
    each compared against its DuckDB oracle. Any registry race (wrong
    cache entry served, unpersist of a relation another thread is
    reading, scratch-dir collision) surfaces as a MISMATCH/ERROR."""
    names = [n for n in CONCURRENT_SLICE if n in plans.QUERIES]
    assert len(names) >= 20, f"slice went stale: {names}"
    failures: dict[str, list[str] | str] = {}
    lock = threading.Lock()

    def run_one(name: str) -> None:
        try:
            problems = run_compare(spark, name, sf_dir)
            if problems:
                with lock:
                    failures[name] = problems
        except Exception as e:  # noqa: BLE001 — collect, don't abort pool
            with lock:
                failures[name] = f"{type(e).__name__}: {e}"

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(run_one, names))
    assert not failures, f"concurrent issue failed: {failures}"


def test_concurrent_same_query_scratch_writers(spark, sf_dir):
    """r8 (verdict item #6): the SAME scratch-writing query issued from
    4 threads at once. Before r8, scratch dirs were keyed by query name
    only, so ``mode("overwrite")`` in one thread deleted part files out
    from under another thread's in-flight readback; ``scratch_dir`` now
    injects the calling thread's ident, giving each issuer a disjoint
    subtree. Every thread must independently match the oracle.

    ``source_bucketed_join`` covers the CATALOG-named writer class too
    (r9, ADVICE item #1): bucketed tables go through DROP TABLE IF
    EXISTS + saveAsTable, so a session-global table name raced exactly
    like a shared scratch dir — names are now thread-keyed alongside
    the paths."""
    for name in [
        "source_compaction",
        "source_csv_roundtrip",
        "source_bucketed_join",
    ]:
        failures: dict[int, list[str] | str] = {}
        lock = threading.Lock()

        def run_one(tid: int, qname: str = name) -> None:
            try:
                problems = run_compare(spark, qname, sf_dir)
                if problems:
                    with lock:
                        failures[tid] = problems
            except Exception as e:  # noqa: BLE001
                with lock:
                    failures[tid] = f"{type(e).__name__}: {e}"

        with ThreadPoolExecutor(max_workers=4) as pool:
            list(pool.map(run_one, range(4)))
        assert not failures, f"{name} concurrent same-query issue: {failures}"


def test_scratch_dir_is_thread_keyed():
    """Two threads asking for the same scratch parts must get disjoint
    paths; the same thread must get a stable path (tests locate what a
    query wrote by calling scratch_dir from the same thread)."""
    from rpa_etl_investing_spark.sources.formats import scratch_dir

    paths: dict[int, str] = {}
    # barrier keeps both threads alive through both grabs — a finished
    # thread's ident may be REUSED by the OS, which would alias the
    # paths and flake the assertion
    barrier = threading.Barrier(2)

    def grab(tid: int) -> None:
        barrier.wait()
        paths[tid] = scratch_dir("conc_probe", "files")
        barrier.wait()

    threads = [threading.Thread(target=grab, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert paths[0] != paths[1], "threads shared a scratch dir"
    assert scratch_dir("conc_probe", "files") == scratch_dir(
        "conc_probe", "files"
    ), "same-thread scratch path not stable"


@pytest.mark.slow
def test_lru_registry_thread_safety(spark):
    """16 threads × 40 keep_or_reuse calls over 4 scopes and 12 distinct
    plans per scope: the store must never lose the LRU invariant (≤ cap
    live entries per scope), never serve a wrong-plan DataFrame, and
    never throw from its own list surgery."""
    from rpa_etl_investing_spark.operators import caching

    base = spark.range(0, 1000)
    errors: list[str] = []
    lock = threading.Lock()

    def hammer(tid: int) -> None:
        try:
            for i in range(40):
                scope = f"conc_scope_{(tid + i) % 4}"
                k = (tid * 7 + i) % 12
                df = base.filter(F.col("id") % 12 == k).select(
                    (F.col("id") * 2).alias("v")
                )
                got = caching.keep_or_reuse(df, scope, cap=6)
                # the returned relation must compute the same result
                n = got.filter(F.col("v") % 24 == (k * 2) % 24).count()
                expected = df.count()
                if n != expected:
                    with lock:
                        errors.append(
                            f"t{tid}i{i}: wrong relation served "
                            f"(n={n} expected={expected})"
                        )
        except Exception as e:  # noqa: BLE001
            with lock:
                errors.append(f"t{tid}: {type(e).__name__}: {e}")

    with ThreadPoolExecutor(max_workers=16) as pool:
        list(pool.map(hammer, range(16)))
    assert not errors, errors[:5]

    # cap respected after the storm
    with caching._LOCK:
        for scope in [f"conc_scope_{j}" for j in range(4)]:
            live = caching._STORE.get(scope, [])
            assert len(live) <= 6, f"{scope}: {len(live)} entries > cap"
    for j in range(4):
        caching.release_scope(f"conc_scope_{j}")


def test_worker_path_holds_package_root_once(spark):
    """get_spark puts the package root on the workers' PYTHONPATH once;
    the helper keeps entries already there, and neither 8 threads racing
    it nor a repeat call adds a second copy."""
    import os
    import sys

    from rpa_etl_investing_spark.session import PKG_ROOT, add_package_to_worker_path

    env = spark.sparkContext.environment
    saved = env["PYTHONPATH"]
    assert saved.split(os.pathsep).count(PKG_ROOT) == 1
    start = threading.Barrier(8)

    def race(_: int) -> None:
        start.wait(timeout=30)
        add_package_to_worker_path(spark)

    old = sys.getswitchinterval()
    try:
        env["PYTHONPATH"] = "extra_entry"
        sys.setswitchinterval(1e-6)
        with ThreadPoolExecutor(max_workers=8) as pool:
            list(pool.map(race, range(8)))
        add_package_to_worker_path(spark)
        assert env["PYTHONPATH"] == os.pathsep.join([PKG_ROOT, "extra_entry"])
    finally:
        sys.setswitchinterval(old)
        env["PYTHONPATH"] = saved


def test_schema_cache_concurrent_eviction(monkeypatch):
    """catalog.tbl scans the schema cache for dead-app entries on every
    miss while other threads insert. A mocked session from 8 threads at
    a 1 µs switch interval, every call a miss on a fresh path (so the
    cache grows and each scan is long): no scan may see the dict change
    size under it."""
    import sys
    from types import SimpleNamespace

    from rpa_etl_investing_spark import catalog

    monkeypatch.setattr(catalog, "_SCHEMA_CACHE", {})
    frame = SimpleNamespace(schema="schema")
    reader = SimpleNamespace(
        parquet=lambda path: frame,
        schema=lambda s: SimpleNamespace(parquet=lambda path: frame),
    )

    spark = SimpleNamespace(
        conf=SimpleNamespace(set=lambda k, v: None),
        read=reader,
        sparkContext=SimpleNamespace(applicationId="app"),
    )

    errors: list[str] = []
    start = threading.Barrier(8)

    def hammer(tid: int) -> None:
        try:
            start.wait(timeout=30)
            for i in range(1000):
                catalog.tbl(spark, f"t{tid}/sf{i}", "nation")
        except Exception as e:  # noqa: BLE001
            errors.append(f"t{tid}: {type(e).__name__}: {e}")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer, args=(t,)) for t in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads), "hammer threads hung"
    assert not errors, errors[:3]
