"""Shared probe primitives for ``bench.py``, ``scripts/probe.py`` and the
plan-shape gate (``tests/test_scale_gate.py``): the pre-touched-heap
session conf, the warm-up pass, the checksum execution that makes the
final adaptive plan inspectable, and the plan-feature counts read from
it.
"""

from __future__ import annotations

import os
import re


def heap_conf() -> dict[str, str]:
    """Session conf that pre-touches a fixed-size driver heap
    (``$SPARK_GRAFT_DRIVER_MEM``, default 8g): lazily-grown JVM memory
    first-faults at ~GB/s of kernel time, which otherwise lands in
    whichever query grows the heap and dominates its timing."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    return {"spark.driver.extraJavaOptions": f"-Xms{mem} -XX:+AlwaysPreTouch"}


def warm_up(spark, names, sf_dir: str) -> dict[str, str]:
    """Run each registry query once to a ``noop`` sink so timed runs
    reflect steady state, not first-query JIT/codegen. Returns
    ``{registry name: error}`` for every query that raised."""
    from rpa_etl_investing_spark.plans import QUERIES

    errors: dict[str, str] = {}
    for name in names:
        try:
            QUERIES[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:
            errors[name] = f"{type(e).__name__}: {e}"[:500]
    return errors


def plan_features(plan: str) -> dict:
    # AdaptiveSparkPlanExec prints BOTH the final and the initial plan;
    # count features in the FINAL section only (the runtime decisions)
    plan = plan.split("== Initial Plan ==")[0]
    return {
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "shuffled_hash_joins": plan.count("ShuffledHashJoin"),
        "exchanges": len(re.findall(r"Exchange (?:hash|range|rangepartitioning|SinglePartition)", plan)),
        "aqe_skew": "skew=true" in plan,
        "aqe_final": "isFinalPlan=true" in plan,
    }


def checksum_all_columns(df):
    """One-row action that forces EVERY output column through the plan
    (groupBy().count() lets Catalyst prune the payload — measured: the
    whale join's shuffle shrank to the RLE-compressible key column and
    the skew vanished). Falls back to count() for outputs whose types
    xxhash64 can't hash (maps)."""
    from pyspark.sql import functions as F

    try:
        probe = df.select(
            F.xxhash64(F.struct(*df.columns)).alias("_h")
        ).agg(F.sum(F.col("_h").cast("decimal(38,0)")).alias("checksum"))
        probe.collect()
        return probe
    except Exception:
        probe = df.groupBy().count()
        probe.collect()
        return probe
