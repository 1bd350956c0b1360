#!/usr/bin/env python
"""Scale and plan probes over registry queries (SCALE.md, plans/<round>/).

  flip  Run each query once at two fixtures and print the plan-flip
        Markdown table: executed join strategies, exchange counts and
        AQE skew splits of the FINAL adaptive plan, plus one-shot wall
        times (read the flips, not the seconds).
            python scripts/probe.py flip --sf SMALL --sf BIG [--label 100×]
                [--registry a,b,...] >> SCALE.md
  skew  Write a whale-keyed copy of SRC's orders table into WHALE (the
        other tables are symlinked), run a registered query there with
        AQE's skew split off and then on, print both runs, and exit
        non-zero unless their checksums agree.
            python scripts/probe.py skew --sf SRC --sf WHALE
                [--registry etl_duplicate_payment_scan]
  time  Time each query (noop sink, median of --reps) and write its
        formatted plan to plans/<round>/<name>_<tag>.txt.
            python scripts/probe.py time --sf DIR --round r12 [--reps 5]
                [--registry a,b,...] [tag]

Without --registry the bench headline set is probed under its bench
names. Every mode first warms the JVM with one pass over the first
--sf fixture; a query whose warm-up raises is reported on stderr,
dropped, and makes the run exit non-zero.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from rpa_etl_investing_spark import profile  # noqa: E402
from rpa_etl_investing_spark.operators import caching  # noqa: E402
from rpa_etl_investing_spark.plans import QUERIES  # noqa: E402
from rpa_etl_investing_spark.session import get_spark  # noqa: E402

WHALE_KEY = 424242
WHALE_MOD = 400  # o_orderkey % 400 == 0 → 0.25% of orders remapped

# Session conf for the skew probe. Many small partitions make the whale
# partition stand out against the median. At ≥2000 reduce partitions
# Spark switches to HighlyCompressedMapStatus, which reports only the
# AVERAGE block size below spark.shuffle.accurateBlockThreshold
# (100 MB), so a sub-MB whale is invisible to OptimizeSkewedJoin
# (median == max in its DEBUG log); the skewed-factor knob tracks
# blocks above 2× the median accurately. A production whale's blocks
# exceed the accurate threshold on their own.
SKEW_SESSION_CONF = {
    "spark.sql.shuffle.partitions": "2000",
    "spark.shuffle.accurateBlockSkewedFactor": "2.0",
}
# Runtime thresholds scaled to the probe's partition sizes (production
# keeps the 256 MB default: the MECHANISM is what is demonstrated). The
# 1 MB default minPartitionSize exceeds the probe's whole whale
# partition and would silently veto the split.
SKEW_RUNTIME_CONF = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "384KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "192KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
}


def _cold_checksum(spark, reg_name: str, sf_dir: str, desc: str):
    """Release every cache, build the query at ``sf_dir`` and execute
    its checksum probe; returns (seconds, executed probe, features of
    its final adaptive plan)."""
    caching.release_all()
    spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(desc)
    t0 = time.perf_counter()
    probe = profile.checksum_all_columns(QUERIES[reg_name].fn(spark, sf_dir))
    sec = round(time.perf_counter() - t0, 2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    return sec, probe, profile.plan_features(plan)


def _joins(f: dict) -> str:
    return f"{f['broadcast_joins']}/{f['sortmerge_joins']}/{f['shuffled_hash_joins']}"


def flip(spark, targets: dict, dirs: list[str], big_label: str) -> None:
    small_label = os.path.basename(os.path.normpath(dirs[0]))
    labels = (small_label, big_label)
    print(
        f"| query | {small_label} s | {big_label} s "
        f"| joins {small_label} (B/S/H) | joins {big_label} (B/S/H) "
        f"| exch {small_label}→{big_label} | skew |"
    )
    print("|---|---|---|---|---|---|---|")
    for name, reg in targets.items():
        secs, feats = [], []
        for label, d in zip(labels, dirs):
            sec, _, feat = _cold_checksum(spark, reg, d, f"{name} @ {label}")
            secs.append(sec)
            feats.append(feat)
        print({"query": name, "sec": secs, "features": feats}, file=sys.stderr)
        sf, bf = feats
        skew = "+".join(lb for lb, f in zip(labels, feats) if f["aqe_skew"])
        print(
            f"| {name} | {secs[0]} | {secs[1]} | {_joins(sf)} | {_joins(bf)} "
            f"| {sf['exchanges']}→{bf['exchanges']} | {skew} |"
        )


def _build_whale(spark, src: str, whale: str) -> None:
    from pyspark.sql import functions as F

    from rpa_etl_investing_spark.catalog import TABLES

    os.makedirs(whale, exist_ok=True)
    for t in TABLES:
        dst = os.path.join(whale, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        if t != "orders":
            os.symlink(os.path.abspath(os.path.join(src, f"{t}.parquet")), dst)
            continue
        (
            spark.read.parquet(os.path.join(src, "orders.parquet"))
            .withColumn(
                "o_custkey",
                F.when(
                    F.col("o_orderkey") % WHALE_MOD == 0, F.lit(WHALE_KEY)
                ).otherwise(F.col("o_custkey")),
            )
            .repartition(8)
            .write.mode("overwrite")
            .parquet(dst)
        )


def skew(spark, targets: dict, dirs: list[str]) -> bool:
    src, whale = dirs
    _build_whale(spark, src, whale)
    for k, v in SKEW_RUNTIME_CONF.items():
        spark.conf.set(k, v)
    print("| execution | wall s | SMJ | AQE skew split in final plan | checksum |")
    print("|---|---|---|---|---|")
    agree = True
    for name, reg in targets.items():
        sums = []
        for on in (False, True):
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(on).lower())
            split = "ON" if on else "OFF"
            sec, probe, feat = _cold_checksum(spark, reg, whale, f"{name} whale skew {split}")
            # re-collecting the executed probe reuses its shuffle stages
            sums.append(probe.collect()[0][0])
            print(
                f"| {name} skew split {split} | {sec} | {feat['sortmerge_joins']} "
                f"| {feat['aqe_skew']} | {sums[-1]} |"
            )
        if sums[0] != sums[1]:
            print(f"{name}: checksums differ {sums}", file=sys.stderr)
            agree = False
    return agree


def time_queries(spark, targets: dict, sf_dir: str, reps: int, tag: str, round_tag: str) -> None:
    out_dir = os.path.join(REPO, "plans", round_tag)
    os.makedirs(out_dir, exist_ok=True)
    results: dict[str, dict] = {}
    for name, reg in targets.items():
        fn = QUERIES[reg].fn
        times, t_construct = [], []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"{tag}: {name} rep{r}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            t_construct.append(t1 - t0)
        times.sort()
        t_construct.sort()
        # the formatted plan of the query itself, pre-execution (AQE
        # shows isFinalPlan=false): shape, pushed filters, join
        # strategies and exchange count are what gets audited
        df = fn(spark, sf_dir)
        try:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception:  # plan-string API drift: fall back to physical toString
            plan = df._jdf.queryExecution().executedPlan().toString()
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(f"-- {name} ({reg}) @ {sf_dir} tag={tag}\n")
            fh.write(
                f"-- median={times[len(times) // 2]:.3f}s min={times[0]:.3f}s"
                f" reps={[round(t, 3) for t in times]}\n"
            )
            fh.write(plan)
        res = results[name] = {
            "median": round(times[len(times) // 2], 3),
            "min": round(times[0], 3),
            "construct_med": round(t_construct[len(t_construct) // 2], 3),
            "n_exchange": plan.count("Exchange"),
            "n_python": sum(
                plan.count(op)
                for op in ("EvalPython", "MapInArrow", "MapInPandas", "FlatMapGroupsInPandas")
            ),
        }
        print(
            f"{name:32s} median={res['median']:7.3f} min={res['min']:7.3f}"
            f" constr={res['construct_med']:6.3f} exch={res['n_exchange']:2d}"
            f" py={res['n_python']}"
        )
    total = round(sum(r["median"] for r in results.values()), 3)
    print(json.dumps({"tag": tag, "sf_dir": sf_dir, "total_median": total, "queries": results}))


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("mode", choices=("flip", "skew", "time"))
    ap.add_argument("tag", nargs="?", default="before", help="time: plan-file tag")
    ap.add_argument("--sf", action="append", required=True, help="fixture dir (repeat)")
    ap.add_argument("--registry", help="comma-separated registry names")
    ap.add_argument("--label", help="flip: column label of the second fixture")
    ap.add_argument("--reps", type=int, default=5, help="time: reps per query")
    ap.add_argument("--round", dest="round_tag", help="time: output dir under plans/")
    args = ap.parse_intermixed_args()
    n_dirs = 1 if args.mode == "time" else 2
    if len(args.sf) != n_dirs:
        ap.error(f"{args.mode} needs exactly {n_dirs} --sf dir(s)")
    if args.mode == "time" and not args.round_tag:
        ap.error("time needs --round")

    if args.registry:
        targets = {n: n for n in args.registry.split(",")}
    elif args.mode == "skew":
        targets = {"q16_skew_dup_payments": "etl_duplicate_payment_scan"}
    else:
        from bench import HEADLINE

        targets = dict(HEADLINE)

    conf = profile.heap_conf()
    if args.mode == "skew":
        conf.update(SKEW_SESSION_CONF)
    spark = get_spark(app_name=f"probe-{args.mode}", extra_conf=conf)
    errors = profile.warm_up(spark, targets.values(), args.sf[0])
    for reg, err in errors.items():
        print(f"warm-up failed, dropped: {reg}: {err}", file=sys.stderr)
    targets = {n: r for n, r in targets.items() if r not in errors}

    ok = not errors
    if args.mode == "flip":
        flip(spark, targets, args.sf, args.label or os.path.basename(os.path.normpath(args.sf[1])))
    elif args.mode == "skew":
        ok = skew(spark, targets, args.sf) and ok
    else:
        time_queries(spark, targets, args.sf[0], args.reps, args.tag, args.round_tag)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
