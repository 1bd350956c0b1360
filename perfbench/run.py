#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload analyst_cold --seed 1 --seconds 10 --trace 0

Runs one seeded, single-client closed-loop workload against the
engine's public entry points (``get_spark``, ``plans.QUERIES``,
``operators.caching.release_all``, ``etl.load_star_schema`` and
``etl.flagship_top10``), checks every output, and prints one JSON line
last: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run also records Spark's event log, job groups and planner phases
and the metrics are the per-layer ones. The full report, and for traced
runs every span and per-operation record, goes to ``perfbench/out/``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

# The tail is the highest percentile with at least this many samples
# above it; a run with fewer than TAIL_ABOVE + 1 operations has none.
TAIL_ABOVE = 10
HEAP = "2g"

# printed and recorded, not gated: each exists only on some workloads or
# runs, or is zero on a healthy run. The gated end-to-end metrics and the
# per-layer metrics, with their units, are the ones BENCHMARK.json lists.
REPORTED = {
    "op_tail_s": "s",
    "failed_frac": "ratio",
    "warm_op_p50_s": "s",
    "rows_per_s": "rows/s",
    "flagship_p50_s": "s",
}


def load_spec() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="shrink inputs to sf0.001 (tests)")
    return p.parse_args(argv)


def start_session(work: str, trace: bool):
    from rpa_etl_investing_spark.session import get_spark

    conf = {
        "spark.driver.memory": HEAP,
        # fixed, pre-touched heap: lazily grown JVM memory first-faults
        # inside whichever operation grows the heap
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={work}/jvm-tmp"
        ),
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"{work}/eventlog",
                "spark.eventLog.compress": "true",
                "spark.eventLog.compression.codec": "zstd",
            }
        )
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def measure(wl, h: workloads.Harness, seconds: float) -> tuple[list[workloads.Sample], float]:
    """Closed loop, one client: whole seeded rounds until ``seconds``
    have passed and at least the workload's ``min_rounds`` have run, so
    every run sees each operation equally often and often enough for a
    median. Returns the samples and the loop's wall time, less the
    harness's own staging between rounds (restoring the ETL warehouse)."""
    samples: list[workloads.Sample] = []
    t0 = time.perf_counter()
    staged0 = h.excluded_s
    for n, order in enumerate(wl.rounds()):
        if n >= wl.min_rounds and time.perf_counter() - t0 >= seconds:
            break
        with h.excluded():
            wl.start_round(h)
        for op in order:
            samples.append(wl.run_op(h, op, len(samples)))
    return samples, time.perf_counter() - t0 - (h.excluded_s - staged0)


def typical(samples, key=lambda s: s.latency_s) -> float:
    """Geometric mean over the workload's operations of each operation's
    median latency: the plain median when a workload has one operation.
    A median over a mix of operations of very different cost jumps
    between cost groups from run to run; this does not."""
    by_op: dict[str, list[float]] = {}
    for s in samples:
        by_op.setdefault(s.op, []).append(key(s))
    return statistics.geometric_mean(statistics.median(v) for v in by_op.values())


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has
    TAIL_ABOVE samples above it: percentile 100·(n−10)/n, linearly
    interpolated between order statistics (numpy's default method), so
    with 20 samples it is the median and with 40 the 75th percentile."""
    xs = sorted(latencies)
    n = len(xs)
    q = max(n - TAIL_ABOVE, 0) / n
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), 100.0 * q


def end_to_end(samples, setup_s: float, wall_s: float) -> tuple[dict, dict]:
    ok = [s for s in samples if s.error is None]
    lat = [s.latency_s for s in ok]
    out = {"setup_s": setup_s}
    extra: dict = {"failed_frac": (len(samples) - len(ok)) / len(samples)}
    if ok:
        out["op_p50_s"] = typical(ok)
        out["ops_per_s"] = len(ok) / wall_s
    extra["op_tail_s"] = None
    if len(lat) > TAIL_ABOVE:
        extra["op_tail_s"], extra["op_tail_percentile"] = tail(lat)
        extra["op_tail_samples_above"] = sum(x > extra["op_tail_s"] for x in lat)
    extra["samples"] = len(lat)
    warm = [s for s in ok if s.warm_s is not None]
    extra["warm_op_p50_s"] = typical(warm, key=lambda s: s.warm_s) if warm else None
    loads = [s for s in ok if s.load_s is not None]
    extra["rows_per_s"] = (
        sum(s.rows for s in loads) / sum(s.load_s for s in loads) if loads else None
    )
    extra["flagship_p50_s"] = (
        statistics.median(s.flagship_s for s in loads) if loads else None
    )
    return out, extra


def fold_layers(samples, groups: dict[str, eventlog.GroupStats]) -> None:
    """Attach event-log numbers to each sample's layer record."""
    empty = eventlog.GroupStats()
    for s in samples:
        mine = [g for tag, g in groups.items() if tag.split(":")[0] == str(s.index)
                and not tag.endswith(":warm")]
        L = s.layers
        L["build_jobs"] = groups.get(f"{s.index}:build", empty).jobs
        for attr in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                     "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                     "exchanges", "smj", "bhj", "shj", "skew_splits"):
            L[attr] = sum(getattr(g, attr) for g in mine)
        sql: dict[str, float] = {}
        for g in mine:
            for k, v in g.sql.items():
                sql[k] = sql.get(k, 0.0) + v
        L["sql"] = sql
        load = groups.get(f"{s.index}:load", empty)
        L["etl_jobs"] = load.jobs
        L["etl_output_bytes"] = load.sql.get(eventlog.BYTES_WRITTEN, 0.0)
        L["call_sites"] = sorted({c for g in mine for c in g.call_sites})


def per_layer(samples, session_start_s: float, wall_s: float) -> dict[str, float]:
    ok = [s for s in samples if s.error is None] or samples

    def mean(fn) -> float:
        return statistics.fmean(fn(s) for s in ok)

    def sql(name: str):
        return lambda s: s.layers["sql"].get(name, 0.0)

    ph = lambda key: lambda s: s.layers.get("phases_ms", {}).get(key, 0.0)  # noqa: E731
    lay = lambda key: lambda s: s.layers.get(key, 0) or 0  # noqa: E731
    m = {
        "session.start_s": session_start_s,
        "op.wall_s": mean(lambda s: s.latency_s),
        "trace.op_p50_s": typical(ok),
        "trace.ops_per_s": sum(s.error is None for s in samples) / wall_s,
        "plans.build_s": mean(lay("build_s")),
        "plans.build_jobs": mean(lay("build_jobs")),
        "plans.analysis_ms": mean(ph("analysis")),
        "plans.optimization_ms": mean(ph("optimization")),
        "plans.planning_ms": mean(ph("planning")),
        "catalog.files_read": mean(sql(eventlog.FILES_READ)),
        "catalog.bytes_read": mean(sql(eventlog.BYTES_READ)),
        "exec.wall_s": mean(lay("exec_s")),
        "pyworker.total_s": mean(sql(eventlog.PY_TOTAL)),
        "pyworker.boot_s": mean(sql(eventlog.PY_BOOT)),
        "pyworker.init_s": mean(sql(eventlog.PY_INIT)),
        "pyworker.bytes_sent": mean(sql(eventlog.PY_SENT)),
        "pyworker.bytes_received": mean(sql(eventlog.PY_RECEIVED)),
        "operators.caching.release_s": mean(lay("release_s")),
        "operators.caching.persisted_relations": mean(lay("persisted_relations")),
        "operators.caching.bytes_held": mean(lay("bytes_held")),
        "etl.load_s": mean(lambda s: s.load_s or 0.0),
        "etl.flagship_s": mean(lambda s: s.flagship_s or 0.0),
        "etl.jobs": mean(lay("etl_jobs")),
        "etl.rejected_rows": mean(lay("rejected_rows")),
        "etl.output_bytes": mean(lay("etl_output_bytes")),
    }
    for key in ("exchanges", "smj", "bhj", "shj", "skew_splits"):
        m[f"plans.{key}"] = mean(lay(key))
    for key in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{key}"] = mean(lay(key))
    return m


def _print_table(workload: str, units: dict, e2e: dict, extra: dict) -> None:
    print(f"workload {workload}: {extra['samples']} timed operations")
    for name, unit in units.items():
        v = e2e.get(name, extra.get(name))
        shown = "n/a (not measured in this run)" if v is None else f"{v:.6g} {unit}"
        note = ""
        if name == "op_tail_s" and v is None:
            note = f"  (needs more than {TAIL_ABOVE} operations, n={extra['samples']})"
        elif name == "op_tail_s":
            note = (f"  (p{extra['op_tail_percentile']:.1f}, "
                    f"{extra['op_tail_samples_above']} samples above, n={extra['samples']})")
        print(f"  {name:16s} {shown}{note}")


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    try:
        wl = workloads.make(args.workload, smoke=args.smoke)
    except KeyError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    try:
        end_to_end_units, per_layer_units = load_spec()
        import parity  # noqa: F401  (the repo's oracle comparator)
        import rpa_etl_investing_spark  # noqa: F401
    except (ImportError, OSError) as exc:
        print(f"perfbench: engine sources or BENCHMARK.json not found next to perfbench/: {exc}",
              file=sys.stderr)
        return 2

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(HERE, ".work"))
    for sub in ("tmp", "jvm-tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the spark-submit launcher too) would otherwise write its
    # perf-data file under /tmp, outside the run's directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
    )
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        t = time.perf_counter()
        wl.stage(work, args.seed)
        gen_s = time.perf_counter() - t
        with tracer.span("session.start") as start:
            spark = start_session(work, bool(args.trace))
        h = workloads.Harness(spark, tracer)
        h.group("setup")
        with tracer.span("setup.warmup"):
            wl.warmup(h)
        setup_s = time.perf_counter() - _T0 - gen_s - h.excluded_s
        samples, wall_s = measure(wl, h, args.seconds)
        h.group("check")
        wl.finish(h, samples)
        for v in h.cold_violations:
            if v["index"] >= 0:  # -1: a warm-up operation, reported only
                s = samples[v["index"]]
                s.error = s.error or f"not cold: {v['persisted_rdds']} persisted RDDs before it"
        stop_session(spark)
        spark = None
        e2e, extra = end_to_end(samples, setup_s, wall_s)
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "inputs": wl.describe(),
            "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "end_to_end": {**e2e, **extra},
            "measure_wall_s": wall_s,
            "latencies": [[s.op, s.latency_s, s.warm_s] for s in samples],
            "failures": [{"op": s.op, "index": s.index, "error": s.error}
                         for s in samples if s.error is not None],
            "check_problems": h.problems,
            "cold_violations": h.cold_violations,
        }
        metrics = {k: e2e[k] for k in end_to_end_units if k in e2e}
        units = end_to_end_units
        if args.trace:
            groups = eventlog.aggregate(eventlog.read_events(eventlog.find_log(f"{work}/eventlog")))
            fold_layers(samples, groups)
            metrics = per_layer(samples, start.duration, wall_s)
            units = per_layer_units
            report["per_layer"] = metrics
            report["operations"] = [
                {"op": s.op, "index": s.index, "latency_s": s.latency_s, "warm_s": s.warm_s,
                 "load_s": s.load_s, "flagship_s": s.flagship_s, "error": s.error, **s.layers}
                for s in samples
            ]
            report["spans"] = tracer.records(_T0)
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
            json.dump(report, fh, indent=1, default=str)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    _print_table(args.workload, {**end_to_end_units, **REPORTED}, e2e, extra)
    for f in report["failures"][:20]:
        print(f"  FAILED {f['op']}#{f['index']}: {f['error']}")
    for p in h.problems[:20]:
        print(f"  CHECK {p}")
    for v in h.cold_violations[:20]:
        print(f"  NOT COLD {v}")
    failed = len(report["failures"])
    correct = failed == 0 and not h.problems and len(metrics) == len(units)
    print(json.dumps({
        "correct": correct,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
