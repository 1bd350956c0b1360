"""Parse a Spark 4.1 event log and check the job-group attribution.

The module fixture records the log from a tiny local[2] application:
group ``0:build`` runs one eager ``count``; group ``0:exec`` runs a
broadcast join feeding a ``mapInPandas`` that sleeps 0.2 s per batch,
into a ``noop`` sink.
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    from pyspark.sql import SparkSession

    work = tmp_path_factory.mktemp("run")
    logs = work / "eventlog"
    logs.mkdir()

    def sleepy(batches):  # nested, so workers unpickle it by value
        for pdf in batches:
            time.sleep(0.2)
            yield pdf

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(logs))
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    try:
        data = str(work / "facts")
        spark.range(1000).selectExpr("id", "id % 10 AS k").repartition(2).write.parquet(data)
        sc = spark.sparkContext
        sc.setJobGroup("0:build", "0:build")
        spark.read.parquet(data).count()
        sc.setJobGroup("0:exec", "0:exec")
        dim = spark.range(10).withColumnRenamed("id", "k")
        (
            spark.read.parquet(data)
            .join(dim.hint("broadcast"), "k")
            .mapInPandas(sleepy, "k long, id long")
            .write.format("noop").mode("overwrite").save()
        )
    finally:
        spark.stop()
    return str(logs)


@pytest.fixture(scope="module")
def groups(log_dir):
    return eventlog.aggregate(eventlog.read_events(eventlog.find_log(log_dir)))


def test_log_is_zstd_and_parses(log_dir):
    paths = eventlog.find_log(log_dir)
    assert paths and all(p.endswith(".zstd") for p in paths)
    kinds = {e["Event"] for e in eventlog.read_events(paths)}
    assert {"SparkListenerJobStart", "SparkListenerTaskEnd", "SparkListenerApplicationEnd"} <= kinds


def test_jobs_attributed_to_groups(groups):
    build, ex = groups["0:build"], groups["0:exec"]
    assert build.jobs >= 1 and ex.jobs >= 1
    assert build.tasks >= 1 and ex.tasks >= 2
    assert ex.task_run_s > 0 and ex.task_cpu_s > 0
    assert len(build.call_sites) == build.jobs  # one call site per job


def test_plan_features_from_final_plan(groups):
    ex = groups["0:exec"]
    assert ex.bhj == 1
    assert ex.smj == 0 and ex.shj == 0 and ex.skew_splits == 0


def test_python_worker_and_scan_metrics(groups):
    sql = groups["0:exec"].sql
    # two batches sleep 0.2 s each inside the Python worker
    assert sql[eventlog.PY_TOTAL] >= 0.4
    assert sql[eventlog.PY_SENT] > 0 and sql[eventlog.PY_RECEIVED] > 0
    assert sql[eventlog.FILES_READ] == 2
    assert sql[eventlog.BYTES_READ] > 0
    assert eventlog.PY_TOTAL not in groups["0:build"].sql
