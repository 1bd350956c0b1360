"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``rpa_etl_investing_spark.plans`` (one registry
entry per SURVEY.md §2 operator); this module only adapts the registry
to the driver's interface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from rpa_etl_investing_spark.session import add_package_to_worker_path

SF_SMOKE_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Mirrors the reference's one analytic query
    (/root/reference/main.py:149-157) on the fixture star schema.
    """
    add_package_to_worker_path(spark)
    from rpa_etl_investing_spark.plans import QUERIES

    return QUERIES["flagship_topk"].fn(spark, SF_SMOKE_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2; each
    callable first ensures the package is importable in the session's
    Python workers (see
    :func:`rpa_etl_investing_spark.session.add_package_to_worker_path`)."""
    from rpa_etl_investing_spark.plans import all_queries

    def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            add_package_to_worker_path(spark)
            return fn(spark, sf_dir)

        run.__doc__ = fn.__doc__
        run.__name__ = getattr(fn, "__name__", "query")
        return run

    return {name: _wrap(fn) for name, fn in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted for
    non-SQL-expressible ops → rows-only check)."""
    from rpa_etl_investing_spark.plans import all_oracles

    return all_oracles()
