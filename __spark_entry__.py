"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in the ``tutorial_iceberg_spark`` package; this module
is a thin view over its query registry (tutorial_iceberg_spark/registry.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's core analytics pattern (README.md:583-592): per
    event_type count / avg / sum over the events table, biggest first.
    """
    from tutorial_iceberg_spark.registry import all_queries

    return all_queries()["flagship_event_type_agg"].builder(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from tutorial_iceberg_spark.registry import all_queries

    return {name: spec.builder for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each oracle-expressible query."""
    from tutorial_iceberg_spark.registry import all_queries

    return {
        name: spec.oracle
        for name, spec in all_queries().items()
        if spec.oracle is not None
    }
