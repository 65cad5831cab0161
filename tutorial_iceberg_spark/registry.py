"""Query registry: the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers a QuerySpec here (via
the domain modules in operators/, functions/, sources/, lakehouse/,
streaming/). __spark_entry__.queries() / oracle_sql() are thin views over
this registry.

A QuerySpec holds a builder ``(spark, sf_dir) -> DataFrame`` and an
ANSI-SQL oracle string for DuckDB (or None for ops that are not
SQL-expressible — the driver then records a rows-only check). A query both
engines can run from the same text registers that one text with
``register_sql``: its builder runs the text through ``spark.sql`` over the
testdata views, and DuckDB runs the same string as the oracle, so the gate
still checks Spark's answer on an independent engine. A query keeps a
DataFrame builder when the builder is the feature under test, when the
text uses DuckDB-only syntax, or when the builder's plan is measurably
better than Spark's plan for the text (each such builder says why).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from tutorial_iceberg_spark.io import TABLES, register_views

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[Builder], Builder]:
    """Decorator: register a query builder under ``name``."""

    def wrap(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, builder=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return wrap


def register_sql(name: str, text: str, doc: str = "", tags: tuple[str, ...] = ()) -> None:
    """Register ``name`` from one SQL text, run by both engines: the
    builder registers the testdata tables of ``sf_dir`` as temp views
    (``io.register_views``, which also applies the engine confs to a
    vanilla session) and returns ``spark.sql(text)``; the oracle is
    ``text`` itself. Only the tables the text names are registered: each
    view costs about 40 ms of driver time per build on a 4-core host."""
    tables = tuple(t for t in TABLES if re.search(rf"\b{t}\b", text))

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir, tables)
        return spark.sql(text)

    register(name, text, doc, tags)(build)


def all_queries() -> dict[str, QuerySpec]:
    """Import every domain module (side effect: registration) and return the
    full registry."""
    # Imports are deferred so `import tutorial_iceberg_spark` stays cheap.
    from tutorial_iceberg_spark.operators import dedup  # noqa: F401
    from tutorial_iceberg_spark.operators import graph  # noqa: F401
    from tutorial_iceberg_spark.operators import relational  # noqa: F401
    from tutorial_iceberg_spark.operators import temporal  # noqa: F401
    from tutorial_iceberg_spark.operators import tpch_extra  # noqa: F401
    from tutorial_iceberg_spark.operators import pipeline  # noqa: F401
    from tutorial_iceberg_spark.functions import json_fns  # noqa: F401
    from tutorial_iceberg_spark.functions import text  # noqa: F401
    from tutorial_iceberg_spark.functions import vector  # noqa: F401
    from tutorial_iceberg_spark.sources import bucketing  # noqa: F401
    from tutorial_iceberg_spark.sources import sinks  # noqa: F401
    from tutorial_iceberg_spark.sources import generator  # noqa: F401
    from tutorial_iceberg_spark.sources import jdbc  # noqa: F401
    from tutorial_iceberg_spark.sources import parquet_meta  # noqa: F401
    from tutorial_iceberg_spark.lakehouse import queries as lake_queries  # noqa: F401
    from tutorial_iceberg_spark.streaming import events_stream  # noqa: F401
    from tutorial_iceberg_spark.operators import multimodal  # noqa: F401
    from tutorial_iceberg_spark.plans import explain  # noqa: F401

    return dict(_REGISTRY)
