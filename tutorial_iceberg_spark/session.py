"""SparkSession factory for the engine.

Scale stance: these defaults are written for a real multi-executor cluster
(AQE on, skew-join handling on, sensible shuffle partitioning) and merely
*tested* on local[N]. Nothing here assumes single-node execution.

Static confs go on the builder only, since a running session rejects them:
``spark.sql.codegen.cache.maxEntries`` (see ``CODEGEN_CACHE_ENTRIES``) sizes
the whole-stage-codegen class cache to the engine's working set. Every key
in ``ENGINE_RUNTIME_CONF`` must be runtime-settable, because
``apply_engine_conf`` skips a key the session refuses.

Reference parity note: the reference runs its analytics on DuckDB
(":memory:", README.md:568-579) and its lakehouse on Spark 4 + Iceberg
(README.md:832-848); this factory is the single entry point replacing both.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime (non-static) SQL confs the engine relies on. Applied both at
# build time and defensively onto externally-provided sessions (the
# driver owns its own SparkSession).
ENGINE_RUNTIME_CONF: dict[str, str] = {
    # The driver's events table stores TIMESTAMP(NANOS) parquet, which the
    # vanilla Spark reader rejects (PARQUET_TYPE_ILLEGAL). Read nanos as
    # LongType; io.load_table converts to a microsecond TIMESTAMP_NTZ the
    # same way DuckDB's reader truncates ns -> us.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics regardless of host timezone; the
    # testdata timestamps are timezone-naive.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime shuffle-partition coalescing + skew-join
    # splitting. Essential at 100 TB, harmless at sf0.001.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Python Data Source filter pushdown (Spark 4.1): lets the tis_lake
    # source (lakehouse/datasource.py) receive Catalyst conjuncts and
    # prune files at plan time. Off by default upstream; runtime-settable.
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / mapInPandas path (vector + multimodal ops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Session windows: merge sessions inside each input partition BEFORE
    # the shuffle — the map-side-partial-aggregation analogue for the
    # merging-window operator (guide §2.3 "aggregate before you shuffle"):
    # the exchange then carries partial sessions, not raw events. Off by
    # default upstream; measured -16% on x_stream_session_window at sf0.1
    # and strictly fewer shuffled bytes at scale. Result-identical (the
    # merge is order-insensitive; oracle-gated).
    "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition": "true",
    # Leave the whole-stage-codegen stage id out of each generated class's
    # name. The class cache is keyed by the source, so with the id in it
    # the same stage compiles again wherever it gets another number: in
    # another query, or in the same query when AQE plans its stages in
    # another order. Without the id, one pass over all 210 registered
    # queries at sf0.01 compiles 1,951 classes instead of 2,243.
    "spark.sql.codegen.useIdInClassName": "false",
    # Scan-side pruning; defaults are on in Spark 4 but pinned here because
    # the engine's 100 TB story depends on them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
}


# Static: Spark's LRU cache of compiled whole-stage-codegen classes, one
# per JVM (under local[N] every task shares it). At its default of 100
# entries the six llm_corpus ops (about 126 distinct classes per round)
# evict every class before it is used again: each benchmark round
# recompiled 49-66 classes, about 9 ms of Janino time each, and the JIT
# starts every recompiled class cold. One pass over all 210 registered queries
# at sf0.01 compiles 2,243 distinct classes (1,951 with the stage id out
# of the class names; 4-core host); the cap is the next power of two
# above the larger count, and a second pass compiles 22. Bound: each
# class costs about 75-80 KB of metaspace (71 -> 230 MB over that pass),
# so a full cache holds at most about 330 MB.
CODEGEN_CACHE_ENTRIES = 4096


def default_parallelism() -> int:
    """CPU budget: honours the driver's SPARK_GRAFT_CPUS, else all cores."""
    from tutorial_iceberg_spark.scratch import env_number

    return env_number("SPARK_GRAFT_CPUS", os.cpu_count() or 8, int)


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session (idempotent).

    Used when the session is created by someone else (the verify driver);
    every conf in ENGINE_RUNTIME_CONF is runtime-settable. Static confs
    (``CODEGEN_CACHE_ENTRIES``) cannot reach such a session.
    """
    for k, v in ENGINE_RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Older/locked confs: leave whatever the session has.
            pass
    return spark


def get_spark(
    app_name: str = "tutorial-iceberg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    shuffle_partitions defaults to the CPU budget: right for the local test
    ladder; on a real cluster you would size it to ~2-3x total cores or let
    AQE coalesce from a higher initial number.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        # local[N] runs everything in the driver JVM: size it for N cores'
        # worth of concurrent shuffle/agg state, not the 1g driver default
        # a real cluster would use (executors carry the memory there).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in ENGINE_RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # Session start doubles as the orphan checkpoint: atexit reap() never
    # ran if the previous driver died hard, so age-gated debris under the
    # scratch root is collected here (scratch.reap_orphans, 24 h grace).
    try:
        from tutorial_iceberg_spark import scratch as _scratch

        _scratch.reap_orphans()
    except OSError:
        pass
    return apply_engine_conf(spark)
