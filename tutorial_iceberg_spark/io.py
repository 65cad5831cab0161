"""Table IO: the engine's source layer over the driver's parquet testdata.

Covers SURVEY.md S1 (parquet scan), S2 (glob/partition discovery via
sources.sinks round-trips), and normalizes the one schema quirk in the
testdata: events.ts is parquet TIMESTAMP(NANOS), which Spark cannot read
natively. We read it as epoch-nanos LongType (legacy conf) and truncate to a
microsecond TIMESTAMP_NTZ — byte-identical to what DuckDB's reader produces
for the same file, so oracle comparisons are exact.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tutorial_iceberg_spark.session import apply_engine_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# A parquet file is split at row-group boundaries; below this size the
# testdata files are one row group = ONE scan task, which serializes every
# downstream map-side partial aggregation onto a single core.
_SMALL_FILE_BYTES = 64 * 1024 * 1024


# Session confs that change the schema Spark infers from a parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
# Process-wide on purpose: an entry is a pure function of the file's
# bytes and the confs in its key, so every session may share it.
_SCHEMAS: dict[tuple, StructType] = {}
_SCHEMAS_MAX = 256
_SCHEMAS_LOCK = threading.Lock()


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers. Inference is a
    one-task Spark job (~100 ms) per read, so a single file's schema is
    kept, keyed by the file's identity (path, size, mtime_ns) and the
    session's inference confs: a file rewritten in place, or a session
    that reads timestamps differently, infers again. A directory is
    inferred every call — its file set can change without its own stat
    changing."""
    if not os.path.isfile(path):
        return spark.read.parquet(path).schema
    st = os.stat(path)
    key = (
        os.path.abspath(path), st.st_size, st.st_mtime_ns,
        tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS),
    )
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        with _SCHEMAS_LOCK:
            if len(_SCHEMAS) >= _SCHEMAS_MAX:
                _SCHEMAS.pop(next(iter(_SCHEMAS)))  # oldest entry
            _SCHEMAS[key] = schema
    return schema


def normalize_table(name: str, df: DataFrame) -> DataFrame:
    """The engine's types for a raw read of testdata table ``name``."""
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # epoch-nanos -> truncate to us (matches DuckDB ns->us read) and keep
        # timezone-naive semantics: session tz is pinned to UTC so the
        # LTZ->NTZ cast is the identity on the wall-clock value.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load one testdata table as a DataFrame with normalized types.

    A single-file table reads with its schema from ``parquet_schema``, so
    only the first load of a file runs Spark's schema-inference job;
    every later build of a query over it starts no Spark job.

    ``spread=True`` is the small-input parallelism floor: when the whole
    table is a single small parquet file (hence a single row group =
    single scan task), fan it out to the cluster's parallelism with a
    round-robin repartition — a few-MB shuffle that unserializes the
    downstream work. Opt-in because it only pays where the consumer does
    HEAVY per-row compute or map-side aggregation straight off the scan;
    a query whose next operator is a shuffle join/exchange already fans
    out there, and the extra pass is pure overhead. The condition checks
    the actual file layout, so at real scale (inputs with thousands of
    row groups) it no-ops and plans stay shuffle-free. Filters and column
    pruning still reach the scan: Catalyst pushes both through a
    Repartition node."""
    apply_engine_conf(spark)
    path = table_path(sf_dir, name)
    if os.path.isfile(path):
        df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    else:
        df = spark.read.parquet(path)
    df = normalize_table(name, df)
    if spread and os.path.isfile(path) and os.path.getsize(path) < _SMALL_FILE_BYTES:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register temp views so spark.sql() queries use the same bare table
    names as the DuckDB oracle (FIXTURES.md 'Oracle registration note')."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
