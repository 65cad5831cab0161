"""E1/E2 plan inspection + timing: SURVEY.md §2.10.

The reference's Week-3 exercise is EXPLAIN ANALYZE showing
PARQUET_SCAN -> FILTER -> HASH_GROUP_BY and confirming predicate pushdown
(README.md:654-703). The Spark equivalents are formatted explain output and
a scan summary extracting exactly the three things that matter at 100 TB:
PushedFilters (row-group skipping), ReadSchema (column pruning), and
PartitionFilters (partition pruning). The ANALYZE half — what each
operator actually did — is ``operator_metrics`` and ``plan_summary``, both
read from the executed plan after an action; ``codegen_compilations``
counts the generated classes compiled on the way.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from tutorial_iceberg_spark.io import load_table
from tutorial_iceberg_spark.registry import register


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """df.explain(...) as a string instead of stdout."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


# Physical operators that run user code in a Python worker (Arrow or
# pickled batches) all live in this package.
_PYTHON_EXEC_PKG = "org.apache.spark.sql.execution.python."


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _executed_nodes(df: DataFrame):
    """(depth, JVM SparkPlan node) for every operator of the frame's
    executed plan, EXPLAIN ANALYZE style: each adaptive plan is read as its
    final (post-AQE) plan, each query stage as the plan it ran, and every
    subquery is walked under the node that uses it. A reused exchange or
    subquery is a leaf, so shared work is counted once. Call after an
    action on ``df``: before one, reading an adaptive plan's final plan
    runs its query stages."""
    todo = [(0, df._jdf.queryExecution().executedPlan())]
    while todo:
        depth, node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append((depth, node.finalPhysicalPlan()))
            continue
        yield depth, node
        inner = _seq(node.children()) + _seq(node.subqueries())
        if cls.endswith("QueryStageExec"):
            inner.insert(0, node.plan())
        todo.extend((depth + 1, child) for child in reversed(inner))


def _metrics(node) -> dict:
    """Nonzero SQL metrics of one node; nanosecond timings read in ms."""
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        value = kv._2().value()
        if value:
            if kv._2().metricType() == "nsTiming":
                value = round(value / 1e6, 3)
            out[kv._1()] = value
    return out


def operator_metrics(df: DataFrame) -> list[dict]:
    """Every operator of the frame's executed plan, in plan order, with its
    class, node name, depth and nonzero SQL metrics (row counts, sizes,
    times in ms). Python-worker nodes (``MapInPandasExec`` and kin) carry
    ``pythonTotalTime``, ``pythonDataSent`` and ``pythonNumRowsReceived``.
    Call after an action on ``df``."""
    return [
        {
            "class": node.getClass().getSimpleName(),
            "node": node.nodeName(),
            "depth": depth,
            "metrics": _metrics(node),
        }
        for depth, node in _executed_nodes(df)
    ]


def codegen_compilations(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, total compile ms) by Janino in this JVM since it
    started: the count of ``CodegenMetrics.METRIC_COMPILATION_TIME`` and
    ``CodeGenerator.compileTime``. Each is a miss of the codegen class
    cache. Diff two readings around the work to measure; under
    ``local[N]`` the executors' compilations are counted too."""
    jvm = spark._jvm
    metrics = getattr(jvm, "org.apache.spark.metrics.source.CodegenMetrics")
    codegen = getattr(jvm, "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
    return (
        metrics.METRIC_COMPILATION_TIME().getCount(),
        round(codegen.compileTime() / 1e6, 3),
    )


def plan_summary(df: DataFrame) -> dict:
    """Scale-relevant facts of the frame's executed plan: file scans and
    what reached them (``scan_details``: read columns, PushedFilters), join
    strategies, shuffle exchanges, whole-stage codegen spans and whether
    any operator runs in a Python worker. Call after an action on
    ``df``."""
    counts: dict[str, int] = {}
    scans, python = [], False
    for _depth, node in _executed_nodes(df):
        cls = node.getClass().getSimpleName()
        counts[cls] = counts.get(cls, 0) + 1
        python = python or node.getClass().getName().startswith(_PYTHON_EXEC_PKG)
        if cls == "FileSourceScanExec":
            pushed = node.metadata().get("PushedFilters")
            pushed = pushed.get() if pushed.isDefined() else "[]"
            scans.append((node.requiredSchema().size(), pushed))
    return {
        "scans": len(scans),
        "pushed_scans": sum(1 for _cols, p in scans if p != "[]"),
        "scan_details": scans,
        "bhj": counts.get("BroadcastHashJoinExec", 0),
        "smj": counts.get("SortMergeJoinExec", 0),
        "shj": counts.get("ShuffledHashJoinExec", 0),
        "bnlj": counts.get("BroadcastNestedLoopJoinExec", 0),
        "exchanges": counts.get("ShuffleExchangeExec", 0),
        "codegen_spans": counts.get("WholeStageCodegenExec", 0),
        "python": python,
    }


def describe_select(spark: SparkSession, sql: str) -> DataFrame:
    """``DESCRIBE SELECT ...`` parity (README.md:313-316): the schema a
    query WOULD produce, resolved by the analyzer only — no job runs, no
    data is read beyond the parquet footer the scan node needs. Returns
    (column_name, column_type) rows using Spark's simpleString type names.
    """
    fields = spark.sql(sql).schema.fields  # analysis-only
    return spark.createDataFrame(
        [(f.name, f.dataType.simpleString()) for f in fields],
        "column_name string, column_type string",
    )


@register(
    "e1_describe_select",
    oracle="""
        SELECT column_name,
               CASE column_type
                   WHEN 'BIGINT' THEN 'bigint'
                   WHEN 'DOUBLE' THEN 'double'
                   WHEN 'TIMESTAMP' THEN 'timestamp_ntz'
                   WHEN 'VARCHAR' THEN 'string'
                   ELSE lower(column_type) END AS column_type
        FROM (DESCRIBE SELECT l_orderkey, l_quantity,
                  l_extendedprice * (1 - l_discount) AS disc_price,
                  l_shipdate, l_returnflag
              FROM lineitem)
        ORDER BY column_name
    """,
    doc="E1 DESCRIBE SELECT parity (README.md:313-316 — schema of a query "
    "without running it): the analyzer resolves names, the computed "
    "column's type, and the parquet footer schema; the CASE in the oracle "
    "maps DuckDB's type names onto Spark simpleString names (the engine's "
    "documented load mapping: TIMESTAMP->timestamp_ntz, VARCHAR->string)",
    tags=("explain", "metadata"),
)
def e1_describe_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("e1_li")
    return describe_select(
        spark,
        "SELECT l_orderkey, l_quantity, "
        "l_extendedprice * (1 - l_discount) AS disc_price, "
        "l_shipdate, l_returnflag FROM e1_li",
    ).orderBy("column_name")


@dataclass
class ScanSummary:
    pushed_filters: list[str]
    partition_filters: list[str]
    read_schema: str
    has_codegen: bool

    @property
    def prunes_columns(self) -> bool:
        return bool(self.read_schema)


def scan_summary(df: DataFrame) -> ScanSummary:
    plan = explain_str(df, "formatted")

    def grab(key: str) -> list[str]:
        out = []
        for line in plan.splitlines():
            if key in line:
                body = line.split(":", 1)[-1].strip().strip("[]")
                # split on commas that are OUTSIDE parentheses
                depth, cur = 0, ""
                for ch in body:
                    if ch == "(":
                        depth += 1
                    elif ch == ")":
                        depth -= 1
                    if ch == "," and depth == 0:
                        if cur.strip():
                            out.append(cur.strip())
                        cur = ""
                    else:
                        cur += ch
                if cur.strip():
                    out.append(cur.strip())
        return out

    read_schema = ""
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    if m:
        read_schema = m.group(1)
    return ScanSummary(
        pushed_filters=grab("PushedFilters"),
        partition_filters=grab("PartitionFilters"),
        read_schema=read_schema,
        # simple mode marks codegen stages with "*(n)"; formatted names them
        has_codegen="WholeStageCodegen" in plan or "*(" in explain_str(df, "simple"),
    )


def bench(df: DataFrame, label: str = "") -> tuple[float, int]:
    """E2 timing harness (console.time analog, README.md:97-110): wall-clock
    a full materialization of the plan; returns (seconds, row_count)."""
    t0 = time.perf_counter()
    n = df.count()
    return time.perf_counter() - t0, n
