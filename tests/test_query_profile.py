"""The executed-plan reader (``plans/explain.py``) and the query profiler
CLI (``tools/query_profile.py``) on the smoke fixture.

The plan counts are read from the executed (post-AQE) plan tree, where a
reused exchange is a leaf and every file scan is its own node — the two
places a regex over explain text miscounts.
"""

from __future__ import annotations

import os
import sys

import pytest

from tutorial_iceberg_spark.plans.explain import (
    codegen_compilations,
    operator_metrics,
    plan_summary,
)
from tutorial_iceberg_spark.registry import all_queries

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

import query_profile  # noqa: E402


def _executed(spark, sf_dir, name):
    df = all_queries()[name].builder(spark, sf_dir)
    df.collect()
    return df


def test_reused_exchange_is_not_a_shuffle(spark, sf_dir):
    # the grouped census is shuffled once and read again through a
    # ReusedExchange for the global stats
    assert plan_summary(_executed(spark, sf_dir, "x_skew_profile"))["exchanges"] == 2


def test_identical_pushed_scans_count_twice(spark, sf_dir):
    # both events scans carry the same PushedFilters
    s = plan_summary(_executed(spark, sf_dir, "x_winsorize"))
    assert s["scans"] == 2
    assert s["pushed_scans"] == 2


def test_python_worker_metrics_are_read(spark, sf_dir):
    from tutorial_iceberg_spark.io import load_table

    df = _executed(spark, sf_dir, "x_embed_pca")
    n_emb = load_table(spark, sf_dir, "embeddings").count()
    pandas_nodes = [o for o in operator_metrics(df) if o["class"] == "MapInPandasExec"]
    assert pandas_nodes
    assert any(o["metrics"].get("pythonNumRowsReceived", 0) >= n_emb for o in pandas_nodes)
    assert plan_summary(df)["python"]


@pytest.mark.parametrize("name", ["x_embed_pca", "x_embed_pq"])
def test_embedding_kernel_sees_each_row_once(spark, sf_dir, name):
    # a sort above the kernel plans a RangePartitioner whose sampling job
    # reruns the scan and the kernel: the node then receives every row twice
    from tutorial_iceberg_spark.io import load_table

    df = all_queries()[name].builder(spark, sf_dir)
    ids = [r["vec_id"] for r in df.collect()]
    n_emb = load_table(spark, sf_dir, "embeddings").count()
    received = [
        o["metrics"].get("pythonNumRowsReceived", 0)
        for o in operator_metrics(df)
        if o["class"] == "MapInPandasExec"
    ]
    assert received == [n_emb]
    assert len(ids) == n_emb and ids == sorted(ids)


# the ops of perfbench's llm_corpus workload
LLM_CORPUS = (
    "x_dedup_exact", "x_dedup_minhash_lsh",
    "x_keyword_extract", "x_tfidf_terms", "x_embed_pca", "x_knn_brute_cosine",
)


def test_repeated_ops_compile_nothing(spark, sf_dir):
    # a cycle of these ops generates more classes than Spark's default
    # codegen cache holds (100), so each repeat recompiled most of them:
    # the cache must hold the working set. On the smoke tables AQE may turn
    # a join into a broadcast of whichever side finishes first, a new plan
    # rather than a repeat, so that runtime conversion is off here.
    specs = all_queries()
    key = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)

    def cycle() -> int:
        before = codegen_compilations(spark)[0]
        for name in LLM_CORPUS:
            specs[name].builder(spark, sf_dir).collect()
        return codegen_compilations(spark)[0] - before

    spark.conf.set(key, "-1")
    try:
        first, second = cycle(), cycle()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert second <= 0.05 * first, (first, second)


def test_profile_reads_stages_and_catalyst(spark, sf_dir):
    rec = query_profile.profile(spark, "p3_eq_filter", sf_dir)
    assert len(rec["walls_s"]) == 1
    assert rec["stage_totals"]["exec.stages"] >= 1
    assert set(rec["catalyst"]) == {
        "catalyst.analysis_ms",
        "catalyst.optimization_ms",
        "catalyst.planning_ms",
    }
    assert any(o["class"] == "FileSourceScanExec" for o in rec["operators"])
    assert set(rec["codegen"]) == {"compiles", "compile_ms"}


def test_plans_writes_one_file_per_name(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))  # main() extends it
    names = ["p3_eq_filter", "q1_lineitem_pricing"]
    query_profile.main(["--sf", sf_dir, "--plans", str(tmp_path), "after", *names])
    written = sorted(os.listdir(tmp_path))
    assert written == sorted(f"{n}_after.txt" for n in names)
    assert "== Physical Plan ==" in (tmp_path / "p3_eq_filter_after.txt").read_text()
