"""Source/sink + plan-inspection tests: partition pruning is the key gate."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tutorial_iceberg_spark.io import load_table
from tutorial_iceberg_spark.plans.explain import bench, explain_str, scan_summary
from tutorial_iceberg_spark.sources import sinks
from tutorial_iceberg_spark.sources.generator import generate_events
from tutorial_iceberg_spark.sources.parquet_meta import describe_parquet, rowgroup_stats
from tutorial_iceberg_spark.io import table_path


def test_partitioned_write_prunes_on_read(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").withColumns(
        {"year": F.year("l_shipdate"), "month": F.month("l_shipdate")}
    )
    path = sinks.scratch_dir("prune_test")
    sinks.write_partitioned(li, path, "year", "month")
    back = spark.read.parquet(path)
    pruned = back.filter((F.col("year") == 1998) & (F.col("month") == 6))
    summary = scan_summary(pruned)
    # partition predicates must land in PartitionFilters, not post-scan Filter
    assert any("year" in f for f in summary.partition_filters)
    assert any("month" in f for f in summary.partition_filters)
    # and the pruned count must match a direct filter on the source
    direct = load_table(spark, sf_dir, "lineitem").filter(
        (F.year("l_shipdate") == 1998) & (F.month("l_shipdate") == 6)
    )
    assert pruned.count() == direct.count()


def test_scan_summary_pushdown(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 100).select("event_id")
    s = scan_summary(ev)
    assert any("GreaterThan" in f for f in s.pushed_filters)
    assert "props" not in s.read_schema
    assert s.has_codegen


def test_generator_deterministic(spark):
    a = generate_events(spark, 500).collect()
    b = generate_events(spark, 500).collect()
    assert a == b
    types = {r["event_type"] for r in a}
    assert types == {"click", "view", "purchase"}


def test_rowgroup_stats_and_describe(spark, sf_dir):
    path = table_path(sf_dir, "lineitem")
    stats = rowgroup_stats(spark, path)
    total = (
        stats.filter(F.col("path_in_schema") == "l_orderkey")
        .agg(F.sum("num_values"))
        .collect()[0][0]
    )
    assert total == load_table(spark, sf_dir, "lineitem").count()
    desc = {r["column_name"]: r["column_type"] for r in describe_parquet(spark, path).collect()}
    assert desc["l_quantity"] == "double"


def test_bench_helper(spark, sf_dir):
    secs, n = bench(load_table(spark, sf_dir, "events"))
    assert n > 0 and secs >= 0


def test_explain_str_modes(spark, sf_dir):
    df = load_table(spark, sf_dir, "events").groupBy("event_type").count()
    assert "HashAggregate" in explain_str(df, "simple")
    assert "== Physical Plan ==" in explain_str(df, "formatted")


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """The whole point of bucketing: the fact-fact join must compile to a
    sort-merge join with NO shuffle (Exchange) on either side."""
    from tutorial_iceberg_spark.sources.bucketing import s10_bucketed_join

    # simulate scale: at sf0.001 auto-broadcast would hide the bucket join
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = s10_bucketed_join(spark, sf_dir)
        plan = explain_str(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    tree = plan.split("\n\n")[0]  # the indented tree block
    assert "SortMergeJoin" in tree
    # nothing below the join may shuffle: the aggregation/sort above it
    # legitimately exchange, the bucketed scans must not
    below_join = tree.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below_join, below_join
    rows = df.collect()
    assert len(rows) == 5  # order priorities


def test_jdbc_roundtrip_partitioned_read(spark, sf_dir):
    """S8: the JDBC reader must fan the scan across numPartitions
    concurrent connections (un-partitioned JDBC = one connection pulling
    the whole table), and the roundtrip must preserve rows exactly."""
    from pyspark.sql import functions as F

    from tutorial_iceberg_spark.sources import jdbc as J

    url = J._embedded_derby_url(spark)
    sub = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 11 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    J.write_jdbc(sub, url, "t_rt", driver=J.DERBY_DRIVER)
    hi = sub.agg(F.max("o_orderkey")).first()[0]
    back = J.read_jdbc(
        spark, url, "t_rt",
        partition_column="o_orderkey", lower_bound=0,
        upper_bound=int(hi) + 1, num_partitions=4, driver=J.DERBY_DRIVER,
    )
    assert back.rdd.getNumPartitions() == 4
    want = sorted(map(tuple, sub.collect()))
    got = sorted(map(tuple, back.collect()))
    assert got == want


def test_shard_corpus_covers_and_balances(spark, sf_dir):
    import glob
    import os

    from tutorial_iceberg_spark.operators.pipeline import CORPUS_SHARDS, x_shard_corpus

    rows = x_shard_corpus(spark, sf_dir).collect()
    n_total = load_table(spark, sf_dir, "documents").count()
    # partition function: every doc lands in exactly one shard
    assert sum(r["n_docs"] for r in rows) == n_total
    assert sorted(r["shard"] for r in rows) == list(range(CORPUS_SHARDS))
    # md5 uniformity: no shard more than 3x the mean (loose for small sf)
    mean = n_total / CORPUS_SHARDS
    assert all(r["n_docs"] <= 3 * mean for r in rows)
    # physical layout: one shard=N directory per shard
    path = sinks.scratch_dir("shard_corpus")
    dirs = sorted(glob.glob(os.path.join(path, "shard=*")))
    assert len(dirs) == CORPUS_SHARDS


def test_shard_corpus_is_deterministic(spark, sf_dir):
    from tutorial_iceberg_spark.operators.pipeline import x_shard_corpus

    a = [tuple(r) for r in x_shard_corpus(spark, sf_dir).collect()]
    b = [tuple(r) for r in x_shard_corpus(spark, sf_dir).collect()]
    assert a == b


def _jobs_started(spark, fn):
    """(number of Spark jobs ``fn()`` started, its result) — jobs are
    numbered in submission order, so the difference between two reads of
    the scheduler's next job id counts them."""

    def next_job_id():
        counter = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        return counter if isinstance(counter, int) else int(counter.get())

    before = next_job_id()
    out = fn()
    return next_job_id() - before, out


def test_repeated_reads_start_no_schema_job(spark, sf_dir, tmp_path):
    """Schema inference is a one-task Spark job per parquet read. A file
    read before, and a lake table whose metadata holds its schema, must
    plan with no Spark job at all; a file rewritten in place must be
    inferred again."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tutorial_iceberg_spark.lakehouse.table import LakeTable

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copyfile(table_path(sf_dir, "region"), table_path(sf, "region"))
    load_table(spark, sf, "region")
    n, again = _jobs_started(spark, lambda: load_table(spark, sf, "region"))
    assert n == 0, f"second load_table of an unchanged file started {n} job(s)"
    assert again.count() == 5

    # same path, new content: the cached schema must not be served
    pq.write_table(
        pa.table({"r_regionkey": pa.array([7], pa.int64()), "extra": ["x"]}),
        table_path(sf, "region"),
    )
    n, fresh = _jobs_started(spark, lambda: load_table(spark, sf, "region"))
    assert n >= 1
    assert fresh.columns == ["r_regionkey", "extra"]
    assert [tuple(r) for r in fresh.collect()] == [(7, "x")]

    t = LakeTable.create(spark, str(tmp_path / "lake"), "k bigint, v string")
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(20)], "k bigint, v string"))
    t.set_property("write.delete.mode", "merge-on-read")

    def plans_without_jobs(kind, gone):
        n, df = _jobs_started(spark, t.read)
        assert n == 0, f"{kind}: LakeTable.read() started {n} job(s) before collect"
        n, hi = _jobs_started(spark, lambda: t.scan("k >= 10"))
        assert n == 0, f"{kind}: LakeTable.scan() started {n} job(s) before collect"
        assert sorted(r.k for r in df.collect()) == [k for k in range(20) if k not in gone]
        assert sorted(r.k for r in hi.collect()) == list(range(10, 20))

    plans_without_jobs("no deletes", ())
    t.set_property("write.delete.flavor", "position")
    t.delete("k = 3")
    plans_without_jobs("position delete", (3,))
    t.compact()
    t.set_property("write.delete.flavor", "equality")
    t.delete("k = 4")
    # an equality-delete file is read with its own schema: the first read
    # after the delete may infer it, no later one does
    t.read()
    plans_without_jobs("equality delete", (3, 4))
