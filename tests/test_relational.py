"""Relational operator unit tests (semantics + plan shape at scale).

Plan-shape assertions are the 100 TB design gate: filters must reach the
parquet scan as PushedFilters, small dims must broadcast, aggregates must
have a map-side partial step.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tutorial_iceberg_spark.io import load_table
from tutorial_iceberg_spark.operators import relational as R
from tutorial_iceberg_spark.plans.explain import explain_str
from tutorial_iceberg_spark.registry import all_queries


def test_flagship_shape(spark, sf_dir):
    df = all_queries()["flagship_event_type_agg"].builder(spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 5  # click/view/purchase/signup/error
    assert rows[0]["cnt"] >= rows[-1]["cnt"]
    total = sum(r["cnt"] for r in rows)
    assert total == load_table(spark, sf_dir, "events").count()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = all_queries()["p4_range_filter"].builder(spark, sf_dir)
    plan = explain_str(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(value,100.0)" in plan


def test_projection_prunes_columns(spark, sf_dir):
    df = all_queries()["p1_projection"].builder(spark, sf_dir)
    plan = explain_str(df)
    # ReadSchema must not include untouched wide columns like props
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "props" not in read_schema[0]


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = R.j2_star_join_revenue(spark, sf_dir)
    plan = explain_str(df)
    # formatted explain lists each node in tree + detail section
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_agg_has_partial_step(spark, sf_dir):
    df = all_queries()["flagship_event_type_agg"].builder(spark, sf_dir)
    plan = explain_str(df)
    assert "HashAggregate" in plan
    assert "partial_count" in plan or "Functions [partial" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    df = all_queries()["o2_topk_event_types"].builder(spark, sf_dir)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan


def test_running_total_monotone(spark, sf_dir):
    rows = all_queries()["w1_running_total"].builder(spark, sf_dir).collect()
    cums = [r["cumulative_revenue"] for r in rows]
    assert cums == sorted(cums)
    assert abs(cums[-1] - sum(r["revenue"] for r in rows)) < 1e-6


def test_semi_anti_partition_customer(spark, sf_dir):
    customer = load_table(spark, sf_dir, "customer")
    semi = R.j3_semi_join(spark, sf_dir).count()
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    assert semi == customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).count()


def test_q3_customer_join_is_aqe_not_hinted(spark, sf_dir):
    # customer grows with SF, so q3 must NOT hard-hint it (a hint would be
    # a >8 GB driver OOM at 100x). Simulate scale: with auto-broadcast off,
    # EVERY join — customer included — must degrade to a shuffle join,
    # proving no hidden hint survives; at the default threshold the small
    # customer side broadcasts again via size estimates/AQE.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_str(all_queries()["q3_shipping_priority"].builder(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan  # no hard hint on customer
    plan_small = explain_str(all_queries()["q3_shipping_priority"].builder(spark, sf_dir))
    assert "BroadcastHashJoin" in plan_small  # stats-chosen at bench scale
    rows = all_queries()["q3_shipping_priority"].builder(spark, sf_dir).collect()
    assert len(rows) == 10
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_approx_quantiles_within_sketch_bound(spark, sf_dir):
    """The GK sketch with accuracy=10000 must land each estimate within
    1/10000 of the true RANK; gate generously at rank error <= 1% by
    checking the estimate lies between the exact (q-0.01) and (q+0.01)
    percentiles."""
    from pyspark.sql import functions as F2
    from tutorial_iceberg_spark.io import load_table as lt

    est = {
        (r["event_type"], r["quantile"]): r["value_est"]
        for r in R.x_approx_quantiles(spark, sf_dir).collect()
    }
    assert est and all(v is not None for v in est.values())
    ev = lt(spark, sf_dir, "events")
    for (etype, q) in list(est):
        lo, hi = (
            ev.filter(F2.col("event_type") == etype)
            .agg(
                F2.expr(f"percentile(value, {max(q - 0.01, 0.0)})"),
                F2.expr(f"percentile(value, {min(q + 0.01, 1.0)})"),
            )
            .first()
        )
        assert lo - 1e-9 <= est[(etype, q)] <= hi + 1e-9, (etype, q)


def test_approx_distinct_within_5pct_of_exact(spark, sf_dir):
    from pyspark.sql import functions as F2
    from tutorial_iceberg_spark.io import load_table as lt

    exact = {r["event_type"]: r["exact_users"] for r in all_queries()["a9_distinct_users"].builder(spark, sf_dir).collect()}
    approx = {
        r["event_type"]: r["a"]
        for r in lt(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F2.approx_count_distinct("user_id", rsd=0.02).alias("a"))
        .collect()
    }
    for k, ex in exact.items():
        assert abs(approx[k] - ex) / ex <= 0.05, (k, ex, approx[k])


def test_distributed_row_number_matches_global_window(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tutorial_iceberg_spark.io import load_table
    from tutorial_iceberg_spark.operators.relational import distributed_row_number

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    got = distributed_row_number(cust, ["c_acctbal", "c_custkey"], n_partitions=7)
    ref = cust.withColumn(
        "rn", F.row_number().over(Window.orderBy("c_acctbal", "c_custkey"))
    )
    assert got.select("c_custkey", "rn").exceptAll(
        ref.select("c_custkey", "rn")
    ).count() == 0
    # dense 1..n with no gaps or dupes
    n = cust.count()
    assert got.agg(F.min("rn"), F.max("rn"), F.count_distinct("rn")).first() == (
        1, n, n,
    )


def test_decile_segments_balanced(spark, sf_dir):
    from tutorial_iceberg_spark.registry import all_queries

    rows = all_queries()["w5_decile_segments"].builder(spark, sf_dir).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    sizes = [r["n_customers"] for r in rows]
    assert max(sizes) - min(sizes) <= 1  # NTILE balance property
    # deciles are contiguous, non-overlapping balance ranges
    for lo, hi in zip(rows, rows[1:]):
        assert lo["max_bal"] <= hi["min_bal"]


def test_anomaly_mad_flags_planted_outlier(spark):
    from pyspark.sql import functions as F

    from tutorial_iceberg_spark.operators.relational import x_anomaly_mad  # noqa: F401
    # direct invariant on registry output over smoke data is covered by the
    # oracle; here check MAD logic on a constructed frame via the same exprs
    vals = [10.0] * 50 + [11.0] * 49 + [1000.0]
    df = spark.createDataFrame([("t", v) for v in vals], "event_type string, value double")
    med = df.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5d)").alias("m")
    ).first()["m"]
    dev = df.withColumn("adev", F.abs(F.col("value") - F.lit(med)))
    mad = dev.agg(F.expr("percentile(adev, 0.5d)").alias("mad")).first()["mad"]
    n_out = dev.filter(F.col("adev") > 3 * mad).count()
    assert n_out == 1  # only the planted 1000.0


def test_histogram_cdf_monotone_and_complete(spark, sf_dir):
    from tutorial_iceberg_spark.registry import all_queries

    rows = all_queries()["a15_histogram_cdf"].builder(spark, sf_dir).collect()
    assert abs(sum(r["pct"] for r in rows) - 1.0) < 1e-9
    cum = [r["cum_pct"] for r in rows]
    assert all(a < b or abs(a - b) < 1e-15 for a, b in zip(cum, cum[1:]))
    assert abs(cum[-1] - 1.0) < 1e-15


def test_bootstrap_ci_brackets_true_mean(spark, sf_dir):
    from pyspark.sql import functions as F

    from tutorial_iceberg_spark.io import load_table
    from tutorial_iceberg_spark.registry import all_queries

    row = all_queries()["x_bootstrap_ci"].builder(spark, sf_dir).first()
    assert row["n_replicates"] == 32
    true_mean = (
        load_table(spark, sf_dir, "events").agg(F.avg("value")).first()[0]
    )
    assert row["ci_lo"] < row["ci_med"] < row["ci_hi"]
    assert row["ci_lo"] <= true_mean <= row["ci_hi"]
    # CI width should be a few standard errors, not degenerate or huge
    assert (row["ci_hi"] - row["ci_lo"]) / true_mean < 0.25
