"""Temporal join operator tests: semantics + the plan shapes that make
them viable at 100 TB (no nested-loop joins, bounded shuffle count)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tutorial_iceberg_spark.io import load_table
from tutorial_iceberg_spark.operators import temporal as T
from tutorial_iceberg_spark.plans.explain import explain_str
from tutorial_iceberg_spark.registry import all_queries


def test_asof_attribution_semantics(spark, sf_dir):
    out = T.x_asof_attribution(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    n_purch = ev.filter(F.col("event_type") == "purchase").count()
    assert len(out) == n_purch  # left semantics: every purchase survives
    # spot-check one attributed row against a direct computation
    attributed = [r for r in out if r["click_ts"] is not None]
    assert attributed, "expected at least one purchase with a prior click"
    r = attributed[0]
    best = (
        ev.filter(
            (F.col("event_type") == "click")
            & (F.col("user_id") == r["user_id"])
            & (F.col("ts") <= r["ts"])
        )
        .orderBy(F.desc("ts"))
        .limit(1)
        .collect()[0]
    )
    assert best["ts"] == r["click_ts"]
    assert abs(best["value"] - r["click_value"]) < 1e-12
    # un-attributed rows really have no prior click
    bare = [x for x in out if x["click_ts"] is None]
    if bare:
        b = bare[0]
        assert (
            ev.filter(
                (F.col("event_type") == "click")
                & (F.col("user_id") == b["user_id"])
                & (F.col("ts") <= b["ts"])
            ).count()
            == 0
        )


def test_asof_is_single_window_pass(spark, sf_dir):
    plan = explain_str(T.x_asof_attribution(spark, sf_dir))
    assert "NestedLoop" not in plan
    # one Window operator over user_id does the as-of matching
    assert plan.count("Window") >= 1


def test_range_join_avoids_nested_loop(spark, sf_dir):
    df = all_queries()["x_range_join_bucketed"].builder(spark, sf_dir)
    plan = explain_str(df)
    assert "NestedLoop" not in plan, "range join degenerated to BNLJ"
    assert "Join" in plan
    # residual range predicate rides the equi-join, bucket fan-out is 2
    out = df.collect()
    ev = load_table(spark, sf_dir, "events")
    assert len(out) == ev.filter(F.col("event_type") == "purchase").count()
    # window counts can never exceed the user's total clicks
    clicks_per_user = dict(
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .count()
        .collect()
    )
    for r in out[:50]:
        assert r["clicks_last_hour"] <= clicks_per_user.get(r["user_id"], 0)


def test_ema_daily_matches_python_fold(spark, sf_dir):
    from tutorial_iceberg_spark.registry import all_queries

    rows = all_queries()["x_ema_daily"].builder(spark, sf_dir).collect()
    assert len(rows) >= 28  # calendar-bounded series
    ema = None
    for r in rows:  # already day-ordered
        ema = float(r["n_events"]) if ema is None else 0.25 * r["n_events"] + 0.75 * ema
        assert r["ema"] == ema  # bit-exact same fold


def test_rolling_7day_frame_respects_calendar_gaps(spark, sf_dir):
    from tutorial_iceberg_spark.registry import all_queries

    rows = all_queries()["x_rolling_7day"].builder(spark, sf_dir).collect()
    assert len(rows) > 0
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for series in by_type.values():
        for i, r in enumerate(series):
            # recompute the trailing-7-day sum directly
            lo = r["day"].toordinal() - 6
            want = sum(
                s["n"] for s in series if lo <= s["day"].toordinal() <= r["day"].toordinal()
            )
            assert r["rolling_sum"] == want
            assert r["rolling_avg"] == r["rolling_sum"] / r["rolling_days"]


def test_event_transitions_rows_normalize(spark, sf_dir):
    from collections import defaultdict

    from tutorial_iceberg_spark.registry import all_queries

    rows = all_queries()["x_event_transitions"].builder(spark, sf_dir).collect()
    assert len(rows) > 0
    row_sum = defaultdict(float)
    for r in rows:
        row_sum[r["from_type"]] += r["p"]
    for tot in row_sum.values():
        assert abs(tot - 1.0) < 1e-9


def test_coverage_audit_invariants(spark, sf_dir):
    from tutorial_iceberg_spark.registry import all_queries

    rows = all_queries()["x_coverage_audit"].builder(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["days_present"] <= r["days_span"]
        assert r["days_missing"] == r["days_span"] - r["days_present"]
        assert (r["last_day"] - r["first_day"]).days + 1 == r["days_span"]
