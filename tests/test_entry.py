"""Driver-contract smoke tests: entry() runs, queries()/oracle_sql() agree."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"event_type", "cnt", "avg_value", "sum_value"}


def test_queries_and_oracles_consistent():
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert len(qs) > 0
    # every oracle has a query; oracles may be a subset (rows-only ops)
    assert set(os_) <= set(qs)


def test_all_queries_runnable_smoke(spark, sf_dir):
    """Every registered query must build + execute at sf0.001, and every
    physical plan must satisfy the fleet-wide scale-hygiene floor:

    - no CartesianProduct anywhere (an unbroadcast cross join is always a
      scale bug; 1-row scalar cross joins plan as BroadcastNestedLoopJoin);
    - no BatchEvalPython anywhere (row-at-a-time pickled Python UDFs are
      banned package-wide — Python is allowed only through Arrow-batched
      mapInPandas/ArrowEvalPython, which render differently in the plan).
    """
    for name, fn in entry_mod.queries().items():
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert df.count() >= 0, name


def test_hostile_session_timezone_is_repinned(spark, sf_dir):
    """The engine must self-apply UTC (io.apply_engine_conf) — a caller
    who preset a different session timezone still gets UTC-bucketed
    results (verify-skill probe, now a regression gate)."""
    from tutorial_iceberg_spark.registry import all_queries

    build = all_queries()["a7_daily_timeseries"].builder
    baseline = [tuple(r) for r in build(spark, sf_dir).collect()]
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        hostile = [tuple(r) for r in build(spark, sf_dir).collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert hostile == baseline


def test_runtime_confs_are_runtime_settable(spark):
    """apply_engine_conf skips a key the session refuses, so a static conf
    in ENGINE_RUNTIME_CONF would silently never reach a session built
    elsewhere. Static confs go on get_spark's builder, like the codegen
    class cache size."""
    from tutorial_iceberg_spark.session import CODEGEN_CACHE_ENTRIES, ENGINE_RUNTIME_CONF

    static = [k for k in ENGINE_RUNTIME_CONF if not spark.conf.isModifiable(k)]
    assert not static, f"static confs in ENGINE_RUNTIME_CONF: {static}"
    key = "spark.sql.codegen.cache.maxEntries"
    assert not spark.conf.isModifiable(key)
    assert spark.conf.get(key) == str(CODEGEN_CACHE_ENTRIES)


def test_builders_are_deterministic_across_reruns(spark, sf_dir):
    """Verify-skill probe as a gate: running a builder twice in one
    session must produce identical results — covers the ops whose
    mechanics could plausibly drift (distributed rank offsets, hash-
    derived bootstrap weights, per-partition sketch iteration order)."""
    from tutorial_iceberg_spark.registry import all_queries

    qs = all_queries()
    for name in ("w5_decile_segments", "x_bootstrap_ci", "x_topk_sketch"):
        first = [tuple(r) for r in qs[name].builder(spark, sf_dir).collect()]
        second = [tuple(r) for r in qs[name].builder(spark, sf_dir).collect()]
        assert first == second, name
