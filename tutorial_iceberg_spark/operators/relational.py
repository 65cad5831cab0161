"""Relational core: SURVEY.md §2.2-§2.6 (P/A/W/O/J operators).

A query whose SQL both engines run alike is one text (``register_sql``):
Spark plans it over the testdata views, DuckDB runs it as the oracle. The
rest keep a DataFrame builder beside their oracle, each for a reason stated
above it: DuckDB-only syntax in the oracle, or a builder whose plan beats
Spark's plan for the text (measured at sf0.1), or a builder that is itself
the feature under test. Reference citations per query point at the README
snippet in /root/reference that exercises the construct.

Scale notes are inline per operator: at 100 TB the interesting questions are
(a) does the filter/projection reach the parquet scan, (b) is the
aggregation map-side partial, (c) is each join broadcast or shuffle, and
(d) does anything collect on the driver (nothing here does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tutorial_iceberg_spark.io import load_table
from tutorial_iceberg_spark.functions.numeric import davg, dec, dsum, o_davg, o_dsum
from tutorial_iceberg_spark.registry import register, register_sql

# ---------------------------------------------------------------------------
# Flagship: the reference's core analytics pattern (README.md:583-592) —
# per-event-type count / avg / sum, biggest first. Also the "simple
# aggregation" benchmark shape (README.md:779-795).
# ---------------------------------------------------------------------------


register_sql(
    "flagship_event_type_agg",
    text=f"""
        SELECT event_type,
               COUNT(*) AS cnt,
               {o_davg('value', 'avg_value')},
               {o_dsum('value', 'sum_value')}
        FROM events
        GROUP BY event_type
        ORDER BY cnt DESC, event_type
    """,
    doc="A1-A4+F2+O2: GROUP BY event_type with count/avg/sum — README.md:583-592",
    tags=("agg", "flagship"),
)


# ---------------------------------------------------------------------------
# Projections & filters (P1-P8)
# ---------------------------------------------------------------------------


register_sql(
    "p1_projection",
    text="SELECT event_type, value FROM events",
    doc="P1 column projection — README.md:577; scan must prune to 2 columns",
    tags=("projection",),
)


@register(
    "p2_computed_projection",
    oracle="""
        SELECT event_id,
               value * 2 + 1 AS boosted,
               'u_' || CAST(user_id AS VARCHAR) AS utag
        FROM events
    """,
    doc="P2 computed projection + alias, F3 string concat — README.md:104, 587-588",
    tags=("projection",),
)
def p2_computed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        (F.col("value") * 2 + 1).alias("boosted"),
        F.concat(F.lit("u_"), F.col("user_id").cast("string")).alias("utag"),
    )


register_sql(
    "p3_eq_filter",
    text="""
        SELECT event_id, user_id, event_type, value
        FROM events WHERE user_id = 42
    """,
    doc="P3 equality predicate (key lookup shape) — README.md:116, 684, 770",
    tags=("filter", "bench-shape"),
)


register_sql(
    "p4_range_filter",
    text="SELECT event_id, value FROM events WHERE value > 100",
    doc="P4 range predicate, pushed to parquet scan — README.md:670",
    tags=("filter",),
)


register_sql(
    "p6_case_searched",
    text="""
        SELECT event_id,
               CASE WHEN value < 50 THEN 'low'
                    WHEN value < 200 THEN 'mid'
                    ELSE 'high' END AS bucket
        FROM events
    """,
    doc="P6 searched CASE WHEN — README.md:105",
    tags=("projection",),
)


register_sql(
    "p7_case_simple_cast",
    text="""
        SELECT event_id,
               CASE CAST(event_id % 3 AS INTEGER)
                    WHEN 0 THEN 'click' WHEN 1 THEN 'view'
                    ELSE 'purchase' END AS synth_type
        FROM events
    """,
    doc="P7 simple CASE on expression + P8 cast — README.md:192-196",
    tags=("projection",),
)


# ---------------------------------------------------------------------------
# Aggregations (A1-A8) & time series
# ---------------------------------------------------------------------------


register_sql(
    "a7_daily_timeseries",
    text=f"""
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               COUNT(*) AS cnt,
               {o_dsum('value', 'sum_value')},
               {o_davg('value', 'avg_value')}
        FROM events
        GROUP BY 1
        ORDER BY 1
    """,
    doc="A5+A7+F4 time-bucketed agg with ordinal group/order — README.md:124-132, 597-607",
    tags=("agg", "timeseries"),
)


register_sql(
    "a6_day_type_agg",
    text=f"""
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               event_type,
               COUNT(*) AS cnt,
               {o_dsum('value', 'sum_value')}
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    doc="A6 multi-key time x type agg — the 'complex aggregation' benchmark shape, README.md:798-818",
    tags=("agg", "bench-shape"),
)


# Kept over its oracle text: slower as SQL, 2.34 s vs 1.90 s median (IQR 0.33 s), 10 sf0.1 pairs.
@register(
    "q1_lineitem_pricing",
    oracle="""
        SELECT l_returnflag,
               l_linestatus,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(15,4))), 2) AS DOUBLE) AS sum_qty,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4))), 2) AS DOUBLE) AS sum_base_price,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4))
                            * CAST(1 - l_discount AS DECIMAL(15,8))), 2) AS DOUBLE) AS sum_disc_price,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4))
                            * CAST((1 - l_discount) * (1 + l_tax) AS DECIMAL(15,8))), 2) AS DOUBLE) AS sum_charge,
               (CAST(SUM(CAST(l_quantity AS DECIMAL(15,4))) AS DOUBLE) / COUNT(l_quantity)) AS avg_qty,
               (CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,4))) AS DOUBLE) / COUNT(l_extendedprice)) AS avg_price,
               (CAST(SUM(CAST(l_discount AS DECIMAL(15,8))) AS DOUBLE) / COUNT(l_discount)) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 pricing-summary shape over lineitem: the heavy scan+agg the star schema exists for",
    tags=("agg", "flagship", "bench-shape"),
)
def q1_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: 8 decimal aggregates straight off the scan — the map-side
    # partial agg is the heavy part, parallelize it (io.load_table).
    li = load_table(spark, sf_dir, "lineitem", spread=True).filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp_ntz")
    )
    disc_factor = ((1 - F.col("l_discount")) * (1 + F.col("l_tax"))).cast("decimal(15,8)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.round(
                F.sum(dec("l_extendedprice") * (1 - F.col("l_discount")).cast("decimal(15,8)")), 2
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.sum(dec("l_extendedprice") * disc_factor), 2)
            .cast("double")
            .alias("sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            (F.sum(F.col("l_discount").cast("decimal(15,8)")).cast("double") / F.count("l_discount")).alias(
                "avg_disc"
            ),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


register_sql(
    "a8_monthly_shipments",
    text=f"""
        SELECT CAST(year(l_shipdate) AS INTEGER) AS year,
               CAST(month(l_shipdate) AS INTEGER) AS month,
               COUNT(*) AS cnt,
               {o_dsum('l_extendedprice', 'sum_price')}
        FROM lineitem
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    doc="A8+F5 per-year/month agg (partition-column group keys) — README.md:408-421, 631-639",
    tags=("agg", "timeseries"),
)


# ---------------------------------------------------------------------------
# Window functions (W1-W2)
# ---------------------------------------------------------------------------


register_sql(
    "w1_running_total",
    text="""
        WITH monthly AS (
            SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
                   ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4))), 2) AS rev
            FROM lineitem
            GROUP BY 1
        )
        SELECT month,
               CAST(rev AS DOUBLE) AS revenue,
               CAST(SUM(rev) OVER (ORDER BY month) AS DOUBLE) AS cumulative_revenue
        FROM monthly
        ORDER BY month
    """,
    doc="W1+W2 running total over a CTE of monthly revenue — README.md:611-627. "
    "Cumulation stays in DECIMAL through the window so partial-sum order cannot drift.",
    tags=("window",),
)


register_sql(
    "w3_rank_in_group",
    text="""
        SELECT day, event_type, cnt, rnk FROM (
            SELECT CAST(day_d AS TIMESTAMP) AS day, event_type, cnt,
                   ROW_NUMBER() OVER (
                       PARTITION BY day_d ORDER BY cnt DESC, event_type
                   ) AS rnk
            FROM (
                SELECT date_trunc('day', ts) AS day_d, event_type, COUNT(*) AS cnt
                FROM events GROUP BY 1, 2
            ) g
        ) ranked
        WHERE rnk <= 2
        ORDER BY day, rnk
    """,
    doc="W3 ranking window (top event types per day) — extension beyond reference (SURVEY §2.5 W3)",
    tags=("window",),
)


# ---------------------------------------------------------------------------
# Sorts / limits / top-k (O1-O4)
# ---------------------------------------------------------------------------


register_sql(
    "o2_topk_event_types",
    text="""
        SELECT event_type, COUNT(*) AS cnt
        FROM events
        GROUP BY event_type
        ORDER BY cnt DESC, event_type
        LIMIT 3
    """,
    doc="O2+O4 ORDER BY DESC + LIMIT -> TakeOrderedAndProject (distributed top-k) — README.md:589-591",
    tags=("sort",),
)


register_sql(
    "s1_scan_order_limit",
    text="""
        SELECT * FROM lineitem
        ORDER BY ALL
        LIMIT 5
    """,
    doc="S1 direct parquet scan + O3 multi-key ORDER BY + O4 LIMIT — "
    "README.md:576-578, 637. Total order over every column: the synthetic "
    "lineitem has duplicate (orderkey, linenumber) pairs, and a top-k under "
    "a non-total order is engine-nondeterministic at the boundary",
    tags=("scan", "sort"),
)


# ---------------------------------------------------------------------------
# Joins (J1-J3): the star schema the curriculum names (README.md:62) over
# the driver's TPC-H-ish tables.
#
# Broadcast policy (100 TB discipline): ONLY tables whose size is bounded by
# the schema — nation (25 rows) and region (5 rows) — ever get a hard
# F.broadcast hint. customer / part / supplier grow linearly with scale
# factor; a hard hint on them removes AQE's runtime judgment AND Spark's
# ability to fall back (driver-side broadcasts >8 GB hard-fail), so at 100x
# scale the hint is an OOM where AQE would have chosen correctly at every
# scale. Those sides carry no hint: at bench scale AQE still broadcasts them
# (they're far under spark.sql.autoBroadcastJoinThreshold), and at cluster
# scale it shifts to shuffle joins on its own. tests/test_plans.py gates
# both facts (BroadcastHashJoin present at test SF; no hard hint on
# linear-growth tables anywhere in the package).
# ---------------------------------------------------------------------------


# Kept over its oracle text: test_bounded_dim_hints_survive_threshold_off pins these nation/region hints.
@register(
    "j2_star_join_revenue",
    oracle=f"""
        SELECT r_name, n_name,
               COUNT(*) AS num_orders,
               {o_dsum('o_totalprice', 'revenue')}
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name
    """,
    doc="J2 star-schema join chain (fact->dim->dim->dim) — SURVEY §2.3. "
    "nation/region carry hard broadcast hints (bounded 25/5 rows); customer "
    "is left to AQE, which broadcasts it at bench scale and shuffle-joins it "
    "at cluster scale",
    tags=("join", "flagship", "bench-shape"),
)
def j2_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("num_orders"), dsum("o_totalprice", "revenue"))
        .orderBy("r_name", "n_name")
    )


register_sql(
    "j2_brand_revenue",
    text="""
        SELECT p_brand,
               COUNT(*) AS cnt,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4))
                            * CAST(1 - l_discount AS DECIMAL(15,8))), 2) AS DOUBLE) AS disc_revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
        ORDER BY p_brand
    """,
    doc="J2 fact x part dim with computed measure; part grows with SF so the "
    "join strategy is AQE's call (BHJ at bench scale, shuffle at 100x)",
    tags=("join",),
)


# Kept over its oracle text: slower as SQL, 0.279 s vs 0.212 s median (IQR 0.026 s), 10 sf0.1 pairs.
@register(
    "j3_semi_join",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
        )
    """,
    doc="J3 left-semi join: customers with at least one urgent order — MERGE matched-arm shape",
    tags=("join",),
)
def j3_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


register_sql(
    "j3_anti_join",
    text="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
        )
    """,
    doc="J3 left-anti join: customers with no finished orders — MERGE not-matched-arm shape",
    tags=("join",),
)


register_sql(
    "j5_full_outer_activity",
    text="""
        WITH c AS (
            SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   count(*) AS n_clicks
            FROM events WHERE event_type = 'click' GROUP BY 1, 2
        ), p AS (
            SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   count(*) AS n_purchases
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        )
        SELECT COALESCE(c.user_id, p.user_id) AS user_id,
               COALESCE(c.day, p.day) AS day,
               COALESCE(c.n_clicks, 0) AS n_clicks,
               COALESCE(p.n_purchases, 0) AS n_purchases,
               CASE WHEN c.user_id IS NULL THEN 'purchase_only'
                    WHEN p.user_id IS NULL THEN 'click_only'
                    ELSE 'both' END AS presence
        FROM c FULL OUTER JOIN p
          ON c.user_id = p.user_id AND c.day = p.day
        ORDER BY user_id, day, presence
    """,
    doc="FULL OUTER equi-join (completes the join-type family: inner, "
    "left, semi, anti, asof, range): per-(user, day) click activity "
    "reconciled against purchase activity, with both one-sided presences "
    "surfaced — the data-completeness diff two event feeds get audited "
    "with. Both sides pre-aggregate BEFORE the join (the full-outer "
    "shuffle moves day-grain rows, not raw events) and share the "
    "(user_id, day) key, so AQE plans one sort-merge join with no "
    "residual filter",
    tags=("join", "relational"),
)


# ---------------------------------------------------------------------------
# Scalar functions (F4-F7) not already covered above
# ---------------------------------------------------------------------------


register_sql(
    "f7_interval_arith",
    text="""
        SELECT event_id,
               ts + INTERVAL 1 DAY AS next_day,
               ts - INTERVAL 1 HOUR AS prev_hour
        FROM events
    """,
    doc="F7 timestamp +/- INTERVAL arithmetic — README.md:198, 375",
    tags=("scalar",),
)


# ---------------------------------------------------------------------------
# SQL entry point (SURVEY §3 EP1): the reference's main path is literal SQL
# strings (DuckDB runAndReadAll, README.md:568-592). Every one-text query
# in this module runs that way; these three exercise SQL-only constructs
# (GROUP BY ordinal, WITH RECURSIVE, LATERAL) and the literal path scan.
# ---------------------------------------------------------------------------


register_sql(
    "sql_cte_window_ordinal",
    text="""
        WITH monthly AS (
            SELECT CAST(DATE_TRUNC('month', ts) AS TIMESTAMP) AS month,
                   ROUND(SUM(value), 2) AS revenue
            FROM events
            GROUP BY 1
        )
        SELECT month,
               revenue,
               ROUND(SUM(revenue) OVER (ORDER BY month
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS cumulative_revenue
        FROM monthly
        ORDER BY 1
    """,
    doc="A5+W1+W2 via the SQL entry point: the reference's cumulative-"
    "revenue CTE + window + GROUP BY ordinal (README.md:611-627) executed "
    "as a literal spark.sql string over registered views",
    tags=("sql-entry", "window", "agg"),
)


register_sql(
    "sql_recursive_calendar_fill",
    text="""
        WITH RECURSIVE bounds AS (
            SELECT min(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS d0,
                   max(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS d1
            FROM events
        ), cal(day, d1) AS (
            SELECT d0, d1 FROM bounds
            UNION ALL
            SELECT day + INTERVAL 1 DAY, d1 FROM cal WHERE day < d1
        ), daily AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   count(*) AS n
            FROM events GROUP BY 1
        )
        SELECT cal.day,
               COALESCE(daily.n, 0) AS n_events,
               CAST(SUM(COALESCE(daily.n, 0)) OVER (
                   ORDER BY cal.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_events
        FROM cal LEFT JOIN daily ON cal.day = daily.day
        ORDER BY cal.day
    """,
    doc="Gap-filled daily time series via WITH RECURSIVE (Spark 4's "
    "recursive CTE, new SQL-surface parity with DuckDB): the calendar "
    "spine is generated by recursion from the observed [min, max] day "
    "bounds (bounds carried through the recursion — no correlated "
    "subquery in the recursive term, which neither engine allows), then "
    "left-joined to the daily counts so missing days appear as explicit "
    "zeros, with a cumulative count over the filled spine. The recursion "
    "depth is the calendar span (bounded at any data scale); the data "
    "side is one hash aggregate",
    tags=("sql-entry", "temporal", "window"),
)


@register(
    "j6_nullsafe_join",
    oracle="""
        WITH c AS (
            SELECT NULLIF(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)
                          % 10, 0) AS bucket,
                   count(*) AS n_clicks
            FROM events WHERE event_type = 'click' GROUP BY 1
        ), p AS (
            SELECT NULLIF(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)
                          % 10, 0) AS bucket,
                   count(*) AS n_purchases
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        )
        SELECT c.bucket, c.n_clicks, p.n_purchases
        FROM c JOIN p ON c.bucket IS NOT DISTINCT FROM p.bucket
        ORDER BY c.bucket
    """,
    doc="Null-safe equi-join (<=> / IS NOT DISTINCT FROM — the join-"
    "predicate form a plain = silently breaks: NULL keys never match "
    "themselves and the rows vanish without error): click vs purchase "
    "counts per JSON-derived bucket where bucket 0 is NULLIF'd away, so "
    "exactly one NULL group must survive the join on each side. Spark "
    "plans eqNullSafe as a hash join on a null-wrapped key (still one "
    "shuffle, not a nested loop); both sides pre-aggregate so the join "
    "moves bucket-grain rows",
    tags=("join", "relational"),
)
def j6_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = F.nullif(
        F.get_json_object("props", "$.k").cast("int") % 10, F.lit(0)
    ).alias("bucket")
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(bucket)
        .agg(F.count("*").alias("n_clicks"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(bucket)
        .agg(F.count("*").alias("n_purchases"))
    )
    return (
        c.join(p, c["bucket"].eqNullSafe(p["bucket"]))
        .select(c["bucket"], "n_clicks", "n_purchases")
        .orderBy("bucket")
    )


register_sql(
    "sql_lateral_top_purchase",
    text="""
        SELECT u.user_id, t.ts, t.value
        FROM (SELECT DISTINCT user_id FROM events) u,
        LATERAL (
            SELECT ts, value FROM events e
            WHERE e.user_id = u.user_id AND e.event_type = 'purchase'
            ORDER BY value DESC, ts, event_id LIMIT 1
        ) t
        ORDER BY u.user_id
    """,
    doc="Correlated LATERAL subquery with ORDER BY + LIMIT (the top-1-per-"
    "group idiom in its lateral-join SQL form, new surface alongside the "
    "window formulation in w3/o2): each user's single largest purchase. "
    "Both engines accept the identical statement; Spark decorrelates the "
    "lateral into a window/aggregate plan rather than a nested loop "
    "(plan-hygiene smoke test asserts no CartesianProduct). Ties on "
    "value break by (ts, event_id) so the pick is total-ordered",
    tags=("sql-entry", "join", "window"),
)


# Kept over its oracle text: the literal parquet.`path` scan is the feature under test.
@register(
    "sql_literal_path_scan",
    oracle="""
        SELECT o_orderstatus, COUNT(*) AS cnt
        FROM orders
        GROUP BY 1
        ORDER BY 1
    """,
    doc="S1 SQL form: query a parquet path literally — Spark's "
    "parquet.`/path` mirrors DuckDB's SELECT ... FROM './file.parquet' "
    "(README.md:576-578)",
    tags=("sql-entry", "scan"),
)
def sql_literal_path_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tutorial_iceberg_spark.io import table_path

    path = table_path(sf_dir, "orders")
    return spark.sql(
        f"SELECT o_orderstatus, COUNT(*) AS cnt "
        f"FROM parquet.`{path}` GROUP BY 1 ORDER BY 1"
    )


# ---------------------------------------------------------------------------
# Fact-to-fact join (the shape broadcast can't save): orders |><| lineitem
# both exceed broadcast size at any real SF, so this is a shuffle
# (sort-merge) join on l_orderkey — THE dominant join pattern at 100 TB.
# The customer dim stays broadcast. AQE handles skew splitting.
# ---------------------------------------------------------------------------


register_sql(
    "q3_shipping_priority",
    text="""
        SELECT l_orderkey,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4))
                            * CAST(1 - l_discount AS DECIMAL(15,8))), 2) AS DOUBLE)
                   AS revenue,
               o_orderdate
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15'
          AND l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    doc="TPC-H Q3 shipping-priority shape: segment-filtered customer join "
    "(AQE broadcasts it while it fits, shuffle-joins beyond) + fact-to-fact "
    "shuffle join orders |><| lineitem + top-10 revenue. The at-scale join "
    "pattern (sort-merge on the order key, AQE skew handling)",
    tags=("join", "agg", "flagship", "bench-shape"),
)


register_sql(
    "a9_distinct_users",
    text="""
        SELECT event_type,
               COUNT(DISTINCT user_id) AS exact_users,
               COUNT(*) AS events
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="Exact distinct-count per group (two-phase shuffle). The approximate "
    "HLL twin (approx_count_distinct, constant memory at any scale) is "
    "pytest-gated within 5% of this exact result",
    tags=("agg", "distinct"),
)


# ---------------------------------------------------------------------------
# Skew salting: when one join key dominates (a celebrity user, a default
# value), that key's entire volume lands on one task. Salting splits it:
# replicate the dim side S ways, scatter the fact side with a deterministic
# salt, join on (key, salt). AQE's skew-join splitting (enabled in
# session.py) handles moderate skew automatically; explicit salting is the
# hand-tool for the pathological cases AQE can't split (e.g. one key >>
# one partition even after splitting).
# ---------------------------------------------------------------------------

N_SALT = 8


def salted_segment_revenue(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """The salted join itself, factored out so the scale probe can feed it
    a deliberately skewed fact frame (one mega-key) and measure that the
    salt scatter keeps task sizes bounded where a plain hash join would
    funnel the whole key onto one task."""
    spark = orders.sparkSession
    salts = spark.range(N_SALT).select(F.col("id").cast("int").alias("salt"))
    dim = customer.select("c_custkey", "c_mktsegment").crossJoin(F.broadcast(salts))
    fact = orders.withColumn("salt", F.pmod(F.col("o_orderkey"), F.lit(N_SALT)).cast("int"))
    return (
        fact.join(
            dim,
            (fact.o_custkey == dim.c_custkey) & (fact.salt == dim.salt),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(dec("o_totalprice")), 2).cast("double").alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


# Kept over its oracle text: the salt is the feature; the text plans a plain join (one task per hot key).
@register(
    "j4_salted_skew_join",
    oracle="""
        SELECT c_mktsegment,
               COUNT(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(15,4))), 2) AS DOUBLE)
                   AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    doc=f"Skew-salted equi-join: dim replicated x{N_SALT}, fact scattered "
    "with a deterministic salt, join on (key, salt) — result provably "
    "identical to the plain join (same oracle). The manual fix for key "
    "skew beyond what AQE skew-splitting handles",
    tags=("join", "skew"),
)
def j4_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return salted_segment_revenue(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )


@register(
    "a10_value_percentiles",
    oracle="""
        SELECT event_type,
               quantile_cont(value, 0.5) AS p50,
               quantile_cont(value, 0.9) AS p90,
               quantile_cont(value, 0.99) AS p99,
               MIN(value) AS min_value,
               MAX(value) AS max_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="Exact interpolated percentiles (p50/p90/p99) per group — "
    "bit-identical to DuckDB quantile_cont, returned as scalar columns "
    "(flat doubles hash cleanly; array columns defeat order-insensitive "
    "canonicalization). Spark computes all three from ONE sorted per-group "
    "pass (single percentile(...array) agg, split after). At extreme scale "
    "swap for approx_percentile (t-digest, constant memory) — exact "
    "percentile collects per-group values",
    tags=("agg", "percentile"),
)
def a10_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, array(0.5, 0.9, 0.99))").alias("_pcts"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            "event_type",
            F.col("_pcts")[0].alias("p50"),
            F.col("_pcts")[1].alias("p90"),
            F.col("_pcts")[2].alias("p99"),
            "min_value",
            "max_value",
        )
        .orderBy("event_type")
    )


register_sql(
    "a10_rollup_revenue",
    text=f"""
        SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
               o_orderpriority,
               COUNT(*) AS cnt,
               {o_dsum('o_totalprice', 'revenue')}
        FROM orders
        GROUP BY ROLLUP (CAST(year(o_orderdate) AS INTEGER), o_orderpriority)
        ORDER BY year NULLS LAST, o_orderpriority NULLS LAST
    """,
    doc="A9-adjacent ROLLUP: hierarchical subtotals (year, priority) -> "
    "(year) -> grand total in one pass — Spark expands grouping sets into "
    "a single hash aggregate, so this costs one shuffle like a plain "
    "groupBy, not three scans",
    tags=("agg", "rollup"),
)


register_sql(
    "w4_lag_delta",
    text=f"""
        WITH daily AS (
            SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
                   {o_dsum('o_totalprice', 'revenue')}
            FROM orders
            GROUP BY 1
        )
        SELECT day, revenue,
               revenue - LAG(revenue) OVER (ORDER BY day) AS delta,
               LEAD(revenue) OVER (ORDER BY day) AS next_revenue
        FROM daily
        ORDER BY day
    """,
    doc="W3-family analytic window: day-over-day revenue delta via LAG/LEAD "
    "over a daily rollup CTE — single total-order window over an already "
    "tiny aggregate (days << rows), so the unpartitioned sort is safe",
    tags=("window",),
)


register_sql(
    "q4_priority_with_returns",
    text="""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: EXISTS-correlated subquery as a left-semi join "
    "(J3) feeding a priority rollup. Both inputs are filtered before the "
    "shuffle; the semi join carries only orderkeys, never lineitem payload",
    tags=("join", "semi", "agg"),
)


# Kept over its oracle text: the text scans lineitem twice (4 scans vs 3), this builder once.
@register(
    "q18_large_volume_orders",
    oracle=f"""
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               o.o_totalprice,
               {o_dsum('l.l_quantity', 'total_qty')}
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(15,4))) > 200
        )
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        ORDER BY o.o_totalprice DESC, o.o_orderkey
    """,
    doc="TPC-H Q18 shape: self-aggregating IN-subquery (groupBy + HAVING) "
    "restricting a 3-table star join. The per-order quantity sum the "
    "HAVING computes IS the output's total_qty, so lineitem is scanned "
    "and shuffled exactly ONCE: aggregate -> filter -> join the "
    "(small, AQE-broadcast) survivors to orders -> customer join (also "
    "AQE's call — no hard hint on a linear-growth table). No second "
    "lineitem pass, no re-aggregation after the join",
    tags=("join", "agg", "subquery"),
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("qty_dec"))
        .filter(F.col("qty_dec") > 200)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round(F.col("qty_dec"), 2).cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


@register(
    "x_approx_quantiles",
    oracle=None,  # sketch-based: engines' approx algorithms differ by design
    doc="Approximate percentile sketch (Spark's Greenwald-Khanna variant) "
    "over events.value per event_type: the single-pass, bounded-memory, "
    "mergeable-partial path that replaces an exact sort-based percentile "
    "at 100 TB. Rows-only driver check; pytest gates each estimate "
    "against the exact percentile within the sketch's accuracy bound",
    tags=("agg", "sketch", "extension"),
)
def x_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    qs = [0.25, 0.5, 0.75, 0.95]
    agg = events.groupBy("event_type").agg(
        F.percentile_approx("value", qs, 10_000).alias("qv"),
        F.count("*").alias("n"),
    )
    pairs = F.arrays_zip(
        F.array(*[F.lit(q) for q in qs]).alias("q"), F.col("qv").alias("v")
    )
    return (
        agg.select("event_type", "n", F.explode(pairs).alias("p"))
        .select(
            "event_type",
            F.col("p.q").alias("quantile"),
            F.col("p.v").alias("value_est"),
            "n",
        )
        .orderBy("event_type", "quantile")
    )


@register(
    "x_approx_distinct",
    oracle=None,  # sketch-based: engines' HLL implementations differ by design
    doc="Approximate distinct-count sketch (HyperLogLog++, rsd=0.02) over "
    "events.user_id per event_type, beside the exact event count. The "
    "100 TB cardinality path: a constant-size mergeable sketch per group "
    "(map-side partials, one small shuffle of sketches) instead of "
    "COUNT(DISTINCT)'s full shuffle of every distinct key. Rows-only "
    "driver check; pytest gates each estimate against the exact distinct "
    "count within the configured relative standard deviation",
    tags=("agg", "sketch", "extension"),
)
def x_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


register_sql(
    "u1_set_ops",
    text="""
        SELECT user_id, 'both' AS tag FROM (
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase')
        UNION ALL
        SELECT user_id, 'click_only' FROM (
            SELECT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT user_id FROM events WHERE event_type = 'purchase')
        ORDER BY tag, user_id
    """,
    doc="Set operations (SURVEY §2.7, extension beyond reference): "
    "INTERSECT / EXCEPT / UNION ALL audience segmentation — clickers who "
    "did vs did not purchase. Distinct-based set semantics on both engines",
    tags=("setops",),
)


register_sql(
    "q2_min_price_per_part",
    text="""
        SELECT p.p_partkey, p.p_name, l.l_suppkey,
               l.l_extendedprice AS min_price
        FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey
        WHERE p.p_size >= 48
          AND l.l_extendedprice = (
              SELECT MIN(l2.l_extendedprice) FROM lineitem l2
              WHERE l2.l_partkey = p.p_partkey)
        ORDER BY p.p_partkey, l.l_suppkey
    """,
    doc="TPC-H Q2 shape: correlated scalar MIN subquery decorrelated into a "
    "per-key pre-aggregation joined back (J2+A-min). The min table has "
    "part-level cardinality, so the join back to lineitem shuffles both "
    "sides on l_partkey once; ties on the min price keep every matching "
    "supplier, same as the correlated form",
    tags=("join", "subquery", "agg"),
)


# Kept over its oracle text: slower as SQL, 0.342 s vs 0.300 s median (IQR 0.026 s), 10 sf0.1 pairs.
@register(
    "q13_customer_distribution",
    oracle="""
        SELECT c_count, COUNT(*) AS custdist
        FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
              FROM customer c
              LEFT OUTER JOIN orders o
                ON c.c_custkey = o.o_custkey
               AND o.o_orderpriority <> '1-URGENT'
              GROUP BY c.c_custkey) per_cust
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 shape: left outer join with a compound join predicate "
    "(customers with zero matching orders survive as count 0), then a "
    "second aggregation over the first's output. Orders are aggregated "
    "to (custkey, count) BEFORE the join (guide §2.3 'aggregate before "
    "you shuffle'): the fact exchange carries one partially-aggregated "
    "row per customer instead of every order row — ~10x fewer shuffled "
    "rows at any scale — and customers with zero matching orders "
    "coalesce to count 0 after the outer join, exactly the old "
    "count-over-join semantics (o_orderkey is never NULL inside orders). "
    "The outer agg input is customer-cardinality — tiny relative to the "
    "fact table — so the second shuffle is negligible at any scale",
    tags=("join", "outer", "agg"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    counts = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
    )
    per_cust = cust.join(
        counts, cust.c_custkey == counts.o_custkey, "left_outer"
    ).select(F.coalesce(F.col("n"), F.lit(0)).alias("c_count"))
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


register_sql(
    "q16_supplier_cnt",
    text="""
        SELECT p.p_brand, p.p_type,
               COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_size IN (10, 20, 30, 40)
          AND l.l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_type
        ORDER BY supplier_cnt DESC, p.p_brand, p.p_type
    """,
    doc="TPC-H Q16 shape: NOT IN over a non-nullable key = left-anti join "
    "(J3; supplier grows with SF, so AQE picks broadcast vs shuffle), "
    "brand/type dim join, COUNT(DISTINCT) per group. "
    "The anti join and the part filter both run before the distinct "
    "aggregation, so the expand-for-distinct shuffle sees only surviving "
    "rows",
    tags=("join", "anti", "agg", "distinct"),
)


# Kept over its oracle text: the text scans lineitem three times (5 scans vs 3), this builder once.
@register(
    "q21_sole_returning_supplier",
    oracle="""
        SELECT s.s_name, COUNT(*) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
    """,
    doc="TPC-H Q21 shape: EXISTS + NOT EXISTS self-correlations on the fact "
    "table, rewritten as ONE order-level aggregate over a SINGLE lineitem "
    "scan with ONE fact-sized exchange. EXISTS(other supplier) == n_supp "
    ">= 2; NOT EXISTS(other returning supplier) == n_ret_supp == 1, since "
    "l1 itself returns; and because the sole returning supplier owns EVERY "
    "returning row of a qualifying order, numwait == SUM(per-order "
    "returning-row count) for that supplier — so the row-level l1 pass (a "
    "second fact scan + join back) is unnecessary. The narrow projection "
    "is hash-repartitioned on l_orderkey up front: partitioning by a "
    "SUBSET of the grouping keys satisfies both groupBys, so the "
    "(order,supplier) level and the order level pipeline in one stage "
    "with zero further exchanges (guide §2.4) — the r16 form paid two "
    "fact-sized exchanges back-to-back and measured 28% slower "
    "(OPTIMIZATION_r17.md, change 1). Two-level agg rather than countDistinct, which "
    "would Expand the fact table 2x; the second level also carries "
    "max(returning suppkey), which for n_ret_supp == 1 orders IS the "
    "supplier to credit",
    tags=("join", "semi", "anti", "agg"),
)
def q21_sole_returning_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_returnflag")
        .repartition(F.col("l_orderkey"))
    )
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("ret_rows")
    )
    # NOTE (r16 ADVICE): n_ret_rows sums returning rows across ALL of the
    # order's suppliers and ret_suppkey is an unconditional max over its
    # returning suppliers — both are meaningful ONLY under the
    # n_ret_supp == 1 filter applied below (the sole returning supplier
    # then owns every returning row). Do not reuse ordstats elsewhere.
    ordstats = per_supp.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum((F.col("ret_rows") > 0).cast("int")).alias("n_ret_supp"),
        F.sum("ret_rows").alias("n_ret_rows"),
        F.max(
            F.when(F.col("ret_rows") > 0, F.col("l_suppkey"))
        ).alias("ret_suppkey"),
    )
    fin_orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sole = ordstats.filter(
        (F.col("n_supp") >= 2) & (F.col("n_ret_supp") == 1)
    )
    return (
        sole.join(
            fin_orders, sole.l_orderkey == fin_orders.o_orderkey, "left_semi"
        )
        .join(supp, sole.ret_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("n_ret_rows").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


# Kept over its oracle text: slower as SQL, 0.329 s vs 0.279 s median (IQR 0.025 s), 10 sf0.1 pairs.
@register(
    "a11_pivot_monthly_types",
    oracle=f"""
        SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
               {o_dsum("CASE WHEN event_type = 'click' THEN value END", 'click')},
               {o_dsum("CASE WHEN event_type = 'error' THEN value END", 'error')},
               {o_dsum("CASE WHEN event_type = 'purchase' THEN value END", 'purchase')},
               {o_dsum("CASE WHEN event_type = 'signup' THEN value END", 'signup')},
               {o_dsum("CASE WHEN event_type = 'view' THEN value END", 'view')}
        FROM events
        GROUP BY 1
        ORDER BY 1
    """,
    doc="PIVOT: month x event_type value matrix via groupBy().pivot() with "
    "an EXPLICIT value list — no driver-side distinct pre-pass over the "
    "fact table, so planning stays O(1) at 100 TB and the pivot compiles "
    "to one pass of conditional aggregates (exactly the oracle's CASE "
    "form). Decimal-path sums keep cells order-invariant",
    tags=("agg", "pivot"),
)
def a11_pivot_monthly_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    types = ["click", "error", "purchase", "signup", "view"]
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("month", "ts").alias("month"))
        .pivot("event_type", types)
        .agg(F.round(F.sum(dec("value")), 2).cast("double"))
        .orderBy("month")
    )


# Kept over its oracle text: its UNION ALL scans lineitem three times, this builder once.
@register(
    "a12_unpivot_returnflag",
    oracle=f"""
        WITH wide AS (
            SELECT l_returnflag,
                   {o_dsum('l_quantity', 'sum_qty')},
                   {o_dsum('l_extendedprice', 'sum_price')},
                   {o_dsum('l_discount', 'sum_disc')}
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS amount FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_price', sum_price FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
        ORDER BY l_returnflag, metric
    """,
    doc="UNPIVOT/melt: wide per-returnflag aggregate matrix relationalized "
    "to (key, metric, amount) long form with DataFrame.unpivot — the "
    "inverse of a11's pivot. The unpivot runs on the already-aggregated "
    "3-row table, so the explode-by-metric costs nothing at any scale",
    tags=("agg", "unpivot"),
)
def a12_unpivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_price"),
        dsum("l_discount", "sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "sum_disc"],
        "metric",
        "amount",
    ).orderBy("l_returnflag", "metric")


register_sql(
    "a13_exact_dist_stats",
    text="""
        WITH s AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(15,4))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(value AS DECIMAL(15,4))
                            * CAST(value AS DECIMAL(15,4))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(user_id AS DECIMAL(15,4))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(user_id AS DECIMAL(15,4))
                            * CAST(user_id AS DECIMAL(15,4))) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(value AS DECIMAL(15,4))
                            * CAST(user_id AS DECIMAL(15,4))) AS DOUBLE) AS sxy
            FROM events GROUP BY event_type
        )
        SELECT event_type, n,
               sx / n AS mean_value,
               sqrt((n * sxx - sx * sx) / (n * (n - 1.0))) AS stddev_value,
               (n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                 AS corr_value_user
        FROM s
        ORDER BY event_type
    """,
    doc="Distribution statistics with bit-reproducible results: mean / "
    "sample stddev / Pearson correlation derived from exact DECIMAL moment "
    "sums (sx, sxx, sy, syy, sxy) with the closed-form double arithmetic "
    "done identically on both engines. Unlike stddev_samp/corr builtins "
    "(Welford-style, partition-order-dependent in the last ulp), decimal "
    "moments are associative — the result is invariant to partitioning, "
    "AQE re-plans, and retries, which is what you want for a 100 TB "
    "metrics job that must be byte-stable across runs",
    tags=("agg", "stats"),
)


register_sql(
    "q5_local_supplier_volume",
    text=f"""
        SELECT n.n_name,
               {o_dsum("l.l_extendedprice * (1 - l.l_discount)", 'revenue')}
        FROM lineitem l
        JOIN orders o    ON l.l_orderkey = o.o_orderkey
        JOIN customer c  ON o.o_custkey = c.c_custkey
        JOIN supplier s  ON l.l_suppkey = s.s_suppkey
        JOIN nation n    ON s.s_nationkey = n.n_nationkey
                        AND c.c_nationkey = s.s_nationkey
        JOIN region r    ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1994-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY n.n_name
        ORDER BY revenue DESC, n.n_name
    """,
    doc="TPC-H Q5 shape: the two-paths-to-nation topology — customer and "
    "supplier must resolve to the SAME nation, restricted to one region. "
    "No join carries a hint: nation and region are schema-bounded, and "
    "customer and supplier are AQE's call (broadcast at bench scale, "
    "shuffle at 100x). lineitem->orders is the only fact-fact shuffle, and "
    "the date filter prunes orders before that shuffle. The c_nationkey = "
    "s_nationkey equality rides the supplier join as a residual predicate",
    tags=("join", "agg", "star"),
)


register_sql(
    "a14_grouping_sets",
    text=f"""
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag) + 2 * GROUPING(l_linestatus) AS gid,
               COUNT(*) AS cnt,
               {o_dsum('l_quantity', 'sum_qty')}
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus), ())
        ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    doc="GROUPING SETS with a grouping-id disambiguator (A9-adjacent, "
    "extension): detail cells, both one-way margins, and the grand total "
    "in ONE pass — Spark plans a single Expand + hash aggregate, i.e. one "
    "shuffle instead of four separate aggs unioned. GROUPING() tells "
    "margin NULLs apart from genuine NULL group keys",
    tags=("agg", "groupingsets"),
)


register_sql(
    "q6_forecast_revenue",
    text="""
        SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4))
                              * CAST(l_discount AS DECIMAL(15,8))), 2)
                    AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape (J2/A3): pure scan-side revenue forecast — three "
    "conjunctive predicates, no join, no group keys, one global decimal "
    "sum. All three predicates push into the parquet scan (PushedFilters) "
    "so row groups outside the shipdate year are skipped on footer stats; "
    "the aggregate is a two-phase partial/final over a 2-column read. The "
    "canonical 'is pushdown working' probe at 100 TB",
    tags=("agg", "filter", "tpch"),
)


register_sql(
    "q14_promo_revenue",
    text="""
        SELECT CAST(100.0 * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                       THEN CAST(l.l_extendedprice AS DECIMAL(15,4))
                            * CAST(1 - l.l_discount AS DECIMAL(15,8))
                       ELSE CAST(0 AS DECIMAL(15,4))
                            * CAST(0 AS DECIMAL(15,8)) END) AS DOUBLE)
                  / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(15,4))
                             * CAST(1 - l.l_discount AS DECIMAL(15,8)))
                         AS DOUBLE) AS DOUBLE) AS promo_revenue_pct
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
    """,
    doc="TPC-H Q14 shape (J2/A3/P6): promotion-revenue share — conditional "
    "aggregation over a fact->dim join. part is tiny relative to lineitem "
    "at every SF but grows with SF, so broadcasting is AQE's runtime call "
    "rather than a hard hint; both sums ride one hash-aggregate pass and "
    "the percentage "
    "is a single IEEE division of two exactly-summed decimals, making the "
    "scalar bit-stable under any partitioning",
    tags=("join", "agg", "tpch"),
)


register_sql(
    "q10_returned_items",
    text="""
        SELECT c.c_custkey, c.c_name,
               CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(15,4))
                              * CAST(1 - l.l_discount AS DECIMAL(15,8))), 2)
                    AS DOUBLE) AS revenue,
               c.c_acctbal, n.n_name
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-07-01'
        GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """,
    doc="TPC-H Q10 shape (J2/O4): returned-item loss ranking — top-20 "
    "customers by revenue of 'R'-flagged lineitems in a half-year order "
    "window. The returnflag filter prunes lineitem at the scan and the "
    "date filter prunes orders BEFORE the one fact-fact shuffle; nation "
    "and customer joins are AQE's call. ORDER BY revenue "
    "DESC is tie-broken by "
    "c_custkey so the LIMIT 20 frontier is a total order (scale-stable "
    "against duplicate revenue values); Spark executes it as "
    "TakeOrderedAndProject — no global sort",
    tags=("join", "agg", "topk", "tpch"),
)


register_sql(
    "q19_disjunctive_revenue",
    text="""
        SELECT COUNT(*) AS matched_lines,
               CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(15,4))
                              * CAST(1 - l.l_discount AS DECIMAL(15,8))), 2)
                    AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#4'
               AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#19'
               AND p.p_size BETWEEN 1 AND 25
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#16'
               AND p.p_size BETWEEN 1 AND 35
               AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape (J2/P-ext): discounted-revenue over an OR of three "
    "conjunctive branches that each mix part-side and lineitem-side "
    "predicates. Catalyst distributes the single-side conjuncts out of "
    "the disjunction (CNF extraction), so a derived part filter "
    "(brand IN ... AND size <= 35) and a lineitem filter (quantity "
    "BETWEEN 1 AND 30) both push to their scans BEFORE the join (strategy "
    "is AQE's call); only the cross-side residual runs post-join. The classic "
    "probe that an engine does not take disjunctions as 'scan "
    "everything'",
    tags=("join", "agg", "filter", "tpch"),
)


# ---------------------------------------------------------------------------
# W5: global ranking / NTILE segmentation (distributed, no single-reducer)
# ---------------------------------------------------------------------------


def distributed_row_number(
    df: DataFrame,
    order_cols: list[str],
    n_partitions: int = 32,
    validate_unique: bool = False,
) -> DataFrame:
    """Global row_number over ``order_cols`` WITHOUT a one-partition sort.

    A bare ``Window.orderBy(...)`` (no partitionBy) collapses the whole
    table into ONE reducer — the classic global-rank scale trap. This is
    the distributed formulation:

    1. ``repartitionByRange`` on the order key — ONE range shuffle whose
       sampled boundaries put partition i strictly before partition i+1 —
       then ``sortWithinPartitions`` (local sort, no exchange);
    2. local sequence numbers WITHOUT a window: in the sorted stage,
       ``monotonically_increasing_id`` encodes (partition_id << 33 |
       row_in_partition), so local position is a narrow bitmask — no
       hash re-partition on partition id and no second sort, which a
       ``Window.partitionBy(pid)`` would force;
    3. per-partition counts (tiny agg, <= n_partitions rows), cumulative
       offsets over that bounded frame, broadcast-joined back:
       rank = offset + local position + 1.

    Exactly one full-data shuffle; the only global structure is the
    <= n_partitions-row offset table (AQE reuses the range exchange for
    the count branch). Order columns MUST make rows unique (pass a key
    as tiebreaker) so the sorted order — and therefore the id — is
    deterministic across branch re-reads and task retries; pass
    ``validate_unique=True`` to enforce that with one extra distinct agg
    (off by default — it costs a second shuffle on the order key).

    The local-position trick leans on ``monotonically_increasing_id``'s
    documented layout (upper 31 bits partition id, lower 33 bits record
    number): the offsets frame asserts ``max(__seq) + 1 == count`` per
    partition, so a partition spilling past 2^33 rows (mask wrap) fails
    loudly instead of silently reusing ranks.
    """
    cols = [F.col(c) for c in order_cols]
    if validate_unique:
        # tiny result, full shuffle on order_cols — opt-in
        dup = df.groupBy(*cols).count().filter(F.col("count") > 1).limit(1)
        if dup.count() > 0:
            raise ValueError(
                f"distributed_row_number: order_cols {order_cols} do not "
                "uniquely order rows; ranks would be nondeterministic "
                "across branch re-reads — append a tiebreaker key"
            )
    part = (
        df.repartitionByRange(n_partitions, *cols)
        .sortWithinPartitions(*cols)
        .select(
            "*",
            F.spark_partition_id().alias("__pid"),
            (F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)).alias(
                "__seq"
            ),
        )
    )
    sizes = part.groupBy("__pid").agg(
        F.count("*").alias("__cnt"), F.max("__seq").alias("__maxseq")
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    # the guard is folded INTO the offset expression (a dropped guard
    # column would be pruned away by Catalyst and never evaluate): it
    # raises on the <= n_partitions-row frame when the 33-bit record mask
    # wrapped (>= 2^33 rows in one partition), else adds 0
    guard = F.expr(
        "if(assert_true(__maxseq + 1 = __cnt, 'distributed_row_number: "
        "local sequence wrapped the 33-bit monotonically_increasing_id "
        "record field (>= 2^33 rows in one partition) - raise "
        "n_partitions') is null, cast(0 as bigint), cast(0 as bigint))"
    )
    offsets = sizes.select(
        "__pid",
        (F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)) + guard).alias(
            "__off"
        ),
    )
    return (
        part.join(F.broadcast(offsets), "__pid")
        .withColumn("rn", F.col("__off") + F.col("__seq") + 1)
        .drop("__pid", "__seq", "__off")
    )


# Kept over its oracle text: its global NTILE sends all 15,000 sf0.1 customers through one task (here: 32 rows).
@register(
    "w5_decile_segments",
    oracle=f"""
        WITH d AS (
            SELECT ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile,
                   c_acctbal
            FROM customer
        )
        SELECT decile,
               count(*) AS n_customers,
               min(c_acctbal) AS min_bal,
               max(c_acctbal) AS max_bal,
               {o_dsum('c_acctbal', 'sum_bal')}
        FROM d GROUP BY decile ORDER BY decile
    """,
    doc="NTILE(10) decile segmentation of customers by account balance — "
    "but computed WITHOUT the single-reducer global window: global rank "
    "comes from distributed_row_number (range repartition + local sort + "
    "broadcast offset table, <= n_partitions rows), then the exact NTILE "
    "bucket formula from (rank, total). Bit-exact vs DuckDB's native "
    "ntile because (c_acctbal, c_custkey) is a unique total order",
    tags=("window", "relational"),
)
def w5_decile_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    n = cust.count()  # one scalar job; drives the NTILE bucket formula
    k = 10
    size, rem = n // k, n % k
    cut = rem * (size + 1)
    ranked = distributed_row_number(cust, ["c_acctbal", "c_custkey"])
    decile = F.when(
        F.col("rn") <= cut, F.expr(f"(rn - 1) div {size + 1}") + 1
    ).otherwise(F.expr(f"{rem} + (rn - 1 - {cut}) div {max(size, 1)}") + 1)
    return (
        ranked.select(decile.cast("int").alias("decile"), "c_acctbal")
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
            dsum("c_acctbal", "sum_bal"),
        )
        .orderBy("decile")
    )


@register(
    "x_anomaly_mad",
    oracle="""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS median_value
            FROM events GROUP BY event_type
        ), dev AS (
            SELECT e.event_type, e.value,
                   abs(e.value - m.median_value) AS adev, m.median_value
            FROM events e JOIN med m USING (event_type)
        ), mad AS (
            SELECT event_type, min(median_value) AS median_value,
                   quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY event_type
        )
        SELECT d.event_type,
               count(*) AS n_events,
               m.median_value,
               m.mad,
               count(*) FILTER (WHERE d.adev > 3 * m.mad) AS n_outliers
        FROM dev d JOIN mad m USING (event_type)
        GROUP BY d.event_type, m.median_value, m.mad
        ORDER BY d.event_type
    """,
    doc="Robust anomaly detection: per event_type median + MAD (median "
    "absolute deviation), flagging |value - median| > 3*MAD. Mean/stddev "
    "z-scores break under the very outliers they hunt; MAD has a 50% "
    "breakdown point. Two group passes (median, then deviation median) + "
    "one counting pass — each a hash-partitioned shuffle on event_type; "
    "the 5-row per-group median table rides along as an AQE-broadcast "
    "join, never a hard hint. Bit-exact vs DuckDB quantile_cont "
    "(interpolation parity proven by a10_value_percentiles)",
    tags=("agg", "percentile", "extension"),
)
def x_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5d)").alias("median_value")
    )
    dev = ev.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("median_value"))
    )
    mad = dev.groupBy("event_type").agg(
        F.min("median_value").alias("median_value"),
        F.expr("percentile(adev, 0.5d)").alias("mad"),
    )
    return (
        dev.select("event_type", "adev")
        .join(mad, "event_type")
        .groupBy("event_type", "median_value", "mad")
        .agg(
            F.count("*").alias("n_events"),
            F.count_if(F.col("adev") > 3 * F.col("mad")).alias("n_outliers"),
        )
        .select(
            "event_type", "n_events", "median_value", "mad", "n_outliers"
        )
        .orderBy("event_type")
    )


HIST_WIDTH = 25  # events.value bucket width


register_sql(
    "a15_histogram_cdf",
    text=f"""
        WITH b AS (
            SELECT CAST(floor(value / {HIST_WIDTH}) AS BIGINT) AS bucket,
                   count(*) AS n
            FROM events GROUP BY 1
        )
        SELECT bucket,
               bucket * CAST({HIST_WIDTH} AS DOUBLE) AS bucket_lo,
               n,
               CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS pct,
               CAST(SUM(n) OVER (ORDER BY bucket) AS DOUBLE)
                   / CAST(SUM(n) OVER () AS DOUBLE) AS cum_pct
        FROM b ORDER BY bucket
    """,
    doc="Fixed-width histogram + empirical CDF of events.value: one hash "
    "aggregate over the full table (map-side partial combine), then the "
    "cumulative window runs over the BUCKET frame only — cardinality "
    "range/width (~20 rows), invariant to row count, so the unpartitioned "
    "window is a bounded tail step, not a single-reducer scan of data. "
    "All shares are exact long counts under one IEEE double divide",
    tags=("agg", "window", "extension"),
)


# Poisson(1) bootstrap: cumulative CDF cut points as md5-prefix hex
# thresholds (floor(P * 2^32) in hex). A row's weight in replicate b is
# the Poisson variate its deterministic md5(event_id||'-'||b) prefix
# falls into — identical string comparisons in Spark and DuckDB.
_BOOT_THRESHOLDS = ("5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797", "ff1025f5")
BOOT_REPLICATES = 32


def _boot_weight_sql(pfx: str) -> str:
    cases = " ".join(
        f"WHEN {pfx} < '{h}' THEN {k}" for k, h in enumerate(_BOOT_THRESHOLDS)
    )
    return f"CASE {cases} ELSE {len(_BOOT_THRESHOLDS)} END"


@register(
    "x_bootstrap_ci",
    oracle=f"""
        WITH r AS (
            SELECT b, value,
                   {_boot_weight_sql("substr(md5(CAST(event_id AS VARCHAR) || '-' || CAST(b AS VARCHAR)), 1, 8)")} AS w
            FROM events CROSS JOIN (
                SELECT unnest(generate_series(0, {BOOT_REPLICATES - 1})) AS b
            )
        ), est AS (
            SELECT b,
                   CAST(SUM(CAST(value AS DECIMAL(15,4)) * w) AS DOUBLE)
                       / SUM(w) AS est_mean
            FROM r GROUP BY b
        )
        SELECT COUNT(*) AS n_replicates,
               quantile_cont(est_mean, 0.025) AS ci_lo,
               quantile_cont(est_mean, 0.5) AS ci_med,
               quantile_cont(est_mean, 0.975) AS ci_hi
        FROM est
    """,
    doc=f"Poisson bootstrap 95% CI for mean(events.value), {BOOT_REPLICATES} "
    "replicates — THE distributed bootstrap: classical resampling needs "
    "global n to draw indices, Poisson(1) weights need only the row "
    "itself, so the whole thing is one narrow explode (row x replicate) "
    "into one 32-group hash agg with map-side partials — single pass, no "
    "shuffle of data rows, embarrassingly parallel at any scale. "
    "Determinism: weights come from md5(event_id, b) prefix vs fixed "
    "Poisson-CDF hex cut points (pure string compares, engine-identical); "
    "replicate means use exact decimal sums (no float reduction-order "
    "drift); the CI is an exact interpolated percentile over the "
    "32-replicate frame. Bit-exact vs the DuckDB oracle end-to-end",
    tags=("agg", "statistics", "extension"),
)
def x_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    reps = ev.select(
        "event_id",
        "value",
        F.explode(
            F.sequence(F.lit(0), F.lit(BOOT_REPLICATES - 1))
        ).alias("b"),
    )
    pfx = F.substring(
        F.md5(
            F.concat(
                F.col("event_id").cast("string"),
                F.lit("-"),
                F.col("b").cast("string"),
            )
        ),
        1,
        8,
    )
    w = F.when(pfx < _BOOT_THRESHOLDS[0], 0)
    for k, h in enumerate(_BOOT_THRESHOLDS[1:], start=1):
        w = w.when(pfx < h, k)
    w = w.otherwise(len(_BOOT_THRESHOLDS))
    est = (
        reps.select("value", "b", w.alias("w"))
        .groupBy("b")
        .agg(
            (
                F.sum(dec("value") * F.col("w")).cast("double")
                / F.sum("w")
            ).alias("est_mean")
        )
    )
    return est.agg(
        F.count("*").alias("n_replicates"),
        F.expr("percentile(est_mean, 0.025d)").alias("ci_lo"),
        F.expr("percentile(est_mean, 0.5d)").alias("ci_med"),
        F.expr("percentile(est_mean, 0.975d)").alias("ci_hi"),
    )


# Kept over its oracle text: slower as SQL, 0.729 s vs 0.312 s median (IQR 0.045 s), 10 sf0.1 pairs.
@register(
    "a17_argminmax_bookends",
    oracle="""
        WITH r AS (
            SELECT user_id, event_type, ts,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS rf,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rl
            FROM events
        )
        SELECT user_id,
               max(CASE WHEN rf = 1 THEN event_type END) AS first_type,
               max(CASE WHEN rl = 1 THEN event_type END) AS last_type,
               min(ts) AS first_ts,
               max(ts) AS last_ts,
               count(*) AS n_events
        FROM r GROUP BY user_id ORDER BY user_id
    """,
    doc="arg-min/arg-max aggregation (min_by/max_by — the 'value at the "
    "extremum of another column' family the plain MIN/MAX aggregates "
    "can't express): each user's first and last event type by (ts, "
    "event_id). ONE hash aggregate with map-side partials — no window, "
    "no self-join, which is what makes min_by the scale-correct form of "
    "the 'first row per group' idiom (the oracle states it as the "
    "row_number window precisely because DuckDB's arg_min lacks "
    "composite keys; the struct key in Spark IS the deterministic "
    "tiebreak). Bookend timestamps and counts ride along in the same "
    "pass",
    tags=("agg", "relational"),
)
def a17_argminmax_bookends(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    key = F.struct("ts", "event_id")
    return (
        ev.groupBy("user_id")
        .agg(
            F.min_by("event_type", key).alias("first_type"),
            F.max_by("event_type", key).alias("last_type"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


register_sql(
    "a16_cube_revenue",
    text=f"""
        SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
               o_orderpriority,
               COUNT(*) AS cnt,
               {o_dsum('o_totalprice', 'revenue')}
        FROM orders
        GROUP BY CUBE (CAST(year(o_orderdate) AS INTEGER), o_orderpriority)
        ORDER BY year NULLS LAST, o_orderpriority NULLS LAST
    """,
    doc="A9-adjacent CUBE: all 2^2 grouping combinations — (year, "
    "priority), (year), (priority), grand total — in ONE hash aggregate "
    "pass (Spark expands the grouping sets map-side like ROLLUP), "
    "completing the rollup / grouping-sets / cube family",
    tags=("agg", "rollup"),
)


register_sql(
    "w6_distribution_ranks",
    text="""
        WITH d AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, CAST(day AS TIMESTAMP) AS day, n,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume,
               ntile(4) OVER w AS quartile
        FROM d
        WINDOW w AS (PARTITION BY event_type ORDER BY n, day)
        ORDER BY event_type, day
    """,
    doc="Distribution-position windows per event type over the daily "
    "frame: percent_rank ((rank-1)/(rows-1)), cume_dist, and quartile "
    "NTILE in one window pass — completes the ranking family (rank, "
    "lag, ntile) with the relative-position forms. The window runs on "
    "the calendar-bounded daily aggregate, so partition width is days, "
    "not events; (n, day) is a unique total order for determinism",
    tags=("window", "relational"),
)


@register(
    "w7_rolling_median",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS d,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, CAST(d AS TIMESTAMP) AS day, n,
               quantile_cont(n, 0.5) OVER w AS med_7d,
               quantile_cont(n, 0.9) OVER w AS p90_7d
        FROM daily
        WINDOW w AS (
            PARTITION BY event_type
            ORDER BY datediff('day', DATE '1970-01-01', d)
            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
        )
        ORDER BY event_type, day
    """,
    doc="Trailing 7-day rolling MEDIAN and p90 of the daily event count "
    "per event type — the robust-statistics form of x_rolling_7day (a "
    "mean-based rolling stat follows single-day spikes; the median is "
    "the anomaly-resistant baseline ops dashboards actually want). Same "
    "RANGE frame on the epoch-day ordinal so calendar gaps shorten the "
    "frame; Spark's percentile() and DuckDB's quantile_cont share the "
    "exact interpolation formula, so doubles hash-match bit-for-bit. "
    "Window partitions are calendar-bounded (days, not rows) at any "
    "data volume",
    tags=("window", "temporal", "relational"),
)
def w7_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    return (
        daily.select(
            "event_type",
            F.col("d").cast("timestamp").alias("day"),
            "n",
            F.percentile(F.col("n"), F.lit(0.5)).over(w).alias("med_7d"),
            F.percentile(F.col("n"), F.lit(0.9)).over(w).alias("p90_7d"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "f13_string_agg",
    oracle="""
        SELECT o_orderpriority,
               array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',')
                   AS statuses,
               COUNT(DISTINCT o_orderstatus) AS n_statuses
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    doc="Ordered string aggregation: distinct values collected, SORTED, "
    "then joined — the deterministic form of LISTAGG/STRING_AGG (an "
    "unordered collect differs run to run under parallelism; sorting "
    "inside the row makes the result partition-order-independent, which "
    "is what lets it hash-match across engines). Output stays bounded: "
    "the aggregated set is the low-cardinality status domain, never row "
    "data",
    tags=("agg", "functions"),
)
def f13_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderstatus")), ","
            ).alias("statuses"),
            F.count_distinct("o_orderstatus").alias("n_statuses"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "f14_timestamp_ns_roundtrip",
    oracle="""
        SELECT event_id,
               epoch_ns(CAST(ts AS TIMESTAMP_NS)) + event_id % 1000 AS ts_ns,
               make_timestamp((epoch_ns(ts) + event_id % 1000) // 1000)
                   AS ts_us
        FROM events
        WHERE event_id % 11 = 0
        ORDER BY event_id
    """,
    doc="TIMESTAMP_NS surface via the documented epoch-nanos emulation "
    "(SURVEY §1.2; the reference teaches Iceberg V3 nanosecond "
    "timestamps, README.md:1176 — Spark's TIMESTAMP stops at µs): "
    "sub-µs precision lives in an epoch-nanos LongType column that "
    "round-trips through a parquet write+read with full fidelity, plus "
    "a µs-truncated TIMESTAMP twin for engine-native ops. The events "
    "table physically stores TIMESTAMP(NANOS) (read raw as nanos via "
    "the legacy conf, not through the truncating loader) and its sub-µs "
    "digits are all zero, so the query synthesizes a deterministic "
    "per-row ns fraction (event_id % 1000) before the roundtrip; the "
    "oracle routes through DuckDB's NATIVE TIMESTAMP_NS (cast + "
    "epoch_ns) so the emulation is checked against a real ns engine "
    "type. Scale shape: one narrow scan, one columnar write+read, no "
    "shuffle until the output sort",
    tags=("functions", "temporal", "extension"),
)
def f14_timestamp_ns_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tutorial_iceberg_spark import scratch as _scratch
    from tutorial_iceberg_spark.io import table_path
    from tutorial_iceberg_spark.session import apply_engine_conf

    apply_engine_conf(spark)  # nanosAsLong: raw ns read, bypass the loader
    raw = spark.read.parquet(table_path(sf_dir, "events"))
    if dict(raw.dtypes).get("ts") == "bigint":
        base_ns = F.col("ts")
    else:
        # session schema cache can hand back the µs-normalized form; the
        # testdata's sub-µs digits are all zero, so µs*1000 IS the raw ns
        base_ns = F.unix_micros(F.col("ts").cast("timestamp")) * 1000
    ns_col = base_ns + F.col("event_id") % 1000
    staged = raw.filter(F.col("event_id") % 11 == 0).select(
        "event_id", ns_col.alias("ts_ns")
    )
    # returned frame reads the round-trip parquet -> deferred cleanup
    out = _scratch.defer_cleanup(
        _scratch.scratch_dir("tis_ns_roundtrip", unique=True)
    )
    staged.write.mode("overwrite").parquet(out)  # int64 ns: lossless
    back = spark.read.parquet(out)
    return back.select(
        "event_id",
        "ts_ns",
        F.timestamp_micros(F.expr("ts_ns div 1000"))
        .cast("timestamp_ntz")
        .alias("ts_us"),
    ).orderBy("event_id")
