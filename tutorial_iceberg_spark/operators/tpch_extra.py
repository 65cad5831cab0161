"""TPC-H shapes 7/8/9/11/12/15/17/20/22 — completing 22/22 coverage.

The reference names star/snowflake schemas as the OLAP data model
(README.md:62) and ships a TPC-H-ish star schema as driver testdata
(TESTDATA.md); rounds 1 built 13 of the 22 classic shapes. This module adds
the remaining nine, each adapted to the testdata's reduced column set (no
partsupp table, no l_shipmode/l_commitdate/l_receiptdate, no c_phone —
substitutions documented per query) while preserving the *plan shape* the
original query exists to exercise: multi-nation join topology (Q7/Q8),
profit expression over a 6-way join (Q9), HAVING-over-scalar-subquery
(Q11), conditional counts after a late-filter join (Q12), argmax via exact
decimal equality (Q15), correlated per-group average (Q17), nested
grouped-HAVING semi-join (Q20), anti-join + scalar-average gate (Q22).

Q7, Q8, Q11, Q12, Q20 and Q22 are one text each (``register_sql``): Spark
runs the oracle's SQL over the testdata views, DuckDB runs it as the oracle.
Q9, Q15 and Q17 keep DataFrame builders, each for the reason stated above
it.

Scale stance, uniform across the module: ONLY schema-bounded tables (nation
25 rows, region 5 rows) and 1-row scalar aggregates carry hard F.broadcast
hints, and only in the builders; the one-text queries carry none. customer / part / supplier grow linearly with scale factor, so their
join strategy is left to AQE — it broadcasts them at bench scale (far under
autoBroadcastJoinThreshold) and falls back to shuffle joins at cluster scale,
where a hard hint would be a >8 GB driver OOM. The only guaranteed shuffles
are the fact-fact lineitem|><|orders joins and fact-side aggregations, all
keyed on high-cardinality keys. Money math follows functions/numeric.py:
exact DECIMAL accumulation (order-invariant under AQE re-plans and 1000-way
partitioning), DOUBLE only at the output boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tutorial_iceberg_spark.functions.numeric import DEC, DEC_FACTOR, dec
from tutorial_iceberg_spark.io import load_table
from tutorial_iceberg_spark.registry import register, register_sql

# Shared revenue expression: exact decimal volume = extprice * (1 - disc).
_O_VOL = (
    "CAST(l_extendedprice AS DECIMAL(15,4)) * CAST(1 - l_discount AS DECIMAL(15,8))"
)


def _vol() -> F.Column:
    return dec("l_extendedprice") * (
        F.lit(1).cast(DEC_FACTOR) - F.col("l_discount").cast(DEC_FACTOR)
    )


register_sql(
    "q7_volume_shipping",
    text=f"""
        SELECT supp_nation, cust_nation, l_year,
               CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation,
                   n2.n_name AS cust_nation,
                   CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
                   {_O_VOL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')} AS volume
            FROM lineitem l
            JOIN orders o   ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
            WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              AND l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape (volume shipping between two nations): the fact "
    "table reaches nation twice — once through supplier, once through "
    "orders->customer. Supplier and customer are pre-filtered to the two "
    "nations BEFORE their joins (each probe drops ~92% of fact rows at 25 "
    "nations; both sides grow with SF so broadcast vs shuffle is AQE's "
    "call), and the disjunctive nation-pair predicate runs as a residual "
    "after both joins. Only guaranteed shuffle: lineitem|><|orders",
    tags=("join", "star", "agg"),
)


register_sql(
    "q8_market_share",
    text=f"""
        SELECT o_year,
               CAST(ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                                   ELSE CAST(0 AS DECIMAL(15,4)) END), 2)
                    AS DOUBLE)
                 / CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS mkt_share
        FROM (
            SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
                   {_O_VOL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')} AS volume,
                   n1.n_name AS nation
            FROM lineitem l
            JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
            JOIN orders o   ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
            JOIN region r   ON r.r_regionkey = n2.n_regionkey
                           AND r.r_name = 'AMERICA'
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate <  TIMESTAMP '1998-01-01'
        ) all_nations
        GROUP BY o_year
        ORDER BY o_year
    """,
    doc="TPC-H Q8 shape (national market share): one supplier nation's "
    "share of a region's PROMO-part market by order year. 7-way star "
    "topology; part (filtered to 1/6 of rows) joins first and prunes the "
    "fact rows — AQE broadcasts it while small; no hard hint since part "
    "grows with SF — market region constrains the customer path, and the "
    "share is a conditional-over-total ratio of two exact decimal sums, "
    "each ROUNDed to scale 2 BEFORE the double cast (a scale-12 decimal "
    "exceeds 2^53 ulps, so DuckDB's int128->double cast double-rounds and "
    "drifts 1 ulp from Spark's BigDecimal cast; at scale 2 both casts are "
    "exact) then one IEEE division — bit-stable at any parallelism. One "
    "fact-fact shuffle",
    tags=("join", "star", "agg", "ratio"),
)


# Kept over its oracle text: test_plans' _FORMERLY_HINTED pins this nation-hint BroadcastHashJoin.
@register(
    "q9_product_profit",
    oracle="""
        SELECT nation, o_year,
               CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
        FROM (
            SELECT n.n_name AS nation,
                   CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
                   CAST(l.l_extendedprice AS DECIMAL(15,4))
                     * CAST(1 - l.l_discount AS DECIMAL(15,8))
                     - CAST(p.p_retailprice * l.l_quantity * 0.1 AS DECIMAL(15,4))
                     AS amount
            FROM lineitem l
            JOIN part p     ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation n   ON n.n_nationkey = s.s_nationkey
            JOIN orders o   ON o.o_orderkey = l.l_orderkey
            WHERE p.p_name LIKE '%red%'
        ) profit
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 shape (product-type profit by nation and year). The "
    "testdata has no partsupp, so supply cost is proxied as 10% of "
    "p_retailprice per unit — the per-row profit expression keeps the "
    "original's revenue-minus-cost join topology. The cost product is "
    "evaluated in double (identical left-assoc IEEE ops in both engines) "
    "and cast to decimal ONCE per row, so group sums stay exact and "
    "order-invariant. part filtered by LIKE before its join (strategy is "
    "AQE's call); one fact-fact shuffle (lineitem|><|orders)",
    tags=("join", "star", "agg"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    supp_nat = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    amount = _vol() - (
        F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    ).cast(DEC)
    return (
        li.join(parts, li.l_partkey == parts.p_partkey)
        .join(supp_nat, li.l_suppkey == supp_nat.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


register_sql(
    "q11_important_parts",
    text=f"""
        WITH pv AS (
            SELECT l.l_partkey,
                   SUM({_O_VOL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS val
            FROM lineitem l
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation n   ON n.n_nationkey = s.s_nationkey
            JOIN region r   ON r.r_regionkey = n.n_regionkey
                           AND r.r_name = 'EUROPE'
            GROUP BY l.l_partkey
        )
        SELECT l_partkey, CAST(ROUND(val, 2) AS DOUBLE) AS part_value
        FROM pv
        WHERE CAST(ROUND(val, 2) AS DOUBLE)
              > 1.5 * (CAST((SELECT ROUND(SUM(val), 2) FROM pv) AS DOUBLE)
                       / (SELECT COUNT(*) FROM pv))
        ORDER BY part_value DESC, l_partkey
    """,
    doc="TPC-H Q11 shape (important stock identification): per-part value "
    "held by one region's suppliers, kept only where it exceeds 1.5x the "
    "MEAN per-part value — a HAVING over a scalar subquery. The real Q11 "
    "scales its fraction by 1/SF because part count grows with scale; a "
    "mean-relative threshold is the same idea made scale-free (no "
    "external SF knowledge, non-degenerate at every size). No partsupp in "
    "the testdata, so value = lineitem revenue by that region's suppliers. "
    "Spark plan: one shuffle agg by l_partkey; the scalar SUM and COUNT "
    "subqueries re-agg the tiny per-part result without a second scan of "
    "the fact table (one lineitem scan in the executed plan). "
    "Both threshold sides "
    "ROUND to scale 2 before the double cast so the compare is exact on "
    "both engines (scale-12 int128->double casts can drift 1 ulp)",
    tags=("join", "agg", "subquery"),
)


register_sql(
    "q12_late_lines_by_status",
    text="""
        SELECT l.l_linestatus,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l.l_linestatus
        ORDER BY l.l_linestatus
    """,
    doc="TPC-H Q12 shape (shipping modes and order priority): conditional "
    "priority counts over late-shipped lines. The testdata lacks "
    "l_shipmode/l_commitdate/l_receiptdate, so the mode key becomes "
    "l_linestatus and 'late' becomes shipped >=60 days after order date — "
    "preserving the defining features: a non-equi residual predicate "
    "(l_shipdate vs o_orderdate+interval) evaluated on the joined row, and "
    "CASE-based conditional counts. The year filter prunes lineitem at "
    "the scan; the interval residual can only run post-join",
    tags=("join", "agg", "conditional"),
)


# Kept over its oracle text: the text scans lineitem twice (3 file scans vs 2) and is slower, 0.632 s vs 0.468 s median (IQR 0.039 s), 10 sf0.1 pairs.
@register(
    "q15_top_supplier",
    oracle=f"""
        WITH rev AS (
            SELECT l_suppkey AS supplier_no,
                   SUM({_O_VOL}) AS total_rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name,
               CAST(ROUND(total_rev, 2) AS DOUBLE) AS total_revenue
        FROM supplier s
        JOIN rev ON s.s_suppkey = rev.supplier_no
        WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
        ORDER BY s.s_suppkey
    """,
    doc="TPC-H Q15 shape (top supplier): quarterly per-supplier revenue, "
    "select the argmax via equality against a scalar MAX subquery. "
    "Equality on an aggregate is only sound because revenue accumulates "
    "in exact DECIMAL — double sums would make '== max' partition-order- "
    "dependent. Plan: one shuffle agg keyed by supplier (100 groups), the "
    "MAX re-aggs that tiny output and broadcasts one row; the supplier "
    "join strategy is AQE's call (supplier grows with SF). Ties (multiple "
    "argmax suppliers) surface deterministically ordered by key",
    tags=("agg", "subquery", "argmax"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_vol()).alias("total_rev"))
        # feeds the argmax filter AND the max: sf0.1, 10 A/B pairs, 0.46 s
        # vs 0.57 s plain (slower in 10 of 10)
        .localCheckpoint(eager=False)
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_rev", 2).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# Kept over its oracle text: slower as SQL, 0.933 s vs 0.520 s median (IQR 0.137 s), 10 sf0.1 pairs.
@register(
    "q17_small_qty_revenue",
    oracle="""
        SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(15,4))) AS DOUBLE)
               / 7.0 AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN (
            SELECT l_partkey,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(15,4))) AS DOUBLE)
                     / COUNT(l_quantity) AS avg_qty
            FROM lineitem
            GROUP BY l_partkey
        ) a ON a.l_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#5'
          AND p.p_size < 10
          AND l.l_quantity < 0.2 * a.avg_qty
    """,
    doc="TPC-H Q17 shape (small-quantity-order revenue): lines ordering "
    "less than 20% of their part's average quantity — a correlated "
    "per-part AVG decorrelated into a pre-agg joined back on l_partkey. "
    "No p_container in testdata -> p_size<10 stands in for the container "
    "filter. The per-part average uses the exact-decimal-sum/count form so "
    "the 0.2*avg boundary is bit-identical across engines and partition "
    "orders. Spark restricts the avg pre-agg to the filtered parts first "
    "(semi-join) — equivalent result, ~1/60th the agg input; the partkey-"
    "keyed agg and join then share partitioning (no extra shuffle)",
    tags=("join", "agg", "subquery", "scalar"),
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#5") & (F.col("p_size") < 10))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    li_f = li.join(parts, li.l_partkey == parts.p_partkey, "left_semi")
    avg_qty = li_f.groupBy("l_partkey").agg(
        (F.sum(dec("l_quantity")).cast("double") / F.count("l_quantity")).alias(
            "avg_qty"
        )
    )
    return (
        li_f.join(avg_qty.withColumnRenamed("l_partkey", "a_partkey"),
                  F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


register_sql(
    "q20_promotion_suppliers",
    text="""
        SELECT s.s_name
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
                     AND n.n_name = 'NATION_7'
        WHERE s.s_suppkey IN (
            SELECT l.l_suppkey
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_name LIKE 'red%'
              AND l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate <  TIMESTAMP '1997-01-01'
            GROUP BY l.l_suppkey, l.l_partkey
            HAVING SUM(l.l_quantity) > 40
        )
        ORDER BY s.s_name
    """,
    doc="TPC-H Q20 shape (potential part promotion): suppliers in one "
    "nation who moved a large quantity of a name-prefixed part family in "
    "a year. No partsupp/ps_availqty in testdata, so the inner availability "
    "test becomes shipped-quantity-per-(supplier,part) > threshold — "
    "preserving the nested structure: grouped HAVING subquery -> IN "
    "(= left-semi join) -> nation-filtered dim. Quantities are integer-"
    "valued doubles, so their sums are exact (< 2^53) and the threshold "
    "compare is order-invariant. The (suppkey,partkey) agg shuffles only "
    "name-matched, year-matched fact rows",
    tags=("join", "semi", "agg", "subquery"),
)


register_sql(
    "q22_global_sales_opportunity",
    text="""
        WITH pos AS (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(15,4))) AS DOUBLE)
                     / COUNT(c_acctbal) AS avg_bal
            FROM customer
            WHERE c_acctbal > 0
              AND c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
        )
        SELECT c.c_mktsegment AS segment,
               COUNT(*) AS numcust,
               CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(15,4))), 2)
                    AS DOUBLE) AS totacctbal
        FROM customer c, pos
        WHERE c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
          AND c.c_acctbal > pos.avg_bal
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c.c_mktsegment
        ORDER BY segment
    """,
    doc="TPC-H Q22 shape (global sales opportunity): rich-but-inactive "
    "customers by group. No c_phone in testdata, so the country-code "
    "substring becomes c_mktsegment, and (every testdata customer has at "
    "least one order) 'never ordered' becomes 'no order since 2000-01-01'. "
    "Preserved structure: scalar-average gate (acctbal above the positive-"
    "balance mean, computed exact-decimal -> one double division, broadcast "
    "as one row) + NOT EXISTS anti-join against date-filtered orders. The "
    "date filter prunes the orders side at the scan before the anti-join "
    "shuffle; at scale both sides hash-partition on custkey. Segment agg "
    "output is 3 rows",
    tags=("join", "anti", "agg", "subquery"),
)
