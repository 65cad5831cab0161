"""10x synthetic scaling probe for the super-linear-risk query family.

The 100 TB design claims for the dedup / ANN / graph operators rest on
"bucketed, not all-pairs" plan shapes. This probe converts those claims
from plan inspection into measured evidence: it inflates the three
LLM-pipeline tables ~FACTOR x, times each at-risk query at base and
inflated size, and re-asserts the plan-shape gates at the inflated size
(no BroadcastNestedLoopJoin, no CartesianProduct).

Inflation design — 10 ISOMETRIC copies, so linear growth is the exact
ground truth:

- embeddings: copy i flips the sign of each dimension by a deterministic
  per-(copy, dim) coin (xxhash64 parity). Sign flips cancel inside a
  same-copy dot product, so every within-copy cosine (and norm) is
  BIT-IDENTICAL to the base table; cross-copy cosines collapse to
  ~N(0, 1/sqrt(dim)) ~= +-0.125, far under COSINE_EDGE_THRESHOLD=0.40.
  The inflated similarity graph is therefore exactly `factor` disjoint
  copies of the base graph — edges, components, and triangles all scale
  exactly linearly, and any super-linear wall-time growth is the
  engine's fault, not the data's.
- documents: copy i suffixes every whitespace token with a copy marker
  (a token bijection), so within-copy shingle/Jaccard structure is
  exactly the base corpus and cross-copy token overlap is zero.
- events: id/user offsets per copy; per-user timelines mirror the base.

ids get copy*ID_STRIDE offsets (shared by doc_id and vec_id — the
semantic-dedup join key contract). Non-inflated tables are file-copied so
every registered query still runs against the probe dir.

Usage:
    python tools/scale_probe.py [base_sf_dir] [factor] [name ...]
Defaults: /root/testdata/sf0.1, 10x, the 14-query at-risk family.
Emits one JSON line per query plus a summary line; SCALE_PROBE.md is
written from the captured rows by hand (the narrative matters more than
the numbers).

NOTE on the auto-gate: 10x the sf0.1 embeddings table (20k rows) crosses
ALL_PAIRS_MAX_ROWS, so cosine_edges-fed queries switch from the exact
all-pairs baseline to the banded-LSH candidate path — by design. Those
growth factors compare different algorithms (marked `gate_switch` in the
output); the algorithm-consistent LSH-vs-LSH growth is probed separately
via the [lsh]-suffixed rows, which force candidates="lsh" at BOTH sizes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from tutorial_iceberg_spark.io import TABLES, load_table, table_path  # noqa: E402
from tutorial_iceberg_spark.plans.explain import explain_str  # noqa: E402
from tutorial_iceberg_spark.registry import all_queries  # noqa: E402
from tutorial_iceberg_spark.session import get_spark  # noqa: E402

ID_STRIDE = 10_000_000  # shared by doc_id/vec_id/user_id copies
EV_STRIDE = 1_000_000_000
# TPC-H key strides (round 9: relational/lakehouse family). Every engine
# query that slices these keys uses `key % m` with m in {2,3,4,5,7,9};
# 720720 = 2^4*3^2*5*7*11*13 is divisible by all of them, so copy
# offsets of k*720720 PRESERVE every mod class — each inflated copy is a
# bit-faithful sub-database and linear growth is exact ground truth.
ORD_STRIDE = 3 * 720_720  # > max o_orderkey at sf0.1 (149,999)
CUST_STRIDE = 720_720  # > max c_custkey at sf0.1 (14,999)

# The at-risk family (VERDICT r7 #1 next-round list): every query whose
# cost COULD go super-linear if a candidate cap / bucketing contract
# silently broke.
DEFAULT_PROBES = [
    "x_dedup_minhash_lsh",
    "x_dedup_minhash_md5",
    "x_dedup_ngram_jaccard",
    "x_dedup_incremental",
    "x_sim_join_threshold",
    "x_dedup_semantic_cc",
    "x_semantic_dedup_corpus",
    "x_ann_ivf_cosine",
    "x_ann_hyperplane_lsh",
    "x_ann_ivf_pq",
    "x_knn_classify_loo",
    "x_triangle_count",
    "x_pagerank_sim",
    "x_cooccur_pairs",
]

# Round-9 family: the fact-table half of the engine (VERDICT r8 Next #1).
# Probed with `python tools/scale_probe.py [base] [factor] relational`.
# customer/orders/lineitem inflate as key-offset copies (disjoint
# sub-databases sharing the part/supplier/nation dims), so per-copy
# results mirror the base and work is exactly linear; expected wall
# growth is ~FACTOR for full-scan shapes and ~FLAT for the [narrow]
# merge (whose source overlap is constant by construction).
RELATIONAL_PROBES = [
    "q3_shipping_priority",
    "q8_market_share",
    "q9_product_profit",
    "q18_large_volume_orders",
    "q21_sole_returning_supplier",
    "j4_salted_skew_join",
    "lake_merge_upsert",
    "lake_sorted_compaction",
    "lake_changelog",
    "lake_rewrite_manifests",  # metadata-only commit: should stay ~flat
    "x_stream_source_cap",  # per-key admission state x10 keys
]

# Round-10 family: the streaming operators (VERDICT r9 Next #4). Only
# x_stream_source_cap had a measured 10x row; the stateful sessionizer,
# native session windows, stream-stream join, exactly-once lakehouse
# sink, and streaming dedup had bounded-state ARGUMENTS but no measured
# growth. events inflate 10x as user-offset copies (10x keys, per-user
# timelines mirror the base), so state should grow ~linearly in keys and
# wall sub-linearly (micro-batch machinery is a large fixed cost at this
# SF). Each row also reports the measured state-store footprint
# (events_stream.LAST_STREAM_STATE) at both sizes.
STREAMING_PROBES = [
    "x_stream_session_window",
    "x_stream_sessionize_stateful",
    "x_stream_stream_join",
    "x_stream_lakehouse_sink",
    "x_stream_dedup",
]

# Queries whose registered form crosses the ALL_PAIRS_MAX_ROWS auto-gate
# between base (2k embeddings) and 10x (20k): their base/10x timings
# compare different algorithms (exact all-pairs vs banded LSH).
GATE_SWITCHERS = {
    "x_sim_join_threshold",
    "x_dedup_semantic_cc",
    "x_semantic_dedup_corpus",
    "x_triangle_count",
    "x_pagerank_sim",
    "x_knn_classify_loo",
}

# Queries whose ONLY nested-loop join is a crossJoin against a broadcast
# side of schema/parameter-bounded size (tests/test_plans.py ALLOWED
# sweep proves every such site): the IVF family crossJoins each vector /
# query against the N_CELLS=16 centroid frame to pick cells — an O(n*16)
# linear scan, the intended assignment step, planned by Spark as
# BroadcastNestedLoopJoin (tests/test_vector.py:55 asserts exactly this
# shape). A BNLJ here is NOT a scale defect; one against a grown side is.
BNLJ_BOUNDED_OK = {
    "x_ann_ivf_cosine",  # crossJoin(broadcast(cents)), 16 rows
    "x_ann_ivf_pq",  # same coarse quantizer + 16-row codebook LUT
    # 1-row scalar-aggregate crossJoins (corpus stats / doc count /
    # median-derived cap): Spark plans crossJoin(broadcast(<1 row>)) as
    # BroadcastNestedLoopJoin; the sides are aggregates, not tables, so
    # they cannot grow (tests/test_plans.py ALLOWED sweep proves each)
    "x_bm25_search",
    "x_tfidf_terms",
    "x_keyword_extract",
    "x_source_cap",
    # the salt-replication crossJoin against the N_SALT=8-row broadcast
    # salts frame (parameter-bounded; tests/test_plans.py ALLOWED) — the
    # join itself is a hash equi-join on (key, salt)
    "j4_salted_skew_join",
    "j4_salted_skew_join[skew]",
}


def _inflate_embeddings(emb: DataFrame, factor: int) -> DataFrame:
    # per-(copy, dim) sign flip: the index arg of the transform lambda is
    # the element position (a Column); xxhash64 parity of (dim + copy*97)
    # is the deterministic coin. Bind the copy index via a factory — a
    # default arg would change the lambda's arity and Spark rejects
    # 3-parameter HOF lambdas.
    def _flip(i: int):
        def f(v, j):
            return (
                v
                * F.when(
                    F.pmod(F.xxhash64(j + F.lit(i * 97)), F.lit(2)) == 0,
                    F.lit(1.0),
                ).otherwise(F.lit(-1.0))
            ).cast("float")

        return f

    out = emb
    for i in range(1, factor):
        flip = _flip(i)
        out = out.unionByName(
            emb.select(
                (F.col("vec_id") + i * ID_STRIDE).alias("vec_id"),
                F.transform("embedding", flip).alias("embedding"),
                "label",
            )
        )
    return out


def _inflate_documents(docs: DataFrame, factor: int) -> DataFrame:
    out = docs
    for i in range(1, factor):
        # token bijection: suffix every token with a copy marker (letter
        # separator — a digit would parse as part of the group reference)
        text = F.regexp_replace("text", r"(\S+)", f"$1q{i}")
        out = out.unionByName(
            docs.select(
                (F.col("doc_id") + i * ID_STRIDE).alias("doc_id"),
                text.alias("text"),
                "lang",
                "source",
                F.length(text).alias("n_chars"),
            )
        )
    return out


def _inflate_events(ev: DataFrame, factor: int) -> DataFrame:
    out = ev
    for i in range(1, factor):
        out = out.unionByName(
            ev.select(
                (F.col("event_id") + i * EV_STRIDE).alias("event_id"),
                "ts",
                (F.col("user_id") + i * ID_STRIDE).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )
    return out


def _inflate_customer(cust: DataFrame, factor: int) -> DataFrame:
    out = cust
    for i in range(1, factor):
        out = out.unionByName(
            cust.select(
                (F.col("c_custkey") + i * CUST_STRIDE).alias("c_custkey"),
                "c_name",
                "c_nationkey",  # nation/region dims stay shared
                "c_acctbal",
                "c_mktsegment",
            )
        )
    return out


def _inflate_orders(orders: DataFrame, factor: int) -> DataFrame:
    # each copy's orders reference that copy's customers: the join graph
    # decomposes into `factor` disjoint sub-databases
    out = orders
    for i in range(1, factor):
        out = out.unionByName(
            orders.select(
                (F.col("o_orderkey") + i * ORD_STRIDE).alias("o_orderkey"),
                (F.col("o_custkey") + i * CUST_STRIDE).alias("o_custkey"),
                "o_orderstatus",
                "o_totalprice",
                "o_orderdate",
                "o_orderpriority",
            )
        )
    return out


def _inflate_lineitem(li: DataFrame, factor: int) -> DataFrame:
    # part/supplier keys stay shared (dims are not inflated): per-part /
    # per-supplier aggregates grow exactly `factor`-fold in VALUE with
    # constant output rows — still exact linear ground truth
    out = li
    for i in range(1, factor):
        out = out.unionByName(
            li.withColumn("l_orderkey", F.col("l_orderkey") + i * ORD_STRIDE)
        )
    return out


def build_inflated(
    spark: SparkSession, base_dir: str, out_dir: str, factor: int
) -> None:
    os.makedirs(out_dir, exist_ok=True)
    infl = {
        "embeddings": _inflate_embeddings,
        "documents": _inflate_documents,
        "events": _inflate_events,
        "customer": _inflate_customer,
        "orders": _inflate_orders,
        "lineitem": _inflate_lineitem,
    }
    for t in TABLES:
        dst = table_path(out_dir, t)
        if t in infl:
            df = infl[t](load_table(spark, base_dir, t), factor)
            # multi-file directory layout — the shape a real table has;
            # the partition-invariance sweep proved queries don't care
            df.repartition(8).write.mode("overwrite").parquet(dst)
        else:
            shutil.copyfile(table_path(base_dir, t), dst)


def _probe_callables(specs):
    """name -> builder for every probed row, including the
    algorithm-consistent [lsh] twins that force the scale path at BOTH
    sizes."""
    from tutorial_iceberg_spark.functions.vector import x_knn_classify_loo
    from tutorial_iceberg_spark.operators.graph import cosine_edges

    rows: dict[str, object] = {}
    for n in DEFAULT_PROBES:
        rows[n] = specs[n].builder
    rows["cosine_edges[lsh]"] = lambda s, d: cosine_edges(
        s, d, candidates="lsh"
    )
    # the auto-sized twin (r10 verdict Next #3): constants re-picked per
    # corpus census, so within-copy recall should hold roughly flat
    # across densities where the fixed path drifts
    rows["cosine_edges[lsh_auto]"] = lambda s, d: cosine_edges(
        s, d, candidates="lsh_auto"
    )
    # the near-dup threshold twin: the rho-exponent makes the 0.40 floor
    # honestly unaffordable at ~200k vectors (the sizer warns and clamps
    # to recall ~0.57), so the 100x embeddings probe measures the sized
    # path at 0.60 — the cheapest threshold the cost-vs-threshold law
    # (probes/r11/threshold_sweep) shows staying affordable at that n
    rows["cosine_edges[lsh_auto@0.60]"] = lambda s, d: cosine_edges(
        s, d, threshold=0.60, candidates="lsh_auto"
    )
    rows["x_knn_classify_loo[lsh]"] = lambda s, d: x_knn_classify_loo(
        s, d, candidates="lsh"
    )
    # the deployment-default twin (r12 verdict Next #3: this op's own
    # "auto" switch missed the lsh_auto flip): census-sized constants at
    # BOTH sizes, so the audit's accuracy should hold where fixed-LSH
    # recall drifts with density
    rows["x_knn_classify_loo[lsh_auto]"] = lambda s, d: x_knn_classify_loo(
        s, d, candidates="lsh_auto"
    )
    return rows


def _j4_skewed(spark: SparkSession, d: str) -> DataFrame:
    """j4 under PATHOLOGICAL key skew: ~30% of ALL orders funneled onto
    one mega-customer (the funnel fraction is scale-free, so the hot
    key's absolute volume grows with the corpus — base ~45k rows, 10x
    ~450k). A plain hash join puts that entire key on one task; the salt
    scatter must keep the wall growth ~linear instead."""
    from tutorial_iceberg_spark.operators.relational import salted_segment_revenue

    orders = load_table(spark, d, "orders").withColumn(
        "o_custkey",
        F.when(
            F.pmod(F.col("o_orderkey"), F.lit(10)) < 3, F.lit(1).cast("long")
        ).otherwise(F.col("o_custkey")),
    )
    return salted_segment_revenue(orders, load_table(spark, d, "customer"))


def _merge_narrow_setup(spark: SparkSession, d: str):
    """CONSTANT-OVERLAP merge fixture: the table holds every key stripe
    (10x the rows at 10x), but the MERGE source touches only stripe 0 —
    constant rows by construction. Appends go one stripe per commit so
    data files carry tight o_orderkey bounds (the layout any clustered
    ingest produces); that is what gives MERGE's key-bounds pruning
    something to prune. If pruning is O(overlap) the op phase stays FLAT
    as the table grows; if it silently rewrites everything, wall growth
    tracks the table instead."""
    from tutorial_iceberg_spark.lakehouse.queries import _fresh_table

    orders = load_table(spark, d, "orders")
    t = _fresh_table(spark, "merge_narrow_probe")
    n_stripes = (
        int(
            orders.agg(
                F.max(F.floor(F.col("o_orderkey") / ORD_STRIDE))
            ).first()[0]
        )
        + 1
    )
    for i in range(n_stripes):
        t.append(
            orders.filter(F.floor(F.col("o_orderkey") / ORD_STRIDE) == i)
        )
    src = orders.filter(
        (F.col("o_orderkey") < ORD_STRIDE) & (F.col("o_orderkey") % 4 == 0)
    ).withColumn("o_totalprice", F.col("o_totalprice") * 2)
    return t, src


def _merge_narrow_op(state) -> DataFrame:
    """Measured phase: the MERGE alone. Returns the pruning evidence
    (files before / files carried over untouched / files rewritten) as a
    1-row frame instead of a full table read — a 10x read would swamp
    the flat-cost signal the probe exists to measure."""
    t, src = state
    before = {f.path for f in t.meta.snapshot().files}
    t.merge(src, on="o_orderkey")
    after = {f.path for f in t.meta.snapshot().files}
    spark = src.sparkSession
    return spark.createDataFrame(
        [(len(before), len(before & after), len(before - after))],
        "files_before int, files_carried int, files_rewritten int",
    )


def _relational_callables(specs):
    """The round-9 fact-table family. Lake entries time the OP phase only
    (fresh setup per run, untimed) via the bench-split pairs, so the
    measurement is the maintenance operator, not the fixture write."""
    from tutorial_iceberg_spark.lakehouse.queries import BENCH_SPLIT

    rows: dict[str, object] = {}
    for n in RELATIONAL_PROBES:
        rows[n] = BENCH_SPLIT.get(n, specs[n].builder)
    rows["j4_salted_skew_join[skew]"] = _j4_skewed
    rows["lake_merge_upsert[narrow]"] = (_merge_narrow_setup, _merge_narrow_op)
    return rows


def _materialize(entry, spark, d) -> DataFrame:
    """Build the result frame for a probe entry: plain builder, or
    (setup, op) bench-split pair (fresh fixture, op applied)."""
    if isinstance(entry, tuple):
        setup, op = entry
        return op(setup(spark, d))
    return entry(spark, d)


def main() -> None:
    args = sys.argv[1:]
    base_dir = args[0] if args else "/root/testdata/sf0.1"
    factor = int(args[1]) if len(args) > 1 else 10
    name_filter = args[2:]

    spark = get_spark(app_name="scale-probe")
    specs = all_queries()
    # `relational` as the first name selects the round-9 fact-table
    # family (TPC-H shapes + lakehouse maintenance + skew twins);
    # remaining names still filter within it.
    if name_filter and name_filter[0] == "relational":
        rows = _relational_callables(specs)
        name_filter = name_filter[1:]
    elif name_filter and name_filter[0] == "streaming":
        rows = {n: specs[n].builder for n in STREAMING_PROBES}
        name_filter = name_filter[1:]
    else:
        rows = _probe_callables(specs)
    # any registered query can be probed by exact name, beyond the
    # default at-risk family
    for f in name_filter:
        if f in specs and f not in rows:
            rows[f] = specs[f].builder
    if name_filter:
        rows = {
            n: b
            for n, b in rows.items()
            if any(f in n for f in name_filter)
        }

    probe_dir = os.path.join(
        tempfile.gettempdir(), "tis_scale_probe", f"x{factor}"
    )
    marker = os.path.join(probe_dir, "_built_from")
    # v2: round 9 added customer/orders/lineitem inflation — stale v1
    # dirs (file-copied fact tables) must rebuild
    stamp = f"{base_dir}|{factor}|v2"
    if not (os.path.exists(marker) and open(marker).read() == stamp):
        t0 = time.perf_counter()
        build_inflated(spark, base_dir, probe_dir, factor)
        with open(marker, "w") as fh:
            fh.write(stamp)
        print(
            f"# inflated {base_dir} x{factor} -> {probe_dir} "
            f"({time.perf_counter() - t0:.1f}s)",
            file=sys.stderr,
        )

    # warm-up at the smallest SF: JIT + codegen caches, none of the data
    for n, b in rows.items():
        try:
            _materialize(b, spark, "/root/testdata/sf0.001").collect()
        except Exception as e:
            print(f"# warmup {n} failed: {e}", file=sys.stderr)

    # best-of-N (host shows +-15% single-run noise; a growth factor built
    # from two single runs compounds it)
    RUNS = int(os.environ.get("SCALE_PROBE_RUNS", "2"))

    def timed(entry, d):
        """Best-of-RUNS wall time. Bench-split pairs run a FRESH untimed
        setup per run (lake ops mutate their fixture; re-running op on a
        merged table would measure a no-op) and time only the op phase."""
        best, out = float("inf"), []
        for _ in range(RUNS):
            if isinstance(entry, tuple):
                setup, op = entry
                state = setup(spark, d)
                t0 = time.perf_counter()
                out = op(state).collect()
            else:
                t0 = time.perf_counter()
                out = entry(spark, d).collect()
            best = min(best, time.perf_counter() - t0)
        return best, out

    def _stream_state(reset: bool = False):
        from tutorial_iceberg_spark.streaming import events_stream as S

        if reset:  # a query that never calls run_stream must report None,
            S.LAST_STREAM_STATE = None  # not the previous query's state
            return None
        return S.LAST_STREAM_STATE

    results = []
    for n, b in rows.items():
        _stream_state(reset=True)
        t_base, base_out = timed(b, base_dir)
        base_rows = len(base_out)
        state_base = _stream_state()

        df_big = _materialize(b, spark, probe_dir)
        plan = explain_str(df_big)
        gates = {
            "bnlj": "BroadcastNestedLoopJoin" in plan,
            "cartesian": "CartesianProduct" in plan,
        }
        _stream_state(reset=True)
        t_big, big_out = timed(b, probe_dir)
        big_rows = len(big_out)
        state_big = _stream_state()

        # measured recall of the capped-LSH edge generator on the
        # inflated table: within-copy edges are bit-identical copies of
        # the base graph, so ground truth is exactly factor * |exact
        # base edges| (the cross-copy noise edges the threshold also
        # admits are excluded — they are data, not structure).
        recall = None
        if n.startswith("cosine_edges[lsh"):
            from tutorial_iceberg_spark.operators.graph import (
                COSINE_EDGE_THRESHOLD,
                cosine_edges,
            )

            thr = (
                float(n.split("@")[1].rstrip("]"))
                if "@" in n
                else COSINE_EDGE_THRESHOLD
            )
            exact_base = cosine_edges(
                spark, base_dir, threshold=thr, candidates="all_pairs"
            ).count()
            within = (
                df_big.filter(
                    F.floor(F.col("left_id") / ID_STRIDE)
                    == F.floor(F.col("right_id") / ID_STRIDE)
                ).count()
            )
            recall = round(within / (factor * exact_base), 4)

        rec = {
            "query": n,
            "t_base_sec": round(t_base, 3),
            "t_10x_sec": round(t_big, 3),
            "wall_growth": round(t_big / t_base, 2) if t_base > 0 else None,
            "rows_base": base_rows,
            "rows_10x": big_rows,
            "rows_growth": round(big_rows / base_rows, 2)
            if base_rows
            else None,
            "gate_switch": n in GATE_SWITCHERS,
            "within_copy_recall_10x": recall,
            "plan_bnlj_10x": gates["bnlj"],
            "bnlj_bounded_ok": n in BNLJ_BOUNDED_OK,
            "plan_cartesian_10x": gates["cartesian"],
        }
        if n == "lake_merge_upsert[narrow]":
            # pruning evidence: files carried over untouched vs rewritten
            rec["pruning_base"] = base_out[0].asDict()
            rec["pruning_10x"] = big_out[0].asDict()
        if n.startswith("x_stream") and state_big is not None:
            # measured state-store footprint (last stream of the query's
            # final run at each size): rows + bytes, base vs 10x
            rec["stream_state_base"] = state_base
            rec["stream_state_10x"] = state_big
        results.append(rec)
        print(json.dumps(rec))

    bad = [
        r["query"]
        for r in results
        if (r["plan_bnlj_10x"] and r["query"] not in BNLJ_BOUNDED_OK)
        or r["plan_cartesian_10x"]
    ]
    print(
        json.dumps(
            {
                "summary": "scale_probe",
                "base": base_dir,
                "factor": factor,
                "queries": len(results),
                "plan_gate_failures": bad,
            }
        )
    )


if __name__ == "__main__":
    main()
