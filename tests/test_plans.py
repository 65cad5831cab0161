"""Broadcast-policy and plan-shape gates (the 100 TB regression tripwires).

Policy (VERDICT r5 finding 1): hard ``F.broadcast`` hints are allowed ONLY
on sides whose size is provably bounded — schema-bounded dims (nation = 25
rows, region = 5 rows), 1-row scalar aggregates, centroid/query/permutation
sets whose cardinality is a function parameter, and eval-benchmark n-gram
sets. customer / part / supplier / lineitem / orders grow linearly with
scale factor: a hard hint on them disables both AQE's runtime judgment and
Spark's shuffle fallback (driver broadcasts >8 GB hard-fail), so what works
at sf0.1 is an OOM at 100x. Those joins carry no hint; AQE still broadcasts
them at bench scale and shifts to shuffle joins at cluster scale.

Two gates enforce this:

1. a source-level allowlist sweep — every ``F.broadcast(`` occurrence in the
   package must match a known-bounded argument pattern, so a new hard hint
   on a linear-growth table cannot land silently;
2. plan probes — with the auto-broadcast threshold disabled (simulating a
   dim too big to broadcast), formerly-hinted q-series joins must degrade
   to shuffle joins, while the schema-bounded nation/region hints still
   produce BroadcastHashJoin.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

from tutorial_iceberg_spark.plans.explain import explain_str

PKG = Path(__file__).resolve().parent.parent / "tutorial_iceberg_spark"

# Argument prefixes that are provably bounded, per site. Keys are file
# names; values are regexes the broadcast ARGUMENT must match. Anything
# else — in these files or any other — fails the sweep.
ALLOWED = {
    "lakehouse/queries.py": [
        # lake_txn_multi_table: a literal 1-row (fact_rows) frame joined
        # onto the (|priorities|-row) rollup read — both sides bounded
        r'spark\.createDataFrame\(\[\(n_fact,\)\], "fact_rows bigint"\)',
    ],
    "operators/relational.py": [
        r'load_table\(spark, sf_dir, "(nation|region)"\)',  # 25 / 5 rows
        r"nation\b",  # nation dim frame
        r"nation_region\b",  # nation |x| region (<= 25 rows)
        r"salts\b",  # salt-explode helper: SALT_N literal rows
        r"offsets\b",  # distributed_row_number: <= n_partitions offset rows
    ],
    "operators/tpch_extra.py": [
        r'load_table\(spark, sf_dir, "(nation|region)"\)',
        r"nat\.",  # filtered nation frame
        r"nr\b",  # nation |x| region
        r"load_table\(spark, sf_dir, \"nation\"\)\.join",  # nation chain
        r"mean\b",  # 1-row scalar aggregate
        r"mx\b",  # 1-row scalar aggregate
        r"avg_bal\b",  # 1-row scalar aggregate
    ],
    "functions/vector.py": [
        r"q$",  # query set: bounded by n_queries parameter
        r"qv\b",  # query vectors (same set)
        r"q_bands\b",  # per-query LSH bands (n_queries x bands)
        r"cents\b",  # k-means centroids: n_cells x dim, a parameter
        r"cent\b",  # per-label centroids: |labels| rows, bounded domain
        r"probes\b",  # query->cell probe pairs: n_queries x n_probe
        r"b$",  # kNN-LOO all-pairs baseline, gated to ALL_PAIRS_MAX_ROWS
        # first-collision dedup key table: caller-gated to the
        # _BROADCAST_EST_MAX_BYTES budget (distinct() fallback above)
        r"keys_by_vec\.select\(",
        # kNN-LOO lsh verification sides: gated to the
        # embedding_broadcast_affordable bytes budget (AQE fallback
        # above) — same discipline as graph.py's left/right
        r"left_emb$",
        r"right_emb$",
    ],
    "functions/text.py": [
        r"n_docs\b",  # 1-row corpus-size scalar
        r"cap\b",  # 1-row median-derived per-source cap (x_source_cap)
        r"corpus_stats\b",  # 1-row (N, avgdl) aggregate
        r"term_df\b",  # BM25 df table: |query terms| rows
        r"n$",  # 1-row doc-count aggregate (x_tfidf_terms)
        r"decr_tot\b",  # 1-row Misra-Gries decrement total (mg_merge)
    ],
    "operators/dedup.py": [
        r"pos\b",  # shingle-position frame: n_hashes permutation rows
    ],
    "operators/pipeline.py": [
        r"eval_grams\b",  # eval-benchmark 5-grams: eval set is fixed-size
        r"tot\b",  # 1-row corpus-total aggregate (_mixture_rates)
        r"stats\b",  # 1-row global group-size stats (x_skew_profile)
        r"mn\b",  # 1-row min-day scalar (x_retention_bitmap)
        r"rates\.select\(",  # per-lang rate frame: |langs| rows (x_mixture_sample)
        r"days\b",  # bounded day grid, RETENTION_BITMAP_DAYS rows
    ],
    "streaming/events_stream.py": [
        r"days\b",  # bounded day grid (x_stream_retention_bitmap)
    ],
    "operators/graph.py": [
        r"b$",  # all-pairs oracle baseline, gated to small inputs only
        r"dangling\b",  # 1-row dangling-mass aggregate (pagerank)
        # LSH verification sides: lsh_route gates them to the
        # _BROADCAST_EST_MAX_BYTES budget (AQE fallback above)
        r"left$",
        r"right$",
    ],
}

_LINEAR_TABLES = ("customer", "part", "supplier", "lineitem", "orders")


def _broadcast_args(text: str):
    """Yield the argument text of each F.broadcast( call (paren-matched)."""
    for m in re.finditer(r"F\.broadcast\(", text):
        depth, start = 1, m.end()
        i = start
        while depth and i < len(text):
            if text[i] == "(":
                depth += 1
            elif text[i] == ")":
                depth -= 1
            i += 1
        yield " ".join(text[start : i - 1].split())


def test_no_hard_broadcast_on_linear_growth_tables():
    hits, unknown = [], []
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        allowed = [re.compile(p) for p in ALLOWED.get(rel, [])]
        for arg in _broadcast_args(py.read_text()):
            if any(p.match(arg) for p in allowed):
                # belt-and-braces: even an allowlisted arg must not load a
                # linear-growth table
                for t in _LINEAR_TABLES:
                    if f'"{t}"' in arg:
                        hits.append(f"{rel}: F.broadcast({arg})")
                continue
            unknown.append(f"{rel}: F.broadcast({arg})")
    assert not hits, f"hard broadcast on linear-growth table: {hits}"
    assert not unknown, (
        "unallowlisted F.broadcast site(s) — prove the side is bounded and "
        f"add it to tests/test_plans.py ALLOWED, or drop the hint: {unknown}"
    )


# Materialization policy: the engine materializes one way only —
# localCheckpoint — and only where a measurement (or lineage truncation
# in an iterative loop) says it pays. persist()/cache() leak a cache
# entry past the call (a builder returns a lazy frame, so nothing
# unpersists it and later identical plans time as cache hits);
# StorageLevel choices and join hints are knobs Catalyst and AQE get
# right without. Keys: file -> {outermost enclosing def: (sites, reason)}.
# The source carries the same reason beside each call.
CHECKPOINTS = {
    "functions/text.py": {
        "x_cooccur_pairs": (1, "measured: explode+distinct feeds census and self-join"),
        "x_topk_sketch": (1, "measured: Arrow Misra-Gries pass feeds two consumers"),
    },
    "functions/vector.py": {
        "x_embed_outliers": (1, "measured: unit fold feeds centroid fold and scoring"),
        "_lsh_bands": (1, "measured: band keys feed census and both join sides (3.16 s vs 4.21 s)"),
        "_apply_bucket_cap": (1, "structural: split-key frame feeds both join sides"),
    },
    "operators/dedup.py": {
        "x_dedup_minhash_lsh": (1, "measured: Arrow index feeds banding and verification"),
        "incremental_dedup_verdicts": (1, "measured: capped postings feed four consumers"),
    },
    "operators/graph.py": {
        "pagerank": (4, "structural: iterative state, lineage truncated per round"),
        "triangle_counts": (1, "measured: edge feed backs three self-joins"),
    },
    "operators/tpch_extra.py": {
        "q15_top_supplier": (1, "measured: per-supplier agg feeds filter and max"),
    },
    "operators/pipeline.py": {
        "_mixture_rates": (1, "measured: census feeds total and rate frame"),
        "x_crosstab_chi2": (1, "measured: cells feed four consumers"),
    },
}

# attribute calls that create a session-level cache entry or pin a plan
_BANNED_CALLS = {"persist", "cache", "cacheTable", "hint"}
# the field holding an identifier, per node type that can name StorageLevel
_IDENT = {ast.Name: "id", ast.Attribute: "attr", ast.alias: "name"}


def _materialization_sites(tree):
    """Yield (outermost enclosing def, kind) for every localCheckpoint
    call, banned call and StorageLevel reference in a module AST."""

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            owner = fn
            if fn is None and isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                owner = child.name
            if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                if child.func.attr == "localCheckpoint" or child.func.attr in _BANNED_CALLS:
                    yield owner, child.func.attr
            field = _IDENT.get(type(child))
            if field and getattr(child, field) == "StorageLevel":
                yield owner, "StorageLevel"
            yield from walk(child, owner)

    yield from walk(tree, None)


def test_one_materialization_idiom():
    banned, unlisted, seen = [], [], {}
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        for fn, kind in _materialization_sites(ast.parse(py.read_text())):
            if kind == "localCheckpoint":
                seen[(rel, fn)] = seen.get((rel, fn), 0) + 1
            else:
                banned.append(f"{rel}:{fn}: {kind}")
    for (rel, fn), n in seen.items():
        want = CHECKPOINTS.get(rel, {}).get(fn, (0, ""))[0]
        if n != want:
            unlisted.append(f"{rel}:{fn}: {n} localCheckpoint(s), allowlisted {want}")
    stale = [
        f"{rel}:{fn}"
        for rel, sites in CHECKPOINTS.items()
        for fn in sites
        if (rel, fn) not in seen
    ]
    assert not banned, (
        "persist/cache/StorageLevel/hint in the engine — materialize with "
        f"a measured localCheckpoint or not at all: {banned}"
    )
    assert not unlisted, (
        "localCheckpoint site(s) not in tests/test_plans.py CHECKPOINTS — "
        f"measure it against the plain plan and record the reason: {unlisted}"
    )
    assert not stale, f"CHECKPOINTS lists sites that no longer exist: {stale}"


@pytest.fixture(scope="module")
def sf_correct():
    from tests.conftest import SF_CORRECT

    return SF_CORRECT


def _with_threshold(spark, value):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", value)
    return prev


# Queries whose dim joins were force-broadcast through r5 (VERDICT r5
# finding 1 site list) and are now AQE's call. One representative per
# formerly-hinted table: customer, part, supplier. The int is the number
# of BroadcastHashJoins that may legitimately SURVIVE threshold=-1 — the
# schema-bounded nation/region hints inside the query, nothing else.
_FORMERLY_HINTED = [
    ("q18_large_volume_orders", "relational", 0),  # customer
    ("q14_promo_revenue", "relational", 0),  # part
    ("q21_sole_returning_supplier", "relational", 0),  # supplier
    ("q9_product_profit", "tpch_extra", 1),  # part + supplier; 1 = nation hint
]


@pytest.mark.parametrize("qname,module,bounded_hints", _FORMERLY_HINTED)
def test_dehinted_joins_degrade_to_shuffle_at_scale(
    spark, sf_correct, qname, module, bounded_hints
):
    """With auto-broadcast off (a stand-in for 'the dim no longer fits'),
    the only BroadcastHashJoins that may remain are the schema-bounded
    nation/region hints: every linear-growth-table join must fall back to
    a shuffle join. A surplus BHJ means a hard hint regressed in."""
    from tutorial_iceberg_spark.registry import all_queries

    fn = all_queries()[qname].builder
    prev = _with_threshold(spark, "-1")
    try:
        plan = explain_str(fn(spark, sf_correct))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # the formatted explain prints each node once in the tree and once in
    # the detail section — count tree occurrences via the detail headers
    n_bhj = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
    assert n_bhj == bounded_hints, f"{qname}: hard hint regressed ({n_bhj} BHJ)"
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


@pytest.mark.parametrize("qname,module,bounded_hints", _FORMERLY_HINTED)
def test_dehinted_joins_still_broadcast_at_bench_scale(
    spark, sf_correct, qname, module, bounded_hints
):
    """At the default threshold the same queries must still plan
    BroadcastHashJoin on the small dim side — dropping the hints costs
    nothing at sf0.01/sf0.1 because size estimates pick the same plan."""
    from tutorial_iceberg_spark.registry import all_queries

    fn = all_queries()[qname].builder
    plan = explain_str(fn(spark, sf_correct))
    assert "BroadcastHashJoin" in plan, f"{qname}: expected stats-chosen BHJ"


def test_bounded_dim_hints_survive_threshold_off(spark, sf_correct):
    """nation/region keep their hard hints (schema-bounded): with the
    threshold off, j2_star must still broadcast those two sides while the
    de-hinted customer side degrades to a shuffle join."""
    from tutorial_iceberg_spark.operators import relational as R

    prev = _with_threshold(spark, "-1")
    try:
        plan = explain_str(R.j2_star_join_revenue(spark, sf_correct))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    n_bhj = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
    assert n_bhj == 2  # nation + region hints
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan  # customer


@pytest.mark.parametrize(
    "qname", ["x_dedup_minhash_lsh", "q11_important_parts", "q15_top_supplier"]
)
def test_builders_leave_no_cache_behind(spark, sf_correct, qname):
    """A builder returns a lazy frame, so nothing would ever unpersist a
    cache it registered: the entry outlives the call and every later
    identical plan reads it (a benchmark repeat then times a cache hit).
    After a run the session's cache manager must be empty."""
    from tutorial_iceberg_spark.registry import all_queries

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert all_queries()[qname].builder(spark, sf_correct).collect()
    assert cache_manager.isEmpty(), f"{qname} left a cached plan behind"


def _executed_nodes(df) -> list:
    """Every node of the executed (post-AQE) physical plan, descending
    into adaptive plans and query stages."""
    nodes, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        nodes.append(node)
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))
    return nodes


def _below_codegen(node):
    while node.getClass().getSimpleName() in (
        "WholeStageCodegenExec", "InputAdapter", "AQEShuffleReadExec"
    ):
        node = node.children().apply(0)
    return node


@pytest.mark.parametrize("qname", ["x_tfidf_terms", "x_keyword_extract"])
def test_term_census_is_partial_aggregated(spark, sf_correct, qname):
    """The df census over a natural-language key stays skew-safe: no
    materialized-RDD scan, no window partitioned by term (no map-side
    partial; a stopword's postings land in one task), and the exchange
    keyed on term alone carries map-side partial_count rows."""
    from tutorial_iceberg_spark.registry import all_queries

    df = all_queries()[qname].builder(spark, sf_correct)
    assert df.collect()
    nodes = _executed_nodes(df)
    kinds = {n.getClass().getSimpleName() for n in nodes}
    assert "RDDScanExec" not in kinds, f"{qname}: scans a materialized RDD"
    assert "LogicalRDD" not in df._jdf.queryExecution().optimizedPlan().toString()
    for n in nodes:
        if n.getClass().getSimpleName() == "WindowExec":
            spec = n.partitionSpec().toString()
            assert not re.search(r"\bterm#", spec), f"{qname}: Window by term"
    census = [
        _below_codegen(n.child())
        for n in nodes
        if n.getClass().getSimpleName() == "ShuffleExchangeExec"
        and re.fullmatch(r"hashpartitioning\(term#\d+, \d+\)",
                         n.outputPartitioning().toString())
    ]
    assert census, f"{qname}: no exchange keyed on term alone"
    for below in census:
        assert below.getClass().getSimpleName() == "HashAggregateExec"
        assert "partial_count" in below.toString(), below.toString()


@pytest.mark.parametrize("qname", ["x_tfidf_terms", "x_keyword_extract"])
def test_tf_splits_each_document_once(spark, sf_correct, qname):
    """doc_term_tf tokenizes each document once. With size() and explode()
    over the same split in one select, Catalyst carries ``text`` through
    the Generate and re-splits it in a Project above, once per exploded
    token (quadratic in document length). The executed plan must explode
    a token array computed below the Generate, with no Project above it
    reading ``text``, and no Filter splitting the text again (Catalyst
    infers one from an explode of a bare column and pushes it to the
    scan)."""
    from tutorial_iceberg_spark.registry import all_queries

    df = all_queries()[qname].builder(spark, sf_correct)
    assert df.collect()
    text = re.compile(r"\btext#\d+")
    generates = []

    def project_checks(node) -> bool:
        """Check the subtree; True when it holds a Generate (so a Project
        at this node is above one)."""
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            return project_checks(node.executedPlan())
        if kind.endswith("QueryStageExec"):
            return project_checks(node.plan())
        children = node.children()
        below = False
        for i in range(children.size()):
            below |= project_checks(children.apply(i))
        if kind == "ProjectExec" and below:
            assert not text.search(node.projectList().toString()), (
                f"{qname}: Project above a Generate reads text: {node}"
            )
        if kind == "FilterExec":
            assert "split(" not in node.condition().toString(), (
                f"{qname}: a Filter splits the text again: {node}"
            )
        if kind == "GenerateExec":
            generates.append(node)
        return below or kind == "GenerateExec"

    project_checks(df._jdf.queryExecution().executedPlan())
    assert generates, f"{qname}: no Generate in the executed plan"
    for g in generates:
        assert not text.search(g.child().output().toString()), (
            f"{qname}: the Generate carries text in its child output: {g}"
        )


# Schema policy for lakehouse reads: table metadata records the schema
# every data file was written with, and delete files have fixed or
# per-file schemas, so a lakehouse read passes its schema and never runs
# Spark's one-task schema-inference job. Keys: file -> {enclosing def:
# reason}; the source carries the same reason beside the call.
UNSCHEMATIZED_READS = {
    "lakehouse/table.py": {
        "_write_files": "pyarrow cannot parse the footer (VARIANT); this "
        "read counts the rows for the metadata entry being built",
    },
}


def _unschematized_parquet_reads(tree):
    """Yield the outermost enclosing def of every ``<x>.read.parquet(``
    call — a parquet read with no ``.schema(`` between ``read`` and
    ``parquet``."""

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            owner = fn
            if fn is None and isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                owner = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "parquet"
                and isinstance(child.func.value, ast.Attribute)
                and child.func.value.attr == "read"
            ):
                yield owner
            yield from walk(child, owner)

    yield from walk(tree, None)


def test_lakehouse_reads_pass_their_schema():
    found = set()
    for py in sorted((PKG / "lakehouse").rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        for fn in _unschematized_parquet_reads(ast.parse(py.read_text())):
            found.add((rel, fn))
    allowed = {(rel, fn) for rel, fns in UNSCHEMATIZED_READS.items() for fn in fns}
    assert not found - allowed, (
        "lakehouse parquet read(s) without .schema( — pass the schema the "
        "table metadata holds, or allowlist the site in "
        f"UNSCHEMATIZED_READS with its reason: {sorted(found - allowed)}"
    )
    assert not allowed - found, f"stale UNSCHEMATIZED_READS: {sorted(allowed - found)}"
