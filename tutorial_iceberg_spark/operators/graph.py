"""Graph-shaped dedup operators: similarity join + connected components.

The missing piece between pairwise near-dup detection (operators/dedup.py,
functions/vector.py) and an actual deduplicated corpus is *transitive
grouping*: if A~B and B~C, all three are one duplicate cluster and exactly
one representative survives. That is connected components over the
similarity graph — the SemDedup / NearDup pipeline shape:

    embeddings -> threshold similarity self-join (edges)
               -> connected components (clusters)
               -> keep min-id per cluster (canonical)

Spark-first design:

- The similarity join has two WIRED pair sources behind one contract
  (``cosine_edges(candidates=...)``): the exact all-pairs baseline
  (broadcast nested-loop over ``vec_id < vec_id``, bit-checkable against
  the DuckDB oracle) and the scale path — hyperplane-LSH band buckets
  self-joined on (band, key), i.e. plain shuffle equi-joins with no
  corpus broadcast and no BroadcastNestedLoopJoin (plan-gated). One
  router, ``lsh_route``, picks all-pairs under ALL_PAIRS_MAX_ROWS and
  LSH above it, for the kNN label audit too; the float64
  verification predicate and everything downstream is identical either
  way. A caller can also hand in any (left_id, right_id) pair frame
  (e.g. IVF probe output).
- Connected components is min-label propagation with pointer jumping
  (label <- min(neighbours' labels); label <- label(label)), which
  converges in O(log n) rounds, each round a pair of shuffle joins. This
  is the standard large-graph CC shape (cf. Kiveris et al., "Connected
  Components in MapReduce and Beyond" — the two-phase star operations are
  an equivalent optimization). Per-round state is one (node, label) row
  per node — far smaller than the corpus — and each round ends in a
  scratch-parquet barrier (see ``_barrier``) so the plan/lineage stays
  O(1) deep regardless of iteration count — the same durable-scratch
  checkpoint shape a cluster deployment uses for iterative state.

Reference parity: the reference has no graph operators (SURVEY.md §2.3
J4); this is §2.11 extension surface (north star), grouped with dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tutorial_iceberg_spark.functions.text import tokens
from tutorial_iceberg_spark.io import load_table
from tutorial_iceberg_spark.registry import register

# Edge threshold for the semantic-similarity graph. The synthetic
# embeddings are near-orthogonal (max pairwise cosine ~0.51), so a
# production-style 0.9 near-dup cut yields the empty graph; 0.40 produces
# a non-trivial component structure (chains and small clusters) that
# actually exercises transitive closure at every scale factor.
COSINE_EDGE_THRESHOLD = 0.40

_O_DOT = (
    "list_aggregate(list_transform(list_zip({a}, {b}), "
    "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')"
)

_O_EDGES = f"""
    WITH n AS (
        SELECT vec_id, embedding,
               sqrt({_O_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings
    ), e AS (
        SELECT a.vec_id AS left_id, b.vec_id AS right_id,
               {_O_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm) AS cosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id
    )
"""


# Above this row count "auto" switches cosine_edges from the exact
# all-pairs baseline to the LSH-bucketed candidate path. The bound is a
# TIME bound, not just a broadcast-size bound: the exact cosine is an
# interpreted sequential float64 fold (the price of oracle bit-parity),
# ~10 us/pair, so 10k vectors = 5e7 pairs = minutes of single-node work —
# the most that the exact baseline should ever burn. Every test SF
# (<= 2k vectors) stays on the exact path; beyond the bound the banded
# LSH equi-join path takes over with recall as the tunable dial.
ALL_PAIRS_MAX_ROWS = 10_000


def lsh_route(
    spark: SparkSession,
    sf_dir: str,
    candidates: str,
    sim_threshold: float,
    max_candidates_per_vec: int = 8192,
) -> tuple[DataFrame, bool] | None:
    """The one candidate-routing policy of every embedding-pair consumer
    (cosine_edges, vector.x_knn_classify_loo). Returns None for the
    exact all-pairs baseline (the caller's own join), else ``(pairs,
    pin)``: the (left_id < right_id) LSH candidate frame and whether the
    caller may pin its embedding verification sides broadcast.

    - ``"lsh"`` — FIXED_LSH_SIZING, the fixed-constant opt-out.
    - ``"lsh_auto"`` — lsh_auto_size at ``sim_threshold`` within
      ``max_candidates_per_vec`` background candidates per vector.
    - ``"auto"`` — all-pairs when the table is under ALL_PAIRS_MAX_ROWS,
      else ``"lsh_auto"``, whose recall is measured FLAT across density
      (0.891/0.880/0.891 at 1x/10x/30x, probes/r11) where the fixed
      constants, which do not grow with density, drift 0.998 -> 0.678
      -> 0.494.
    """
    from tutorial_iceberg_spark.functions.vector import (
        FIXED_LSH_SIZING,
        embedding_broadcast_affordable,
        lsh_auto_size,
        lsh_candidate_pairs,
    )
    from tutorial_iceberg_spark.sources.parquet_meta import footer_row_count

    # parquet footer row count: driver-side metadata read, no Spark job
    n = footer_row_count(sf_dir, "embeddings")
    if candidates == "auto":
        candidates = "all_pairs" if n <= ALL_PAIRS_MAX_ROWS else "lsh_auto"
    if candidates == "all_pairs":
        return None
    if candidates == "lsh":
        sizing = FIXED_LSH_SIZING
    elif candidates == "lsh_auto":
        sizing = lsh_auto_size(
            n,
            sim_threshold=sim_threshold,
            max_candidates_per_vec=max_candidates_per_vec,
        )
    else:
        raise ValueError(f"unknown candidate source: {candidates!r}")
    emb = load_table(spark, sf_dir, "embeddings")
    dim = emb.select(F.size("embedding")).first()[0]
    pairs = lsh_candidate_pairs(emb, dim, sizing=sizing)
    # The candidate stream is large relative to the corpus (the sized
    # budget admits up to ~max_candidates_per_vec per vector). Letting it
    # SHUFFLE into sort-merge verification joins sorts candidate rows
    # widened by embedding arrays — the 30x probe measured that spill
    # exceeding local disk. Pinning the embedding sides broadcast lets the
    # stream verify inside one codegen stage and never shuffle — gated on
    # ESTIMATED BYTES (n x ~4*dim), not a row cap: embedding rows are
    # dim-dependent, and 500k x 768-dim float is ~1.5 GB per pinned side
    # (ADVICE r11 medium). Above the budget the joins are left to AQE's
    # shuffle planning.
    return pairs, embedding_broadcast_affordable(n, dim)


def cosine_edges(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = COSINE_EDGE_THRESHOLD,
    candidates: DataFrame | str = "auto",
) -> DataFrame:
    """All (left_id < right_id) embedding pairs with cosine >= threshold.

    ``candidates`` selects the pair generator; the exact float64 cosine
    verification (zip_with + aggregate fold, bit-identical to the DuckDB
    oracle) and the output contract (left_id, right_id, cosine) are the
    fixed interface regardless of source:

    - ``"all_pairs"`` — exact O(n^2) baseline: one side broadcast, nested
      loop with the cosine predicate filtering inside the join. Only sound
      while one side fits the driver; this is the oracle-checkable form.
    - ``"lsh"`` / ``"lsh_auto"`` / ``"auto"`` — resolved by
      :func:`lsh_route` (``"auto"`` is all-pairs under
      ALL_PAIRS_MAX_ROWS, else ``"lsh_auto"`` sized at ``threshold``).
      The scale path: hyperplane-LSH band buckets self-joined on (band,
      key) — plain shuffle equi-joins, NO BroadcastNestedLoopJoin and no
      corpus broadcast in the candidate build (plan-gated in
      tests/test_graph.py) — then exact cosine verification on
      candidates only, with the embedding sides pinned broadcast when
      they fit the bytes budget. Recall is the LSH band-parameter dial;
      candidate-set coverage of every true edge on the testdata is
      pytest-gated.
    - a DataFrame of (left_id, right_id) — caller-supplied pairs (e.g. the
      IVF prober in functions/vector.py); verified the same way.
    """
    from tutorial_iceberg_spark.functions.vector import dot, norm

    pin = False
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    if isinstance(candidates, str):
        route = lsh_route(spark, sf_dir, candidates, threshold)
        if route is None:
            a, b = emb.alias("a"), emb.alias("b")
            cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (
                F.col("a.nrm") * F.col("b.nrm")
            )
            return (
                a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id"))
                .select(
                    F.col("a.vec_id").alias("left_id"),
                    F.col("b.vec_id").alias("right_id"),
                    cos.alias("cosine"),
                )
                .filter(F.col("cosine") >= threshold)
            )
        candidates, pin = route

    # candidate-fed path: equi-join the pair list back to the embeddings
    # (both joins are key-partitioned shuffles — broadcast is AQE's call
    # unless lsh_route allowed the pin), then the same exact verification
    # predicate as the baseline
    left = emb.select(
        F.col("vec_id").alias("left_id"),
        F.col("embedding").alias("l_emb"),
        F.col("nrm").alias("l_nrm"),
    )
    right = emb.select(
        F.col("vec_id").alias("right_id"),
        F.col("embedding").alias("r_emb"),
        F.col("nrm").alias("r_nrm"),
    )
    if pin:
        left, right = F.broadcast(left), F.broadcast(right)
    cos = dot(F.col("l_emb"), F.col("r_emb")) / (F.col("l_nrm") * F.col("r_nrm"))
    return (
        candidates.join(left, "left_id")
        .join(right, "right_id")
        .select("left_id", "right_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


@register(
    "x_sim_join_threshold",
    oracle=f"""
        {_O_EDGES}
        SELECT left_id, right_id, cosine
        FROM e
        WHERE cosine >= {COSINE_EDGE_THRESHOLD}
        ORDER BY left_id, right_id
    """,
    doc="Threshold similarity self-join over embeddings (bit-exact float64 "
    "cosine): the edge generator for semantic dedup. Pair source is "
    "auto-selected: exact all-pairs baseline at oracle scale, LSH "
    "band-bucket equi-join candidates above ALL_PAIRS_MAX_ROWS (same "
    "verification predicate; candidate coverage pytest-gated)",
    tags=("vector", "dedup", "extension"),
)
def x_sim_join_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_edges(spark, sf_dir).orderBy("left_id", "right_id")


@register(
    "x_sim_join_lsh_auto",
    oracle=None,  # probabilistic candidate recall: rows-only driver check;
    # recall floor, true-edge-subset, and flat-across-density are
    # pytest-gated (tests/test_vector.py) and probe-measured at 10x/30x
    doc="Threshold similarity self-join forced onto the AUTO-SIZED LSH "
    "candidate path (lsh_auto_size: bits_per_band from a footer-count "
    "census so expected bucket density stays under the cap, bands from "
    "the 0.85 recall floor at the join threshold). The fixed-constant "
    "path's constants do not grow with density, so its measured recall "
    "drifts (0.678 @ 10x -> 0.494 @ 30x); this twin is the "
    "deployment-facing configuration whose recall holds roughly flat "
    "(SCALE_PROBE.md r11)",
    tags=("vector", "dedup", "extension", "ann"),
)
def x_sim_join_lsh_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_edges(spark, sf_dir, candidates="lsh_auto").orderBy(
        "left_id", "right_id"
    )


# ---------------------------------------------------------------------------
# Connected components
# ---------------------------------------------------------------------------

# Each round compresses label chains 2^JUMPS_PER_ROUND-fold (pointer
# jumps composed in one plan, below), so MAX_CC_ROUNDS rounds cover a
# component diameter ~2^(rounds * jumps / 2) — astronomically past any
# similarity graph a threshold join produces (the 2001-node worst-case
# chain in tests/test_graph.py converges in a handful of rounds).
MAX_CC_ROUNDS = 16
JUMPS_PER_ROUND = 3


def _barrier(df: DataFrame, path: str) -> DataFrame:
    """Materialize ``df`` to scratch parquet and read it back: a hard
    plan/lineage/job barrier for iterative state. ``localCheckpoint`` is
    deliberately NOT used for deep iteration: repeated checkpoint
    generations degrade super-linearly in this container's Spark 4.1 —
    a minimal join->localCheckpoint->unpersist loop on a constant
    20k-row frame measured 0.2 s/step through generation ~16 and then
    ~2.7x growth per step (110 s by generation 24) with the executed
    plan provably constant-size. A parquet roundtrip is flat (~0.4
    s/step, same loop) and is exactly what a cluster deployment does for
    iterative state anyway: durable scratch storage, restartable rounds.

    ``path`` comes from ``tutorial_iceberg_spark.scratch`` — on a
    multi-node cluster set ``TIS_SCRATCH_DIR`` to a SHARED filesystem
    (HDFS/NFS/object-store mount); a driver-local tmpdir only works on
    ``local[*]`` where all executor threads share the node.
    """
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Min-label-propagation CC: (id) x (src, dst) -> (id, component).

    ``nodes`` must have one ``id`` column covering every vertex (isolated
    vertices allowed); ``edges`` is directed (src, dst) and is symmetrized
    here. Each round: every node takes the min label over itself and its
    neighbours, then labels compress JUMPS_PER_ROUND pointer hops
    (label <- label's label, composed lazily). Convergence check: labels
    only ever DECREASE, so the label total is strictly monotone — a round
    is a no-op iff sum(comp) is unchanged. That makes the per-round check
    ONE aggregation scan over the O(nodes) materialized state (decimal
    accumulator, overflow-proof at any node count) instead of a
    join-based diff job. Per-round state lives in scratch parquet (see
    _barrier); intermediate rounds are deleted as soon as the next round
    is materialized, so scratch usage is O(nodes + edges).
    """
    import shutil as _shutil

    from tutorial_iceberg_spark import scratch as _scratch

    scratch = _scratch.mkdtemp(prefix="tis_cc_")
    sym = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    sym = _barrier(
        sym.unionByName(
            sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ),
        # Materialize the symmetrized edge list once: every propagation
        # round joins it, and an expensive upstream edge generator (the
        # cosine similarity join) would otherwise re-run per round.
        f"{scratch}/edges",
    )
    labels = _barrier(
        nodes.select(
            F.col("id").cast("long").alias("id"),
            F.col("id").cast("long").alias("comp"),
        ),
        f"{scratch}/labels_init",
    )
    _sum = F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
    prev_total = labels.agg(_sum).first()["s"]

    try:
        labels = _cc_rounds(sym, labels, scratch, _sum, prev_total)
    except BaseException:
        # error path (non-convergence, task failure, interrupt): nothing
        # downstream references the scratch — remove it all before
        # re-raising instead of leaking edges + every label generation
        # (round-9 ADVICE low, graph.py error path).
        _shutil.rmtree(scratch, ignore_errors=True)
        raise
    # edge lists + initial labels are no longer referenced by the
    # returned frame and are deleted inside _cc_rounds; the final round's
    # labels parquet must outlive the call (the returned DataFrame reads
    # it), so it is handed to the scratch reaper — removed at process
    # exit, or earlier if a long-lived session calls scratch.reap() once
    # results are collected (round-8 verdict low #b: no unbounded
    # accumulation across many CC calls).
    _scratch.defer_cleanup(scratch)
    return labels


def _cc_rounds(sym, labels, scratch, _sum, prev_total):
    """The propagation/contraction loop of connected_components.

    Split out so the caller can wrap the whole iterative phase in one
    error-path cleanup; semantics documented on connected_components.
    """
    import shutil as _shutil

    last_path = None
    for rnd in range(MAX_CC_ROUNDS):
        # neighbour min: each edge forwards the src label to dst
        msgs = (
            sym.join(labels, sym.src == labels.id)
            .select(F.col("dst").alias("id"), "comp")
        )
        new = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer jumping, JUMPS_PER_ROUND deep: comp <- comp(comp) only
        # ever lowers labels and preserves membership, and each jump
        # halves surviving label-chain depth, so a round compresses
        # chains 2^J-fold while the neighbour-min step extends reach one
        # hop — O(log diameter) rounds overall. A single jump per round
        # compounds distance only ~1.6x/round, and the round-8 scale
        # probe caught exactly that: the bucket-capped (sparser) 10x
        # similarity graph built label chains a 12-round single-jump loop
        # could not chase. The J jumps are composed LAZILY into one plan
        # (2^J scans of the round's parquet state — bounded, one job);
        # the whole round body is exactly one barriered job + one
        # aggregation scan.
        for j in range(JUMPS_PER_ROUND):
            x, y = new.alias(f"jx{j}"), new.alias(f"jy{j}")
            new = x.join(
                y, F.col(f"jx{j}.comp") == F.col(f"jy{j}.id"), "left"
            ).select(
                F.col(f"jx{j}.id").alias("id"),
                F.coalesce(
                    F.col(f"jy{j}.comp"), F.col(f"jx{j}.comp")
                ).alias("comp"),
            )
        path = f"{scratch}/labels_{rnd}"
        new = _barrier(new, path)
        total = new.agg(_sum).first()["s"]
        if last_path:
            _shutil.rmtree(last_path, ignore_errors=True)
        last_path = path
        labels = new
        if total == prev_total:
            break
        prev_total = total
        # CONTRACT: rewrite the edge list onto the current representatives
        # and drop self-loops/duplicates. This is what makes the round
        # count O(log diameter): without it the min label walks the
        # ORIGINAL graph one edge-hop per round (pointer jumps compress
        # the label forest, not graph distance), which the round-8 10x
        # probe caught — the bucket-capped similarity graph has
        # diameter > 35 and blew the round budget. With contraction a
        # path of super-nodes at least halves every round, and the edge
        # frame (usually the big side) SHRINKS as components merge.
        e_l = labels.select(F.col("id").alias("src"), F.col("comp").alias("csrc"))
        e_r = labels.select(F.col("id").alias("dst"), F.col("comp").alias("cdst"))
        contracted = (
            sym.join(e_l, "src")
            .join(e_r, "dst")
            .select(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        epath = f"{scratch}/edges_{rnd}"
        sym = _barrier(contracted, epath)
        if rnd > 0:
            _shutil.rmtree(f"{scratch}/edges_{rnd - 1}", ignore_errors=True)
    else:
        raise RuntimeError(f"CC did not converge in {MAX_CC_ROUNDS} rounds")
    # Intermediate state cleanup: only the final round's labels parquet
    # stays (the returned DataFrame reads it; the caller defers it to
    # the scratch reaper).
    import glob as _glob

    for d in _glob.glob(f"{scratch}/edges*") + [f"{scratch}/labels_init"]:
        _shutil.rmtree(d, ignore_errors=True)
    return labels


@register(
    "x_dedup_semantic_cc",
    oracle=f"""
        WITH RECURSIVE n AS (
            SELECT vec_id, embedding,
                   sqrt({_O_DOT.format(a='embedding', b='embedding')}) AS nrm
            FROM embeddings
        ), e AS (
            SELECT a.vec_id AS left_id, b.vec_id AS right_id
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE {_O_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm)
                  >= {COSINE_EDGE_THRESHOLD}
        ), sym AS (
            SELECT left_id AS src, right_id AS dst FROM e
            UNION ALL
            SELECT right_id, left_id FROM e
        ), reach(node, label) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.node
        )
        SELECT node AS vec_id,
               MIN(label) AS component,
               CASE WHEN node = MIN(label) THEN 1 ELSE 0 END AS is_canonical
        FROM reach
        GROUP BY node
        ORDER BY vec_id
    """,
    doc="Semantic-dedup clustering: connected components over the cosine "
    "similarity graph via min-label propagation + pointer jumping "
    "(O(log n) rounds, O(nodes) state/round). Canonical = min vec_id per "
    "component — the SemDedup 'which duplicate survives' step. Oracle is "
    "a DuckDB recursive-CTE transitive closure",
    tags=("dedup", "vector", "graph", "extension"),
)
def x_dedup_semantic_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nodes = emb.select(F.col("vec_id").alias("id"))
    edges = cosine_edges(spark, sf_dir).select(
        F.col("left_id").alias("src"), F.col("right_id").alias("dst")
    )
    labels = connected_components(nodes, edges)
    return labels.select(
        F.col("id").alias("vec_id"),
        F.col("comp").alias("component"),
        F.when(F.col("id") == F.col("comp"), 1).otherwise(0).alias("is_canonical"),
    ).orderBy("vec_id")


@register(
    "x_dedup_cluster_sizes",
    oracle=f"""
        WITH RECURSIVE n AS (
            SELECT vec_id, embedding,
                   sqrt({_O_DOT.format(a='embedding', b='embedding')}) AS nrm
            FROM embeddings
        ), e AS (
            SELECT a.vec_id AS left_id, b.vec_id AS right_id
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE {_O_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm)
                  >= {COSINE_EDGE_THRESHOLD}
        ), sym AS (
            SELECT left_id AS src, right_id AS dst FROM e
            UNION ALL
            SELECT right_id, left_id FROM e
        ), reach(node, label) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.node
        ), comp AS (
            SELECT node, MIN(label) AS component FROM reach GROUP BY node
        ), sizes AS (
            SELECT component, COUNT(*) AS csize FROM comp GROUP BY component
        )
        SELECT csize AS cluster_size,
               COUNT(*) AS n_clusters,
               CAST(SUM(csize) AS BIGINT) AS n_docs,
               CAST(SUM(csize - 1) AS BIGINT) AS n_removable
        FROM sizes GROUP BY csize ORDER BY csize
    """,
    doc="Near-dup cluster-size census — the dedup REPORT a corpus release "
    "ships: for each connected-component size, how many clusters exist, "
    "how many docs they hold, and how many would be removed keeping one "
    "canonical per cluster (size-1 each). Reuses the CC labels "
    "(connected_components over cosine_edges) plus two tiny aggregates; "
    "the duplication tail (a handful of giant clusters vs a sea of "
    "singletons) is exactly what this histogram surfaces",
    tags=("dedup", "graph", "audit", "extension"),
)
def x_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nodes = emb.select(F.col("vec_id").alias("id"))
    edges = cosine_edges(spark, sf_dir).select(
        F.col("left_id").alias("src"), F.col("right_id").alias("dst")
    )
    labels = connected_components(nodes, edges)
    sizes = labels.groupBy("comp").agg(F.count("*").alias("csize"))
    return (
        sizes.groupBy(F.col("csize").alias("cluster_size"))
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("csize").cast("bigint").alias("n_docs"),
            F.sum(F.col("csize") - 1).cast("bigint").alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


@register(
    "x_semantic_dedup_corpus",
    oracle=f"""
        WITH RECURSIVE n AS (
            SELECT vec_id, embedding,
                   sqrt({_O_DOT.format(a='embedding', b='embedding')}) AS nrm
            FROM embeddings
        ), e AS (
            SELECT a.vec_id AS left_id, b.vec_id AS right_id
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE {_O_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm)
                  >= {{thr}}
        ), sym AS (
            SELECT left_id AS src, right_id AS dst FROM e
            UNION ALL
            SELECT right_id, left_id FROM e
        ), reach(node, label) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.node
        ), comp AS (
            SELECT node AS vec_id, MIN(label) AS component
            FROM reach GROUP BY node
        )
        SELECT d.lang,
               COUNT(*) AS docs,
               CAST(SUM(CASE WHEN c.vec_id = c.component THEN 1 ELSE 0 END)
                   AS BIGINT) AS kept_docs,
               CAST(SUM(CASE WHEN c.vec_id = c.component THEN 0 ELSE 1 END)
                   AS BIGINT) AS dropped_docs,
               CAST(SUM(CASE WHEN c.vec_id = c.component
                        THEN len(string_split_regex(trim(d.text), '\\s+'))
                        ELSE 0 END) AS BIGINT) AS kept_tokens
        FROM documents d JOIN comp c ON d.doc_id = c.vec_id
        GROUP BY d.lang
        ORDER BY d.lang
    """.replace("{thr}", str(COSINE_EDGE_THRESHOLD)),
    doc="End-to-end SemDedup corpus pass: cosine similarity graph -> "
    "connected components -> keep the min-id canonical per cluster -> "
    "join the keep-list back to the documents table (doc_id == vec_id in "
    "the testdata) and account kept/dropped docs and surviving tokens "
    "per language. This is the full 'near-duplicate clusters collapse to "
    "one survivor' training-data flow, composed from the wired candidate "
    "generator (all-pairs baseline under ALL_PAIRS_MAX_ROWS, LSH buckets "
    "above), the O(log n)-round CC, and one equi-join against the corpus "
    "— the keep-list is O(docs) and joins on the table key, no broadcast "
    "of anything corpus-sized. Oracle: DuckDB recursive-CTE transitive "
    "closure joined to documents",
    tags=("dedup", "vector", "graph", "pipeline", "extension"),
)
def x_semantic_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    nodes = emb.select(F.col("vec_id").alias("id"))
    edges = cosine_edges(spark, sf_dir).select(
        F.col("left_id").alias("src"), F.col("right_id").alias("dst")
    )
    comp = connected_components(nodes, edges).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )
    keep = F.col("doc_id") == F.col("component")
    ntok = F.size(tokens())
    return (
        docs.join(comp, "doc_id")
        .select("lang", keep.alias("keep"), ntok.alias("ntok"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept_docs"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("dropped_docs"),
            F.sum(F.when(F.col("keep"), F.col("ntok")).otherwise(0)).alias(
                "kept_tokens"
            ),
        )
        .orderBy("lang")
    )


PR_DAMPING = 0.85
PR_ITERS = 10


def pagerank(nodes: DataFrame, edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Power-iteration PageRank: (id) x (src, dst) -> (id, rank).

    Each round is one edges|x|ranks equi-join + one groupBy(dst) sum —
    the canonical distributed PageRank shape. Dangling-node mass (nodes
    with no out-edges) and the teleport term need the GLOBAL rank mass,
    which is a 1-row aggregate broadcast back in — never a driver loop
    over vertices. State per round is one (id, rank) row per node,
    localCheckpoint-ed so lineage stays O(1) deep (durable checkpoint on
    a real cluster). Ranks sum to 1 every round (pytest-gated)."""
    n_row = nodes.count()  # scalar, one job
    # Materialize the edge list once: every iteration joins against it,
    # and an expensive upstream generator (the cosine similarity join)
    # would otherwise re-run per round — 10 rounds re-scoring the corpus.
    # O(edges) executor-local blocks; durable checkpoint on a cluster.
    edges = edges.localCheckpoint(eager=True)
    # joined by every round: computed once
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("deg")
    ).localCheckpoint(eager=True)
    # round-0 state; every round's state is checkpointed (loop below)
    ranks = nodes.select("id", F.lit(1.0 / n_row).alias("rank")).localCheckpoint(
        eager=True
    )
    for _ in range(iters):
        with_deg = ranks.join(out_deg, "id", "left")
        # contribution flow along edges from non-dangling nodes
        contrib = (
            edges.join(
                with_deg.filter(F.col("deg").isNotNull()).select(
                    F.col("id").alias("src"),
                    (F.col("rank") / F.col("deg")).alias("share"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("share").alias("inflow"))
        )
        # dangling mass: rank stuck on nodes without out-edges
        dangling = (
            with_deg.filter(F.col("deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        base = (1.0 - PR_DAMPING) / n_row
        new = (
            nodes.join(contrib, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit(base)
                    + F.lit(PR_DAMPING)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("dm") / n_row
                    )
                ).alias("rank"),
            )
            # localCheckpoint is safe HERE because the generation count
            # is bounded by PR_ITERS=10 (plus 3 setup checkpoints) per
            # call — under the ~16-generation cliff where repeated local
            # checkpointing starts degrading super-linearly in this
            # Spark build (measured in _barrier's docstring). Anything
            # iterating deeper must use the scratch-parquet _barrier,
            # as connected_components does.
            .localCheckpoint(eager=True)
        )
        ranks.unpersist()
        ranks = new
    return ranks


@register(
    "x_pagerank_sim",
    oracle=None,  # iterative float power method: rows-only driver check;
    # pytest gates mass conservation, uniform-graph fixpoint, and
    # hub-dominance on a constructed star graph.
    doc=f"PageRank over the semantic-similarity graph ({PR_ITERS} power "
    f"iterations, damping {PR_DAMPING}): ranks duplicate-cluster hubs — "
    "the 'most representative' documents — directly from the same edge "
    "feed the SemDedup pass uses. Per-round cost is one equi-join + one "
    "hash agg over O(edges); global terms (dangling mass) travel as a "
    "1-row broadcast; per-round state is one row per node, checkpointed",
    tags=("graph", "vector", "extension"),
)
def x_pagerank_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nodes = emb.select(F.col("vec_id").alias("id"))
    e = cosine_edges(spark, sf_dir)
    edges = e.select(F.col("left_id").alias("src"), F.col("right_id").alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return (
        pagerank(nodes, edges)
        .select(F.col("id").alias("vec_id"), "rank")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Triangle counting / local clustering coefficient
# ---------------------------------------------------------------------------

# Looser threshold than the dedup edge cut: triangles need transitive
# near-duplicate structure, and at 0.40 the synthetic embeddings yield a
# near-forest (0-7 triangles). 0.30 produces 53/71/3548 triangles at
# sf0.001/0.01/0.1 — non-degenerate at every scale factor.
TRIANGLE_THRESHOLD = 0.30


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient.

    ``edges`` is an oriented (left_id < right_id) undirected edge list.
    Enumeration is the canonical two-join shape: wedges (a<b<c from
    a-b joined b-c) closed by probing the a-c edge — every join a plain
    shuffle equi-join over O(edges), no broadcast of the corpus. The id
    orientation bounds each wedge fan-out by forward-degree; on a skewed
    power-law graph the standard refinement is degree orientation
    (orient toward the higher-degree endpoint, making fan-out O(sqrt(E))
    per node) — same joins, different orientation key, noted here because
    the synthetic similarity graph is near-uniform and does not need it.

    Output: (vec_id, degree, triangles, clustering) for every node with
    degree >= 1; clustering = 2T / (deg * (deg - 1)) — exact integer
    products under an IEEE double divide, bit-identical across engines.

    Reference parity: reference has no graph surface (SURVEY §2.11
    extension, grouped with the dedup/graph operators).
    """
    # The edge feed (a similarity self-join) backs THREE self-joins plus
    # the degree aggregation — materialize once: sf0.01 x_triangle_count,
    # 10 A/B pairs, 2.33 s vs 4.33 s plain (slower in 10 of 10).
    e = edges.select("left_id", "right_id").localCheckpoint(eager=True)
    wedge = (
        e.select(F.col("left_id").alias("a"), F.col("right_id").alias("b"))
        .join(
            e.select(F.col("left_id").alias("b"), F.col("right_id").alias("c")),
            "b",
        )
    )
    tri = wedge.join(
        e.select(F.col("left_id").alias("a"), F.col("right_id").alias("c")),
        ["a", "c"],
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("vec_id"))
        .groupBy("vec_id")
        .agg(F.count("*").alias("triangles"))
    )
    deg = (
        e.select(F.col("left_id").alias("vec_id"))
        .unionByName(e.select(F.col("right_id").alias("vec_id")))
        .groupBy("vec_id")
        .agg(F.count("*").alias("degree"))
    )
    return deg.join(per_node, "vec_id", "left").select(
        "vec_id",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0).cast("long")).alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            (F.lit(2) * F.coalesce(F.col("triangles"), F.lit(0))).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


@register(
    "x_triangle_count",
    oracle=f"""
        WITH n AS (
            SELECT vec_id, embedding,
                   sqrt({_O_DOT.format(a='embedding', b='embedding')}) AS nrm
            FROM embeddings
        ), e AS (
            SELECT a.vec_id AS l, b.vec_id AS r
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE {_O_DOT.format(a='a.embedding', b='b.embedding')}
                  / (a.nrm * b.nrm) >= {TRIANGLE_THRESHOLD}
        ), tri AS (
            SELECT e1.l AS a, e1.r AS b, e2.r AS c
            FROM e e1
            JOIN e e2 ON e2.l = e1.r
            JOIN e e3 ON e3.l = e1.l AND e3.r = e2.r
        ), tcnt AS (
            SELECT id AS vec_id, count(*) AS triangles FROM (
                SELECT a AS id FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            ) GROUP BY id
        ), deg AS (
            SELECT id AS vec_id, count(*) AS degree FROM (
                SELECT l AS id FROM e UNION ALL SELECT r FROM e
            ) GROUP BY id
        )
        SELECT d.vec_id, d.degree,
               COALESCE(t.triangles, 0) AS triangles,
               CASE WHEN d.degree >= 2
                    THEN CAST(2 * COALESCE(t.triangles, 0) AS DOUBLE)
                         / CAST(d.degree * (d.degree - 1) AS DOUBLE)
                    ELSE 0.0 END AS clustering
        FROM deg d LEFT JOIN tcnt t ON t.vec_id = d.vec_id
        ORDER BY d.vec_id
    """,
    doc="Triangle counting + local clustering coefficient over the "
    "semantic-similarity graph: measures how clique-like each near-dup "
    "neighbourhood is (chains dedup differently from cliques). Two "
    "shuffle equi-joins over the oriented edge list (wedge build + "
    "closure probe), edge feed materialized once; bit-exact vs the "
    "DuckDB 3-way-join oracle",
    tags=("graph", "vector", "extension"),
)
def x_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = cosine_edges(spark, sf_dir, threshold=TRIANGLE_THRESHOLD)
    return triangle_counts(edges).orderBy("vec_id")
