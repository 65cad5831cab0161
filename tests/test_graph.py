"""Connected-components + similarity-join tests: the distributed CC result
must equal a driver-side union-find over the same edge set, on both the
real similarity graph and synthetic worst-case shapes (long chains, which
stress the O(log n) pointer-jumping convergence)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tutorial_iceberg_spark.operators import graph as G
from tutorial_iceberg_spark.plans.explain import explain_str


def union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min id per component: run find to full compression, then
    # map every root to the min member
    comp_members: dict[int, list[int]] = {}
    for n in nodes:
        comp_members.setdefault(find(n), []).append(n)
    out = {}
    for members in comp_members.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def test_cc_matches_union_find_on_real_graph(spark, sf_dir):
    edges_df = G.cosine_edges(spark, sf_dir).select("left_id", "right_id")
    edges = [(r.left_id, r.right_id) for r in edges_df.collect()]
    nodes = [
        r.vec_id
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id")
        .collect()
    ]
    assert edges, "threshold should produce a non-trivial graph"
    expected = union_find(nodes, edges)
    got = {
        r.vec_id: r.component
        for r in G.x_dedup_semantic_cc(spark, sf_dir).collect()
    }
    assert got == expected


@pytest.mark.parametrize(
    "edges,n",
    [
        ([(i, i + 1) for i in range(30)], 31),  # one long chain
        ([(0, 1), (2, 3), (3, 4), (10, 11)], 12),  # islands + singletons
        ([], 5),  # no edges: all singletons
        ([(0, 1), (1, 2), (2, 0)], 3),  # cycle
        # REVERSED long chain (worst case for min-label travel: the min
        # id sits at the far end of every propagation step) — the round-8
        # scale-probe regression: a sparser bucket-capped 10x graph built
        # chains a single-jump-per-round loop could not chase in 12
        # rounds. Needs the full per-round path compression to converge.
        ([(i + 1, i) for i in range(2000)], 2001),
    ],
)
def test_cc_synthetic_shapes(spark, edges, n):
    nodes_df = spark.range(n).select(F.col("id"))
    edges_df = spark.createDataFrame(
        edges or [(None, None)], "src long, dst long"
    ).filter(F.col("src").isNotNull())
    labels = G.connected_components(nodes_df, edges_df)
    got = {r.id: r.comp for r in labels.collect()}
    assert got == union_find(list(range(n)), edges)


def test_sim_join_symmetric_bounds(spark, sf_dir):
    rows = G.x_sim_join_threshold(spark, sf_dir).collect()
    assert all(r.left_id < r.right_id for r in rows)
    assert all(G.COSINE_EDGE_THRESHOLD <= r.cosine <= 1.0 + 1e-9 for r in rows)


# ---------------------------------------------------------------------------
# Candidate-fed scale path (VERDICT r5 finding 2)
# ---------------------------------------------------------------------------


def test_lsh_candidate_edges_equal_all_pairs_edges(spark):
    """The LSH candidate generator must cover every true edge on the
    testdata: after exact verification, candidate-fed edges == all-pairs
    edges (bit-exact cosines included). Coverage is a seeded-deterministic
    property of the 16x2-bit band parameters at this threshold; a miss
    here means the band dial regressed."""
    sf = "/root/testdata/sf0.01"
    exact = {
        (r.left_id, r.right_id): r.cosine
        for r in G.cosine_edges(spark, sf, candidates="all_pairs").collect()
    }
    lsh = {
        (r.left_id, r.right_id): r.cosine
        for r in G.cosine_edges(spark, sf, candidates="lsh").collect()
    }
    assert exact, "threshold should produce a non-trivial graph"
    assert lsh == exact


def test_lsh_candidate_path_has_no_nested_loop_join(spark, sf_dir):
    """Scale-path plan gate: the candidate route must be pure equi-joins —
    no BroadcastNestedLoopJoin and no CartesianProduct (the embedding
    verification sides may still pin broadcast under lsh_route's bytes
    budget)."""
    df = G.cosine_edges(spark, sf_dir, candidates="lsh")
    plan = explain_str(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_caller_supplied_candidate_pairs(spark, sf_dir):
    """A caller-provided (left_id, right_id) frame is verified through the
    same predicate: feeding the true edge pairs back in reproduces exactly
    those edges."""
    truth = G.cosine_edges(spark, sf_dir, candidates="all_pairs").select(
        "left_id", "right_id"
    )
    out = G.cosine_edges(spark, sf_dir, candidates=truth).collect()
    assert {(r.left_id, r.right_id) for r in out} == {
        (r.left_id, r.right_id) for r in truth.collect()
    }


def test_auto_picks_all_pairs_below_cutoff(spark, sf_dir):
    """testdata is far under ALL_PAIRS_MAX_ROWS, so auto == all_pairs —
    keeping the driver's oracle comparison on the exact baseline."""
    auto = G.cosine_edges(spark, sf_dir).collect()
    exact = G.cosine_edges(spark, sf_dir, candidates="all_pairs").collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, exact))


def test_auto_picks_lsh_auto_above_cutoff(spark, sf_dir, monkeypatch):
    """r11 verdict Next #1: above ALL_PAIRS_MAX_ROWS the deployment
    default is the AUTO-SIZED generator (recall measured flat across
    density), not the fixed-constant one. Forced here by dropping the
    cutoff under the fixture's row count: the auto route must produce a
    verified SUBSET of the truth with the sized path's recall."""
    monkeypatch.setattr(G, "ALL_PAIRS_MAX_ROWS", 1)
    truth = {
        (r.left_id, r.right_id)
        for r in G.cosine_edges(spark, sf_dir, candidates="all_pairs").collect()
    }
    routed = {
        (r.left_id, r.right_id)
        for r in G.cosine_edges(spark, sf_dir).collect()
    }
    sized = {
        (r.left_id, r.right_id)
        for r in G.cosine_edges(spark, sf_dir, candidates="lsh_auto").collect()
    }
    assert routed == sized  # the route IS the auto-sized generator
    assert routed <= truth
    assert truth and len(routed) / len(truth) >= 0.70


def test_pagerank_mass_and_uniform_fixpoint(spark):
    """Rank mass must stay 1 after any number of rounds, and a k-regular
    graph's fixpoint is exactly uniform (ring of 6, each node degree 2)."""
    from tutorial_iceberg_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    ring = [(i, (i + 1) % 6) for i in range(6)] + [((i + 1) % 6, i) for i in range(6)]
    edges = spark.createDataFrame(ring, "src long, dst long")
    rows = pagerank(nodes, edges, iters=5).collect()
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) < 1e-9
    for r in rows:
        assert abs(r["rank"] - 1.0 / 6) < 1e-12


def test_pagerank_star_hub_dominates_and_corpus_mass(spark, sf_dir):
    """Star graph: the hub must out-rank every leaf. And the registered
    similarity-graph query conserves mass over the real corpus (isolated
    nodes = dangling, exercised by construction)."""
    from tutorial_iceberg_spark.operators.graph import pagerank, x_pagerank_sim

    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    star = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    edges = spark.createDataFrame(star, "src long, dst long")
    rows = {r["id"]: r["rank"] for r in pagerank(nodes, edges, iters=8).collect()}
    assert all(rows[0] > rows[i] for i in range(1, 5))

    corpus = x_pagerank_sim(spark, sf_dir).collect()
    assert abs(sum(r["rank"] for r in corpus) - 1.0) < 1e-6
    assert all(r["rank"] > 0 for r in corpus)


def test_triangle_counts_match_bruteforce(spark):
    # K4 plus a pendant: known triangle structure
    from tutorial_iceberg_spark.operators.graph import triangle_counts

    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)] + [(3, 9)]
    e = spark.createDataFrame(edges, "left_id long, right_id long")
    got = {r["vec_id"]: r for r in triangle_counts(e).collect()}
    # every K4 vertex sits in C(3,2)=3 triangles; pendant vertex in none
    for v in range(4):
        assert got[v]["triangles"] == 3
    assert got[9]["triangles"] == 0 and got[9]["degree"] == 1
    # clustering: K4 interior vertices deg 3 -> 2*3/(3*2)=1.0; vertex 3 deg 4
    assert got[0]["clustering"] == 1.0
    assert got[3]["clustering"] == 2 * 3 / (4 * 3)


def test_triangle_registry_consistency(spark, sf_dir):
    # total triangle incidence = 3 * distinct triangles; all coefficients in [0,1]
    from tutorial_iceberg_spark.registry import all_queries

    df = all_queries()["x_triangle_count"].builder(spark, sf_dir).collect()
    assert len(df) > 0
    assert sum(r["triangles"] for r in df) % 3 == 0
    assert all(0.0 <= r["clustering"] <= 1.0 for r in df)
    assert all(r["triangles"] == 0 for r in df if r["degree"] < 2)
