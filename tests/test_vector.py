"""Similarity-search tests: exactness of the brute-force path, recall of
the IVF path against it, and plan-shape gates (broadcast query set, no
Python UDFs — the whole module must stay in whole-stage codegen)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tutorial_iceberg_spark.functions import vector as V
from tutorial_iceberg_spark.io import load_table
from tutorial_iceberg_spark.plans.explain import explain_str


def test_knn_shape_and_bounds(spark, sf_dir):
    rows = V.x_knn_brute_cosine(spark, sf_dir).collect()
    assert len(rows) == V.N_QUERIES * V.TOP_K
    assert all(-1.0 - 1e-9 <= r["score"] <= 1.0 + 1e-9 for r in rows)
    for q in range(V.N_QUERIES):
        scores = [r["score"] for r in rows if r["query_id"] == q]
        assert scores == sorted(scores, reverse=True)
        assert all(r["neighbor_id"] != q for r in rows if r["query_id"] == q)


def test_knn_self_similarity_is_one(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(3)
    r = emb.select(
        (V.dot(F.col("embedding"), F.col("embedding")) / (V.norm(F.col("embedding")) ** 2)).alias(
            "s"
        )
    ).collect()
    assert all(abs(x["s"] - 1.0) < 1e-9 for x in r)


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in V.x_knn_brute_cosine(spark, sf_dir).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in V.x_ann_ivf_cosine(spark, sf_dir).collect()
    }
    recall = len(brute & ivf) / len(brute)
    # nprobe=4/16 cells on clustered synthetic data: expect decent recall
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low"


def test_knn_broadcasts_queries_and_stays_jvm(spark, sf_dir):
    plan = explain_str(V.x_knn_brute_cosine(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_hyperplane_lsh_identical_vectors_always_collide(spark, sf_dir):
    """An identical vector agrees with its twin on every plane, hence on
    every band: it MUST surface as the rank-1 neighbor with score ~1."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = emb.select(F.size("embedding")).first()[0]
    u = emb.select("vec_id", V._unit(F.col("embedding")).alias("u"))
    twins = u.filter(F.col("vec_id") < 3).withColumn(
        "vec_id", F.col("vec_id") + 10_000_000
    )
    both = u.unionByName(twins)
    kk = V.hyperplane_band_keys(both, dim, V.N_PLANES // V.PLANE_BANDS, V.PLANE_BANDS, 0)
    sigs = {r["vec_id"]: r["keys"] for r in kk.collect()}
    for i in range(3):
        assert sigs[i] == sigs[i + 10_000_000]


def test_hyperplane_lsh_output_shape_and_recall_floor(spark, sf_dir):
    rows = V.x_ann_hyperplane_lsh(spark, sf_dir).collect()
    assert rows
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["score"])
        assert r["neighbor_id"] != r["query_id"]
    for scores in per_q.values():
        assert scores == sorted(scores, reverse=True)
        assert len(scores) <= V.TOP_K
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in V.x_knn_brute_cosine(spark, sf_dir).collect()
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(brute & got) / len(brute)
    # testdata embeddings are near-random (true top-10 at cos ~0.3), where
    # hyperplane banding is weak by construction; the planted-identical
    # test above covers the high-similarity regime. Loose floor documents
    # the behavior rather than pretending magic.
    assert recall >= 0.15, f"LSH recall {recall:.2f} below floor"


def test_hyperplane_signature_build_is_single_pass(spark, sf_dir):
    """The signature build must be one Arrow batch pass: no posexplode
    (Generate) and no shuffle (Exchange) anywhere in its plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = emb.select(F.size("embedding")).first()[0]
    u = emb.select("vec_id", V._unit(F.col("embedding")).alias("u"))
    plan = explain_str(V.hyperplane_band_keys(u, dim, 2, 16, 6))
    assert "MapInPandas" in plan
    assert "Generate" not in plan
    assert "Exchange" not in plan


def test_hyperplane_lsh_candidates_are_selective(spark, sf_dir):
    """The banding must prune most of the pair space (else it's a crossJoin
    in disguise): candidate fraction < 50% of all pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    dim = emb.select(F.size("embedding")).first()[0]
    u = emb.select("vec_id", V._unit(F.col("embedding")).alias("u"))
    bpb = V.N_PLANES // V.PLANE_BANDS
    bands = V.hyperplane_band_keys(u, dim, bpb, V.PLANE_BANDS, 0).select(
        "vec_id", F.posexplode("keys").alias("band", "key")
    )
    a, b = bands.alias("a"), bands.alias("b")
    nc = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select("a.vec_id", "b.vec_id")
        .distinct()
        .count()
    )
    assert nc < 0.5 * n * (n - 1) / 2


def test_lsh_bucket_cap_noop_below_cap(spark, sf_dir):
    """At test/oracle scale no band bucket crosses LSH_BUCKET_CAP, so the
    capped generator must be bit-identical to the uncapped one — this is
    what keeps the coverage/recall gates meaningful for the default path."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = emb.select(F.size("embedding")).first()[0]
    capped = {
        (r.left_id, r.right_id)
        for r in V.lsh_candidate_pairs(emb, dim).collect()
    }
    uncapped = {
        (r.left_id, r.right_id)
        for r in V.lsh_candidate_pairs(emb, dim, bucket_cap=None).collect()
    }
    assert capped == uncapped


def test_lsh_bucket_cap_bounds_subbuckets_and_prunes(spark, sf_dir):
    """Scale gate for the round-8 probe finding (fixed-width bands made
    candidates quadratic): with a cap far below the natural bucket size,
    (1) every sub-split bucket lands within a small constant of the cap —
    candidates become O(n_bands * n * cap) — and (2) the candidate set is
    a strict subset of the uncapped one (the cap only ever prunes)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    dim = emb.select(F.size("embedding")).first()[0]
    cap = 8
    sizes = (
        V._lsh_bands(emb, dim, bucket_cap=cap)
        .groupBy("band", "key")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    uncapped_max = (
        V._lsh_bands(emb, dim, bucket_cap=None)
        .groupBy("band", "key")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    # expected sub-bucket size <= cap; reserve bits are ~fair coins, so a
    # 4x overshoot on the seeded fixture would mean the split is broken
    assert uncapped_max > 4 * cap, "fixture too small to exercise the cap"
    assert sizes <= 4 * cap
    tiny = {
        (r.left_id, r.right_id)
        for r in V.lsh_candidate_pairs(emb, dim, bucket_cap=cap).collect()
    }
    full = {
        (r.left_id, r.right_id)
        for r in V.lsh_candidate_pairs(emb, dim, bucket_cap=None).collect()
    }
    assert tiny and tiny < full


def test_pca_matches_numpy_and_is_orthonormal(spark, sf_dir):
    """x_embed_pca is rows-only in the driver gate; this is its oracle:
    the distributed moment-partial fit must equal numpy PCA on the
    collected table (same eigvecs up to the deterministic sign fix), the
    components must be orthonormal, and the projected variance must equal
    the eigenvalues in descending order."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    mean, comps, vals = V.fit_pca(spark, emb)
    x = np.stack([r["embedding"] for r in emb.select("embedding").collect()]).astype(
        np.float64
    )
    # distributed moments == exact moments
    assert np.allclose(mean, x.mean(0), atol=1e-9)
    cov = np.cov(x.T, bias=True)
    # orthonormal rows
    assert np.allclose(comps @ comps.T, np.eye(V.PCA_K), atol=1e-9)
    # eigen pairs: cov @ v == lambda * v, eigenvalues descending
    for i in range(V.PCA_K):
        assert np.allclose(cov @ comps[i], vals[i] * comps[i], atol=1e-6)
    assert all(vals[i] >= vals[i + 1] - 1e-12 for i in range(V.PCA_K - 1))

    out = V.x_embed_pca(spark, sf_dir).toPandas()
    assert list(out.columns) == ["vec_id"] + [f"pc{i+1}" for i in range(V.PCA_K)]
    assert len(out) == x.shape[0]
    p = out[[f"pc{i+1}" for i in range(V.PCA_K)]].to_numpy()
    # projected variance per dim == eigenvalue (population variance)
    assert np.allclose(p.var(0), vals, rtol=1e-9, atol=1e-12)
    # exact reprojection check vs numpy
    want = (x - x.mean(0)) @ comps.T
    got = out.sort_values("vec_id")[[f"pc{i+1}" for i in range(V.PCA_K)]].to_numpy()
    assert np.allclose(got, want, atol=1e-9)


def test_pca_fit_collects_only_partials(spark, sf_dir):
    """Scale gate: the fit's only driver-bound data is one moment row per
    partition (cnt, d, d^2 arrays) — repartitioning changes the partial
    count but must not change the fitted model."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    m1, c1, v1 = V.fit_pca(spark, emb.repartition(7))
    m2, c2, v2 = V.fit_pca(spark, emb.coalesce(1))
    assert np.allclose(m1, m2, atol=1e-9)
    assert np.allclose(v1, v2, atol=1e-7)
    assert np.allclose(np.abs(c1), np.abs(c2), atol=1e-7)


def test_pq_codes_valid_and_beat_mean_baseline(spark, sf_dir):
    """PQ gates: every code in [0, PQ_K); per-vector recon_mse matches a
    driver-side numpy recomputation against the fitted codebooks (codes
    are nearest-codeword optimal); and mean PQ reconstruction error beats
    the 1-codeword (global mean) baseline by a wide margin."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    books = V.fit_pq(spark, emb)
    m, k, sub = books.shape
    assert (m, k) == (V.PQ_M, V.PQ_K)

    out = V.x_embed_pq(spark, sf_dir).collect()
    x = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    assert len(out) == len(x)
    tot = 0.0
    for r in out:
        codes = r["codes"]
        assert len(codes) == m and all(0 <= c < k for c in codes)
        v = x[r["vec_id"]]
        err = 0.0
        for j in range(m):
            xj = v[j * sub : (j + 1) * sub]
            d2 = ((xj[None, :] - books[j]) ** 2).sum(-1)
            assert codes[j] == int(d2.argmin())  # nearest-codeword optimal
            err += d2[codes[j]]
        assert abs(err / v.shape[0] - r["recon_mse"]) < 1e-9
        tot += r["recon_mse"]
    pq_mse = tot / len(out)
    allx = np.stack(list(x.values()))
    mean_mse = ((allx - allx.mean(0)) ** 2).sum(1).mean() / allx.shape[1]
    assert pq_mse < 0.8 * mean_mse, (pq_mse, mean_mse)


def test_ivf_pq_recall_vs_brute_force(spark, sf_dir):
    """IVF-PQ must recover a solid fraction of the true top-10 despite the
    double approximation (cell probing + 4-bit codes): recall@10 >= 0.5
    on the testdata, and the exact re-rank means every returned score is
    a true cosine (bounded by 1)."""
    brute = {}
    for r in V.x_knn_brute_cosine(spark, sf_dir).collect():
        brute.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    rows = V.x_ann_ivf_pq(spark, sf_dir).collect()
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        assert -1.0 - 1e-9 <= r["score"] <= 1.0 + 1e-9
    assert set(got) == set(brute)
    hits = sum(len(got[q] & brute[q]) for q in brute)
    total = sum(len(brute[q]) for q in brute)
    assert hits / total >= 0.5, f"recall {hits}/{total}"


def test_knn_loo_allpairs_and_lsh_paths(spark, sf_dir):
    from pyspark.sql import functions as F

    from tutorial_iceberg_spark.functions.vector import x_knn_classify_loo
    from tutorial_iceberg_spark.io import load_table

    n_vec = load_table(spark, sf_dir, "embeddings").count()
    exact = x_knn_classify_loo(spark, sf_dir, candidates="all_pairs").collect()
    assert sum(r["n"] for r in exact) == n_vec  # every vector classified
    assert all(0.0 <= r["accuracy"] <= 1.0 for r in exact)
    acc_exact = sum(r["n_correct"] for r in exact) / n_vec

    lsh = x_knn_classify_loo(spark, sf_dir, candidates="lsh").collect()
    assert {r["label"] for r in lsh} == {r["label"] for r in exact}
    assert sum(r["n"] for r in lsh) == n_vec
    acc_lsh = sum(r["n_correct"] for r in lsh) / n_vec
    # LSH candidates approximate the neighbourhood; the audit signal must
    # not collapse (bounded degradation on the near-orthogonal testdata)
    assert acc_lsh >= acc_exact - 0.25


def test_knn_loo_lsh_path_plan_is_equijoin_only(spark, sf_dir):
    from tutorial_iceberg_spark.functions.vector import x_knn_classify_loo

    df = x_knn_classify_loo(spark, sf_dir, candidates="lsh")
    plan = explain_str(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embed_label_stats_fold_is_order_exact(spark, sf_dir):
    """total_norm must equal the python left fold over vec_id-sorted norms
    EXACTLY (bit-for-bit) — the property that makes the result invariant
    to scan partitioning (a plain SUM(double) only matched historically
    because the single-file fixture scans as one stable partition)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from tutorial_iceberg_spark.functions.vector import norm
    from tutorial_iceberg_spark.io import load_table
    from tutorial_iceberg_spark.registry import all_queries

    got = {
        r["label"]: r["total_norm"]
        for r in all_queries()["x_embed_label_stats"]
        .builder(spark, sf_dir)
        .collect()
    }
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", norm(F.col("embedding")).alias("nrm"))
        .collect()
    )
    by_label = defaultdict(list)
    for r in rows:
        by_label[r["label"]].append((r["vec_id"], r["nrm"]))
    for label, pairs in by_label.items():
        acc = 0.0
        for _, nrm in sorted(pairs):
            acc = acc + nrm
        assert got[label] == acc, label  # exact float equality, no tolerance


def test_embed_fold_gate_scale_path_agrees_and_is_bounded(spark, sf_dir):
    """The `weak` closure (VERDICT r7 #1): both centroid compute paths —
    bit-exact ordered fold vs order-free mergeable float64 partials —
    must agree within float tolerance, and the scale path's plan must
    materialize NO per-group array (no collect_list aggregation buffer
    growing with rows/label)."""
    exact = {
        (r["vec_id"], r["label"])
        for r in V.x_embed_outliers(spark, sf_dir, bitexact=True).collect()
    }
    merged_df = V.x_embed_outliers(spark, sf_dir, bitexact=False)
    merged = {
        (r["vec_id"], r["label"]) for r in merged_df.collect()
    }
    # last-ulp summation drift cannot reorder a top-5 on this fixture
    assert exact == merged
    # The UNBOUNDED per-(label,dim) fold over row values must be gone in
    # the scale path (the centroid-assembly collect_list over 64 dims is
    # constant-size per label and allowed to stay).
    plan = explain_str(merged_df)
    assert "collect_list(struct(vec_id" not in plan
    assert "collect_list(struct(vec_id" in explain_str(
        V.x_embed_outliers(spark, sf_dir, bitexact=True)
    )

    ex = {
        r["label"]: r for r in
        V.x_embed_label_stats(spark, sf_dir, bitexact=True).collect()
    }
    mg_df = V.x_embed_label_stats(spark, sf_dir, bitexact=False)
    mg = {r["label"]: r for r in mg_df.collect()}
    assert set(ex) == set(mg)
    for label in ex:
        assert ex[label]["vecs"] == mg[label]["vecs"]
        assert ex[label]["total_dims"] == mg[label]["total_dims"]
        assert abs(ex[label]["total_norm"] - mg[label]["total_norm"]) <= (
            1e-9 * max(1.0, abs(ex[label]["total_norm"]))
        )
    assert "collect_list" not in explain_str(mg_df)


def test_embed_fold_gate_auto_resolution(sf_dir):
    """Auto mode resolves from the parquet footer row count alone (no
    Spark job): fixture tables sit far under the gate -> bit-exact; an
    explicit override wins in both directions."""
    assert V._bitexact_auto(sf_dir, "embeddings", None) is True
    assert V._bitexact_auto(sf_dir, "embeddings", False) is False
    assert V._bitexact_auto(sf_dir, "embeddings", True) is True


def test_lsh_clamp_binding_is_surfaced(spark, sf_dir):
    """No silent caps (round-9 ADVICE): when a bucket is denser than
    2^reserve_bits * cap, the reserve width cannot split it down to the
    cap — the generator must WARN and record the event rather than
    quietly weakening its O(n_bands * n * cap) candidate bound."""
    import warnings as W

    emb = load_table(spark, sf_dir, "embeddings")
    dim = emb.select(F.size("embedding")).first()[0]
    n = emb.count()
    rb = V._LSH_RESERVE_BITS_PER_BAND
    cap = 1  # clamp threshold 2^rb rows; natural buckets are ~n/4 >> that
    assert n / 4 > (1 << rb), "fixture too small to bind the clamp"
    V._LSH_CLAMP_EVENTS.clear()
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        out = V._lsh_bands(emb, dim, bucket_cap=cap)
        assert out.count() > 0  # frame still valid, just denser than cap
    assert any("clamp binds" in str(w.message) for w in rec)
    assert V._LSH_CLAMP_EVENTS and "residual" in V._LSH_CLAMP_EVENTS[-1]
    # and at the default cap on this fixture the clamp must NOT bind
    V._LSH_CLAMP_EVENTS.clear()
    V._lsh_bands(emb, dim).count()
    assert not V._LSH_CLAMP_EVENTS


def test_lsh_auto_size_math():
    """r10 verdict Next #3: sizing from a corpus census. Bits grow with
    density so expected bucket load stays under cap/2 AND background
    candidates stay under the per-vector budget (the selectivity term —
    its omission in the first cut admitted ~25% of all pairs at 30x
    corpus and spilled past local disk); bands grow to hold the recall
    floor; any floor shortfall is never silent."""
    import warnings

    cap = V.LSH_BUCKET_CAP
    for n in (100, 2_000, 20_000, 60_000):
        s = V.lsh_auto_size(n)
        if n > cap:
            assert s["expected_density"] <= cap / 2, (n, s)
        assert s["expected_cand_per_vec"] <= 8192, (n, s)
        assert not s["band_clamped"]
        assert s["expected_recall"] >= 0.85, (n, s)
        assert s["n_planes"] == s["bits_per_band"] * s["n_bands"]
    # higher design similarity -> cheaper (fewer bands at same floor)
    near = V.lsh_auto_size(60_000, sim_threshold=0.85)
    far = V.lsh_auto_size(60_000, sim_threshold=0.40)
    assert near["n_bands"] < far["n_bands"]
    # the rho-exponent reality: at threshold 0.40 the floor is honestly
    # unaffordable at very large n — clamp binds with a warning and an
    # HONEST expected_recall, never a silent cap...
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        s = V.lsh_auto_size(10**6)
    assert s["band_clamped"] and s["expected_recall"] < 0.85
    assert s["expected_cand_per_vec"] <= 8192
    assert any("unaffordable" in str(x.message) for x in w)
    # ...while a realistic near-dup threshold meets the floor within the
    # same budgets even at 1e8 vectors
    big = V.lsh_auto_size(10**8, sim_threshold=0.85)
    assert not big["band_clamped"] and big["expected_recall"] >= 0.85
    assert big["expected_cand_per_vec"] <= 8192


def test_lsh_auto_candidates_recall_and_subset(spark, sf_dir):
    """The auto-sized wide band path: candidates verify to a SUBSET of
    the true edge set (verification predicate unchanged) and within-run
    recall meets the sizing model's floor minus sampling slack — the
    probe extends this measurement to 10x/30x density (SCALE_PROBE r11)."""
    from tutorial_iceberg_spark.operators import graph as G

    truth = {
        (r.left_id, r.right_id)
        for r in G.cosine_edges(spark, sf_dir, candidates="all_pairs").collect()
    }
    auto = {
        (r.left_id, r.right_id)
        for r in G.cosine_edges(spark, sf_dir, candidates="lsh_auto").collect()
    }
    assert auto <= truth
    assert truth, "fixture has no edges"
    assert len(auto) / len(truth) >= 0.70, (len(auto), len(truth))


def test_lsh_routes_share_one_plane_layout(spark, sf_dir):
    """Every LSH route (the ANN query's 4x4-bit bands, FIXED_LSH_SIZING,
    an lsh_auto_size config) reads ONE plane layout of the seeded sign
    matrix: band bi's key packs planes [bi*b, (bi+1)*b), least
    significant bit first, and its reserve key packs planes
    [L*b + bi*rb, L*b + (bi+1)*rb). Recomputed with numpy for a handful
    of vectors; with no cap, every vector appears once per band."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    dim = emb.select(F.size("embedding")).first()[0]
    u = emb.select("vec_id", V._unit(F.col("embedding")).alias("u"))
    few = {r["vec_id"]: np.asarray(r["u"]) for r in u.filter("vec_id < 8").collect()}
    assert len(few) == 8

    def packed(bits):  # least significant bit first
        return int(sum(int(x) << j for j, x in enumerate(bits)))

    ann = {"bits_per_band": V.N_PLANES // V.PLANE_BANDS, "n_bands": V.PLANE_BANDS, "rb": 0}
    for sizing in (ann, V.FIXED_LSH_SIZING, V.lsh_auto_size(n)):
        b, L, rb = sizing["bits_per_band"], sizing["n_bands"], sizing["rb"]
        signs = V._sign_matrix(dim, L * (b + rb))
        want_k, want_r = {}, {}
        for vid, vec in few.items():
            bits = (signs @ vec) > 0
            for bi in range(L):
                want_k[vid, bi] = packed(bits[bi * b : (bi + 1) * b])
                want_r[vid, bi] = packed(bits[L * b + bi * rb : L * b + (bi + 1) * rb])
        kk = V.hyperplane_band_keys(u.filter("vec_id < 8"), dim, b, L, rb).collect()
        assert {(r.vec_id, bi): k for r in kk for bi, k in enumerate(r["keys"])} == want_k
        assert {(r.vec_id, bi): k for r in kk for bi, k in enumerate(r["rkeys"])} == want_r
        bands = V._lsh_bands(emb, dim, sizing, bucket_cap=None)
        got = {(r.vec_id, r.band): r.key for r in bands.filter("vec_id < 8").collect()}
        assert got == want_k, sizing
    bands = V._lsh_bands(emb, dim, bucket_cap=None)
    per_vec = bands.groupBy("vec_id").count().agg(F.min("count"), F.max("count")).first()
    assert per_vec[0] == per_vec[1] == 16
    assert bands.count() == 16 * n


def test_broadcast_gates_are_bytes_based():
    """r11 verdict Next #3 + ADVICE medium/low: the pinned-broadcast
    fast paths gate on estimated BYTES, not a row cap — a row constant
    sized for ~600 B key rows admitted dim/L shapes that are gigabytes —
    and a sizing dict missing its census keys fails CLOSED instead of
    defaulting n to 0 and broadcasting an unbounded corpus."""
    # the measured probe regimes keep their fast path: 60k vectors
    # (the r11 30x probe, L=476 -> ~230 MB) and the near-dup threshold
    # at the old 500k row boundary (L~75 -> ~330 MB)
    for n, thr in ((60_000, 0.40), (60_000, 0.60), (500_000, 0.85)):
        s = V.lsh_auto_size(n, sim_threshold=thr)
        assert V.first_collision_affordable(s), (n, thr, s["n_bands"])
        est = n * (8 * s["n_bands"] + V._BROADCAST_ROW_OVERHEAD)
        assert est <= V._BROADCAST_EST_MAX_BYTES
    # ...while the band-heavy low-threshold shapes at 500k (0.60 ->
    # L=254 ~1.05 GB; 0.40 clamps at L=512 ~2.1 GB) are EXACTLY what
    # the old row cap wrongly pinned broadcast: the bytes gate refuses
    import warnings

    for thr in (0.40, 0.60):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            low = V.lsh_auto_size(500_000, sim_threshold=thr)
        assert low["n_bands"] * 8 * 500_000 > V._BROADCAST_EST_MAX_BYTES
        assert not V.first_collision_affordable(low)
    # fail CLOSED: missing/hand-built sizing never broadcasts
    assert not V.first_collision_affordable(None)
    assert not V.first_collision_affordable({})
    assert not V.first_collision_affordable(
        {"bits_per_band": 2, "n_bands": 16, "rb": 6}  # the hand-built shape
    )
    assert not V.first_collision_affordable({"n_vectors": 100})  # no n_bands
    # a shape the old row cap ADMITTED but the bytes budget refuses:
    # 500k vectors x 512-band keys is ~2 GB of broadcast key table
    assert not V.first_collision_affordable(
        {"n_vectors": 500_000, "n_bands": 512}
    )
    # embedding verification sides (graph.py's lsh_auto pin): row bytes
    # are dim-dependent — 64-dim at 500k fits, 768-dim (~1.5 GB) must
    # fall back to AQE shuffle planning
    assert V.embedding_broadcast_affordable(500_000, 64)
    assert not V.embedding_broadcast_affordable(500_000, 768)
    assert V.embedding_broadcast_affordable(2_000, 768)  # small corpus ok


def test_lsh_sized_distinct_fallback_same_pair_set(spark, sf_dir):
    """Above the broadcast budget the sized path falls back to the
    global distinct() (the shuffle route a real cluster's spill disks
    absorb): same pair SET as the first-collision fast path, pairs
    unique either way."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = emb.select(F.size("embedding")).first()[0]
    sizing = V.lsh_auto_size(emb.count())
    assert V.first_collision_affordable(sizing)
    fast = {
        (r.left_id, r.right_id)
        for r in V.lsh_candidate_pairs(emb, dim, sizing=sizing).collect()
    }
    # same band constants, census count inflated past the budget: the
    # gate must shut and route through distinct()
    over = dict(sizing, n_vectors=10**9)
    assert not V.first_collision_affordable(over)
    rows = V.lsh_candidate_pairs(emb, dim, sizing=over).collect()
    slow = [(r.left_id, r.right_id) for r in rows]
    assert len(slow) == len(set(slow))
    assert set(slow) == fast


def test_first_collision_dedup_equals_distinct(spark, sf_dir):
    """The sized path dedups candidates by first-colliding band (no
    global distinct shuffle); the pair SET must be exactly the
    distinct() one."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = emb.select(F.size("embedding")).first()[0]
    sizing = V.lsh_auto_size(emb.count())
    bands = V._lsh_bands(emb, dim, sizing)
    x, y = bands.alias("x"), bands.alias("y")
    pairs = x.join(
        y,
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.key") == F.col("y.key"))
        & (F.col("x.vec_id") < F.col("y.vec_id")),
    ).select(
        F.col("x.vec_id").alias("left_id"),
        F.col("y.vec_id").alias("right_id"),
        F.col("x.band").alias("band"),
    )
    via_distinct = {
        (r.left_id, r.right_id)
        for r in pairs.drop("band").distinct().collect()
    }
    fc_rows = [
        (r.left_id, r.right_id)
        for r in V._first_collision_dedup(pairs, bands).collect()
    ]
    assert len(fc_rows) == len(set(fc_rows)), "pairs must be unique rows"
    assert set(fc_rows) == via_distinct


def test_knn_loo_auto_routes_to_lsh_auto_above_cutoff(spark, sf_dir, monkeypatch):
    """r12 verdict Next #3: x_knn_classify_loo carried its own routing
    switch and missed the r12 lsh_auto default flip — above
    ALL_PAIRS_MAX_ROWS its 'auto' must pick the AUTO-SIZED generator
    (recall flat across density), not the fixed-constant one. Forced by
    dropping the cutoff under the fixture's row count; the routed result
    must be exactly the lsh_auto result and the audit signal must stay
    within the same bounded-degradation envelope as the exact path."""
    from tutorial_iceberg_spark.functions.vector import x_knn_classify_loo
    from tutorial_iceberg_spark.io import load_table
    from tutorial_iceberg_spark.operators import graph as G

    monkeypatch.setattr(G, "ALL_PAIRS_MAX_ROWS", 1)
    n_vec = load_table(spark, sf_dir, "embeddings").count()
    routed = x_knn_classify_loo(spark, sf_dir).collect()
    sized = x_knn_classify_loo(spark, sf_dir, candidates="lsh_auto").collect()
    assert sorted(map(tuple, routed)) == sorted(map(tuple, sized))
    assert sum(r["n"] for r in routed) == n_vec  # every vector classified
    exact = x_knn_classify_loo(spark, sf_dir, candidates="all_pairs").collect()
    acc_exact = sum(r["n_correct"] for r in exact) / n_vec
    acc_routed = sum(r["n_correct"] for r in routed) / n_vec
    assert acc_routed >= acc_exact - 0.25
