"""Text-analysis + dedup operator tests (SURVEY.md §2.11 extensions).

Correctness invariants plus plan-shape checks: these operators must stay
JVM-side (no BatchEvalPython in any plan) and dedup must shuffle on the
content hash, because at 100 TB those are the properties that matter.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tutorial_iceberg_spark.io import load_table
from tutorial_iceberg_spark.operators import dedup as D
from tutorial_iceberg_spark.functions import text as T
from tutorial_iceberg_spark.plans.explain import explain_str


def test_exact_dedup_partitions_rows(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    groups = D.x_dedup_exact(spark, sf_dir)
    rows = groups.collect()
    # every document lands in exactly one hash group
    assert sum(r["copies"] for r in rows) == docs.count()
    # keep_id is a real doc_id from the table
    ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert all(r["keep_id"] in ids for r in rows)


def test_jaccard_bounds_and_self_similarity(spark, sf_dir):
    rows = D.x_dedup_ngram_jaccard(spark, sf_dir).collect()
    assert rows, "consecutive-pair join produced nothing"
    assert all(0.0 <= r["jaccard"] <= 1.0 for r in rows)
    # near-dup flag consistent with threshold
    assert all(r["is_near_dup"] == (1 if r["jaccard"] >= 0.8 else 0) for r in rows)


def test_simhash_hamming_bounds(spark, sf_dir):
    rows = D.x_dedup_simhash(spark, sf_dir).collect()
    assert rows
    assert all(0 <= r["hamming"] <= 60 for r in rows)


def test_identical_docs_are_lsh_candidates(spark, sf_dir):
    """Planting exact duplicates must produce minhash-identical signatures,
    hence guaranteed LSH candidacy and jaccard 1.0."""
    docs = load_table(spark, sf_dir, "documents").limit(5)
    dup = docs.withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
    both = docs.unionByName(dup)
    sig = D.minhash_signatures(both)
    cand = D.lsh_candidate_pairs(sig)
    pairs = {(r["left_id"], r["right_id"]) for r in cand.collect()}
    for r in docs.select("doc_id").collect():
        assert (r["doc_id"], r["doc_id"] + 10_000_000) in pairs


def test_lsh_finds_high_jaccard_consecutive_pairs(spark, sf_dir):
    """Recall sanity: every consecutive pair with true jaccard >= 0.9 should
    be surfaced by the banded LSH (16 hashes / 4 bands -> ~97% at j=0.9)."""
    exact = {
        (r["left_id"], r["right_id"])
        for r in D.x_dedup_ngram_jaccard(spark, sf_dir).collect()
        if r["jaccard"] >= 0.9
    }
    lsh = {
        (r["left_id"], r["right_id"])
        for r in D.x_dedup_minhash_lsh(spark, sf_dir).collect()
    }
    missed = exact - lsh
    assert len(missed) <= max(1, len(exact) // 10), f"LSH missed {missed}"


def test_lsh_verification_has_no_forced_broadcast(spark, sf_dir):
    """The candidate-verification join must NOT carry a broadcast hint: the
    build side holds full per-doc shingle arrays (multi-GB at 100 TB) and
    the candidate table is only small when banding is well-tuned. AQE may
    still choose broadcast at runtime from real sizes — what we forbid is
    forcing it in the plan."""
    df = D.x_dedup_minhash_lsh(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def test_no_python_udfs_in_text_or_dedup_plans(spark, sf_dir):
    for build in (
        T.x_token_count,
        T.x_quality_score,
        T.x_langid_vote,
        T.x_fingerprint,
        D.x_dedup_exact,
        D.x_dedup_simhash,
        D.x_dedup_minhash_lsh,
    ):
        plan = explain_str(build(spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
            build.__name__
        )


def test_token_count_matches_manual(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    manual = (
        docs.select(F.size(F.split(F.trim("text"), r"\s+")).alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    total = sum(
        r["total_tokens"] for r in T.x_token_count(spark, sf_dir).collect()
    )
    assert total == manual


def test_fingerprint_is_whitespace_invariant(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(3)
    mangled = docs.withColumn(
        "text", F.concat(F.lit("  "), F.regexp_replace("text", " ", "   "))
    )
    fp = lambda d: {
        r["doc_id"]: r["fingerprint"]
        for r in d.select(
            "doc_id",
            F.md5(
                F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
            ).alias("fingerprint"),
        ).collect()
    }
    assert fp(docs) == fp(mangled)


def test_shingles_empty_for_short_docs(spark, sf_dir):
    """A doc with < 3 words must yield an EMPTY shingle set (Spark's
    sequence(1,0) is the descending [1,0], not empty — the guard in
    shingles() prevents slice(w, 0, 3) from erroring and matches DuckDB's
    empty generate_series(1,0))."""
    df = spark.createDataFrame(
        [(1, "one two"), (2, "a"), (3, ""), (4, "alpha beta gamma delta")],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r["s"] for r in df.select("doc_id", D.shingles().alias("s")).collect()}
    assert rows[1] == [] and rows[2] == [] and rows[3] == []
    assert rows[4] == ["alpha beta gamma", "beta gamma delta"]


def test_bm25_invariants(spark, sf_dir):
    rows = T.x_bm25_search(spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    scores = [r["score"] for r in rows]
    # probabilistic idf is positive whenever df < N; scores ranked desc
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)
    assert all(1 <= r["n_match"] <= len(T.BM25_TERMS) for r in rows)


def test_bm25_single_term_doc_ordering(spark, sf_dir):
    # A doc that repeats one query term but is shorter must outscore a doc
    # with the same tf padded with filler (BM25 length normalization).
    import os
    import tempfile

    docs = spark.createDataFrame(
        [
            (1, "vector vector vector"),
            (2, "vector vector vector " + "pad " * 50),
        ],
        "doc_id long, text string",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = {r["doc_id"]: r["score"] for r in T.x_bm25_search(spark, d).collect()}
    assert out[1] > out[2]


def test_hash_sample_rate_and_determinism(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    a = [r["doc_id"] for r in T.x_hash_sample(spark, sf_dir).collect()]
    b = [r["doc_id"] for r in T.x_hash_sample(spark, sf_dir).collect()]
    assert a == b  # seedless determinism across runs
    # expected rate 26/256 ~= 10.2%; loose binomial bounds for small n
    assert 0.02 * n <= len(a) <= 0.25 * n


def test_hash_sample_filter_is_shuffle_free(spark, sf_dir):
    # The sampling predicate itself (before presentation ordering) must be
    # a narrow scan+filter: no Exchange anywhere in the plan.
    docs = load_table(spark, sf_dir, "documents")
    keep = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "1a"
    plan = docs.filter(keep)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_approx_distinct_within_rsd(spark, sf_dir):
    from tutorial_iceberg_spark.operators import relational as R

    est = {
        r["event_type"]: r["approx_users"]
        for r in R.x_approx_distinct(spark, sf_dir).collect()
    }
    events = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["exact"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, e in exact.items():
        # 5 sigma of the configured rsd=0.02 — loose but regression-catching
        assert abs(est[k] - e) <= max(2.0, 5 * 0.02 * e)


def test_incremental_dedup_flags_exact_copy(spark):
    import os
    import tempfile

    txt_a = "the quick brown fox jumps over the lazy dog tonight"
    txt_b = "completely different words about spark shuffles and parquet files"
    docs = spark.createDataFrame(
        [
            (1, txt_a),  # corpus
            (2, txt_b),  # corpus
            (5, txt_a),  # batch: exact copy of corpus doc 1
            (10, "zebra quasar nebula comet asteroid meteor planet star moon"),
        ],
        "doc_id long, text string",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r["batch_id"]: r for r in D.x_dedup_incremental(spark, d).collect()
        }
    # every batch doc gets a verdict row
    assert set(out) == {5, 10}
    assert out[5]["is_dup"] == 1 and out[5]["best_jaccard"] == 1.0
    assert out[10]["is_dup"] == 0 and out[10]["best_jaccard"] == 0.0


def test_incremental_dedup_no_nested_loop_join(spark, sf_dir):
    plan = (
        D.x_dedup_incremental(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cooccur_pairs_are_real_cofrequencies(spark, sf_dir):
    from pyspark.sql import functions as F

    from tutorial_iceberg_spark.io import load_table
    from tutorial_iceberg_spark.registry import all_queries

    rows = all_queries()["x_cooccur_pairs"].builder(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    assert all(r["t1"] < r["t2"] for r in rows)
    # spot-verify the top pair's count by direct recount
    top = rows[0]
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("ts"),
    )
    n = toks.filter(
        F.array_contains("ts", top["t1"]) & F.array_contains("ts", top["t2"])
    ).count()
    assert n == top["n_docs"]


def test_topk_sketch_bounds_and_superset(spark, sf_dir):
    from pyspark.sql import functions as F

    from tutorial_iceberg_spark.io import load_table
    from tutorial_iceberg_spark.registry import all_queries

    rows = all_queries()["x_topk_sketch"].builder(spark, sf_dir).collect()
    assert 0 < len(rows) <= 25
    exact = {
        r["tok"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    err = rows[0]["err_bound"]
    for r in rows:
        true = exact[r["token"]]
        assert r["est_min"] <= true <= r["est_max"], r
    # MG guarantee: every token with true freq > total decrements survives
    # the sketch — so the reported top-25 must contain every exact-top token
    # whose count exceeds err_bound + the 25th reported est_min
    floor = rows[-1]["est_min"] + err
    reported = {r["token"] for r in rows}
    for tok, n in exact.items():
        if n > floor:
            assert tok in reported, (tok, n, floor)


def test_fuzzy_verify_lev_sane(spark, sf_dir):
    from tutorial_iceberg_spark.registry import all_queries

    rows = all_queries()["x_fuzzy_verify_lev"].builder(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 <= r["lev_prefix"] <= 80  # bounded by prefix length
        assert r["is_fuzzy_dup"] == int(r["lev_prefix"] <= 20)


def test_lake_dedup_ingest_equals_direct_incremental(spark, sf_dir):
    """The dedup-at-ingest composite recovers batch membership from
    snapshot provenance (incremental_read); with the append split chosen
    to match x_dedup_incremental's predicate split, the two pipelines
    must agree bit-for-bit — snapshot isolation + scoring in one
    differential, independent of the DuckDB oracle."""
    from tutorial_iceberg_spark.operators.dedup import (
        lake_dedup_ingest,
        x_dedup_incremental,
    )

    direct = x_dedup_incremental(spark, sf_dir).collect()
    composite = lake_dedup_ingest(spark, sf_dir).collect()
    assert [tuple(r) for r in direct] == [tuple(r) for r in composite]


def test_source_cap_two_phase_exact_under_skew(spark, tmp_path):
    """The salted two-phase per-source top-cap must equal the naive
    single-window form on a deliberately skewed corpus (one mega-source
    with 50x the docs of the others) — the shape where the naive window
    serializes onto one task at scale. Exactness argument under test:
    every global top-cap row also ranks <= cap within its salt cell, so
    phase 1 never discards a keeper."""
    from pyspark.sql import Window

    rows = [(i, "mega") for i in range(1000)] + [
        (10_000 + s * 100 + i, f"s{s}") for s in range(5) for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    d = str(tmp_path / "skew")
    docs.write.parquet(f"{d}/documents.parquet")
    got = [tuple(r) for r in T.x_source_cap(spark, d).collect()]

    per_src = docs.groupBy("source").agg(F.count("*").alias("n"))
    cap_v = per_src.agg(
        F.ceil(T.SOURCE_CAP_MULT * F.expr("percentile(n, 0.5d)")).alias("c")
    ).first()["c"]
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    naive = [
        tuple(r)
        for r in docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap_v)
        .orderBy("source", "doc_id")
        .collect()
    ]
    assert got == naive
    # the cap actually bit on the mega source
    assert sum(1 for _, s, _ in got if s == "mega") == cap_v < 1000


def test_span_rewrite_reassembly_invariants(spark, sf_dir):
    """The rewrite is a lossless reassembly of the KEPT spans: kept +
    removed token counts reconcile with the original, fully-unique
    documents round-trip to their whitespace-normalized text, and the
    corpus-wide first occurrence of every span content survives."""
    from pyspark.sql import functions as F

    from tutorial_iceberg_spark.io import load_table
    from tutorial_iceberg_spark.operators.pipeline import SPAN_TOKENS
    from tutorial_iceberg_spark.registry import all_queries

    out = {r["doc_id"]: r for r in
           all_queries()["x_dedup_span_rewrite"].builder(spark, sf_dir).collect()}
    orig = {
        r["doc_id"]: r["norm"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.concat_ws(" ", F.split(F.trim("text"), r"\s+")).alias("norm"))
        .collect()
    }
    assert set(out) == set(orig)
    total_removed = 0
    for d, r in out.items():
        n_tok = len(orig[d].split())
        assert r["n_spans"] == -(-n_tok // SPAN_TOKENS)
        # token accounting: kept text + removed tokens == original tokens
        assert len(r["clean_text"].split()) + r["removed_tokens"] == n_tok
        if r["removed_tokens"] == 0:
            assert r["clean_text"] == orig[d]  # lossless round-trip
        else:
            total_removed += r["removed_tokens"]
    assert total_removed > 0, "fixture has no duplicate spans: test is vacuous"
