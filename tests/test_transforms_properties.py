"""Property-based soundness gates for metadata pruning (hypothesis).

Pruning is an OPTIMIZATION with a hard contract: it may keep a file that
contains no matches, but it must NEVER drop a file that could contain one
— _candidates feeds delete()/update() as well as scan(), so an unsound
prune silently loses rows (the exact bug class the round-1 advisor found
on decimal identity partitions). These properties hammer that contract
over randomized values instead of a handful of examples.

No SparkSession needed: both functions under test are pure Python, so
hypothesis can run thousands of cases in milliseconds.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from hypothesis import given, settings
from hypothesis import strategies as st

from tutorial_iceberg_spark.lakehouse import transforms as T
from tutorial_iceberg_spark.lakehouse.metadata import PartitionField

OPS = ("=", "<", "<=", ">", ">=")


def _holds(x, op, v) -> bool:
    return {
        "=": x == v,
        "<": x < v,
        "<=": x <= v,
        ">": x > v,
        ">=": x >= v,
    }[op]


# -- identity partitions on int columns ------------------------------------

INT_TYPES = st.sampled_from(["int", "bigint", "integer", "long"])


@settings(max_examples=500)
@given(x=st.integers(-10**12, 10**12), v=st.integers(-10**12, 10**12),
       op=st.sampled_from(OPS), t=INT_TYPES)
def test_identity_int_pruning_sound(x, v, op, t):
    """If row value x satisfies the predicate, the file holding x must
    survive pruning (partition dir value is Spark's cast-to-string)."""
    pf = [PartitionField(source="c", source_id=1, transform="identity", name="c")]
    if _holds(x, op, v):
        assert T.partition_may_match(pf, {"c": str(x)}, "c", op, v, {"c": t})


@settings(max_examples=300)
@given(x=st.text(alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
                 max_size=20),
       v=st.text(alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
                 max_size=20),
       op=st.sampled_from(OPS))
def test_identity_string_pruning_sound(x, v, op):
    """String identity: the dir value is Hive-escaped; pruning must unescape
    before comparing, and a matching row's file must survive."""
    from urllib.parse import quote

    pf = [PartitionField(source="c", source_id=1, transform="identity", name="c")]
    if _holds(x, op, v):
        escaped = quote(x, safe="")  # worst-case full escaping
        assert T.partition_may_match(pf, {"c": escaped}, "c", op, v, {"c": "string"})
        # Spark escapes the special set INCLUDING '%' itself (verified:
        # '%00' writes as dir 'k=%2500'), so a bare '%' never appears in a
        # real dir value — the plain-dir case only arises for %-free values
        if "%" not in x:
            assert T.partition_may_match(pf, {"c": x}, "c", op, v, {"c": "string"})


@settings(max_examples=300)
@given(x=st.decimals(min_value=-10**6, max_value=10**6, places=2),
       v=st.floats(min_value=-10**6, max_value=10**6, allow_nan=False),
       op=st.sampled_from(OPS))
def test_identity_decimal_never_prunes(x, v, op):
    """Decimal/float identity comparisons must DECLINE to prune (dir-string
    formats diverge from literal formats: '25.5' vs '25.50')."""
    pf = [PartitionField(source="c", source_id=1, transform="identity", name="c")]
    assert T.partition_may_match(pf, {"c": str(x)}, "c", op, v, {"c": "decimal(10,2)"})
    assert T.partition_may_match(pf, {"c": str(x)}, "c", op, v, {"c": "double"})


# -- temporal transforms ----------------------------------------------------

TS = st.datetimes(
    min_value=datetime(1980, 1, 2), max_value=datetime(2100, 12, 30)
)


@settings(max_examples=500)
@given(x=TS, delta=st.timedeltas(min_value=timedelta(days=-5000),
                                 max_value=timedelta(days=5000)),
       op=st.sampled_from(OPS),
       transform=st.sampled_from(["year", "month", "day", "hour"]))
def test_temporal_bucket_pruning_sound(x, delta, op, transform):
    """year/month/day/hour partitions: if row timestamp x satisfies the
    predicate against literal v, x's partition must survive. The partition
    dir value is the write-path format (yyyy[-MM[-dd[-HH]]])."""
    v = x + delta
    pval = T.transform_value(transform, x)
    pf = [PartitionField(source="c", source_id=1, transform=transform,
                         name=f"c_{transform}")]
    if _holds(x, op, v):
        assert T.partition_may_match(
            pf, {f"c_{transform}": pval}, "c", op, v.isoformat(sep=" "),
            {"c": "timestamp"},
        ), (x, op, v, pval)


# -- min/max stats ----------------------------------------------------------


@settings(max_examples=500)
@given(data=st.data(), op=st.sampled_from(OPS))
def test_stats_pruning_sound_ints(data, op):
    a = data.draw(st.integers(-10**9, 10**9))
    b = data.draw(st.integers(-10**9, 10**9))
    x = data.draw(st.integers(min(a, b), max(a, b)))  # x inside [min,max]
    v = data.draw(st.integers(-10**9, 10**9))
    if _holds(x, op, v):
        assert T.stats_may_match([min(a, b), max(a, b)], op, v)


@settings(max_examples=300)
@given(data=st.data(), op=st.sampled_from(OPS))
def test_stats_pruning_sound_strings(data, op):
    a = data.draw(st.text(max_size=12))
    b = data.draw(st.text(max_size=12))
    lo, hi = min(a, b), max(a, b)
    x = data.draw(st.text(max_size=12).filter(lambda s: lo <= s <= hi))
    v = data.draw(st.text(max_size=12))
    if _holds(x, op, v):
        assert T.stats_may_match([lo, hi], op, v)


def test_mixture_plan_budgets_sum_to_total(spark, sf_dir):
    """The per-language token budgets must sum to (weights-sum x total);
    with the full weight vector covering every language, that is exactly
    the corpus total. Rates are positive; epochs = ceil(rate)."""
    import math

    from tutorial_iceberg_spark.operators.pipeline import (
        MIX_WEIGHTS,
        x_mixture_plan,
    )

    rows = x_mixture_plan(spark, sf_dir).collect()
    assert {r["lang"] for r in rows} <= set(MIX_WEIGHTS)
    total = sum(r["n_tokens"] for r in rows)
    budget = sum(r["target_tokens"] for r in rows)
    covered = sum(MIX_WEIGHTS[r["lang"]] for r in rows)
    assert abs(budget - covered * total) < 1e-6 * total
    for r in rows:
        assert r["sample_rate"] > 0
        assert r["epochs"] == math.ceil(r["sample_rate"])


def test_chunking_reconstructs_token_stream(spark, sf_dir):
    """Stride-window property: taking the first CHUNK_STRIDE tokens of
    every chunk plus the tail of the last chunk reproduces each document's
    exact token stream — no token lost or duplicated by the windowing."""
    from tutorial_iceberg_spark.io import load_table
    from tutorial_iceberg_spark.operators.pipeline import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        x_chunk_documents,
    )

    chunks = {}
    for r in x_chunk_documents(spark, sf_dir).collect():
        chunks.setdefault(r["doc_id"], []).append(r)
    docs = {
        r["doc_id"]: r["text"].strip().split()
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    assert set(chunks) == set(docs)
    for doc_id, rows in chunks.items():
        rows.sort(key=lambda r: r["chunk_id"])
        toks = []
        for i, r in enumerate(rows):
            ct = r["chunk_text"].split(" ")
            assert len(ct) == r["chunk_tokens"] <= CHUNK_TOKENS
            if i + 1 < len(rows):
                assert r["chunk_tokens"] == CHUNK_TOKENS  # only tail is short
                toks.extend(ct[:CHUNK_STRIDE])
            else:
                toks.extend(ct)
        want = docs[doc_id] if docs[doc_id] else [""]
        assert toks == want, f"doc {doc_id} token stream mismatch"


def test_chunk_overlap_matches_predecessor(spark, sf_dir):
    """Each chunk's leading overlap tokens equal the previous chunk's
    trailing tokens (the RAG context-continuity contract)."""
    from tutorial_iceberg_spark.operators.pipeline import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        x_chunk_documents,
    )

    overlap = CHUNK_TOKENS - CHUNK_STRIDE
    by_doc = {}
    for r in x_chunk_documents(spark, sf_dir).collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    checked = 0
    for rows in by_doc.values():
        rows.sort(key=lambda r: r["chunk_id"])
        for prev, cur in zip(rows, rows[1:]):
            p, c = prev["chunk_text"].split(" "), cur["chunk_text"].split(" ")
            assert c[:overlap] == p[CHUNK_STRIDE:CHUNK_STRIDE + overlap]
            checked += 1
    assert checked > 0


def test_skew_profile_shares_and_ratio(spark, sf_dir):
    """Top-10 shares must be <= max share sum 1, counts descending, and the
    skew ratio consistent with the reported max/p50 columns."""
    from tutorial_iceberg_spark.operators.pipeline import x_skew_profile

    rows = x_skew_profile(spark, sf_dir).collect()
    assert len(rows) == 10
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    r0 = rows[0]
    assert 0 < sum(r["share"] for r in rows) <= 1.0 + 1e-12
    assert abs(r0["skew_ratio"] - r0["cnt"] / r0["p50_group"]) < 1e-9
    assert r0["p99_group"] >= r0["p50_group"]


def test_crosstab_chi2_margins_consistent(spark, sf_dir):
    from collections import defaultdict

    from tutorial_iceberg_spark.io import load_table
    from tutorial_iceberg_spark.registry import all_queries

    rows = all_queries()["x_crosstab_chi2"].builder(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["obs"] for r in rows) == n_docs
    # full grid: |langs| x |sources| cells
    langs = {r["lang"] for r in rows}
    sources = {r["source"] for r in rows}
    assert len(rows) == len(langs) * len(sources)
    # expected counts reproduce the row margins exactly (independence model)
    row_exp, row_obs = defaultdict(float), defaultdict(int)
    for r in rows:
        row_exp[r["lang"]] += r["expected"]
        row_obs[r["lang"]] += r["obs"]
    for lang in langs:
        assert abs(row_exp[lang] - row_obs[lang]) < 1e-6
    assert all(r["chi2_contrib"] >= 0.0 for r in rows)


def test_distributed_row_number_property(spark):
    """Property: for arbitrary (value, key) frames, distributed_row_number
    over (value, key) equals Python's sorted-enumerate reference model."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tutorial_iceberg_spark.operators.relational import distributed_row_number

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        vals=st.lists(
            st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60
        ),
        nparts=st.integers(min_value=1, max_value=9),
    )
    def run(vals, nparts):
        rows = [(v, i) for i, v in enumerate(vals)]  # key = unique index
        df = spark.createDataFrame(rows, "v long, k long")
        got = {
            (r["v"], r["k"]): r["rn"]
            for r in distributed_row_number(df, ["v", "k"], nparts).collect()
        }
        want = {
            (v, k): i + 1
            for i, (v, k) in enumerate(sorted(rows))
        }
        assert got == want

    run()


def test_retention_bitmap_guard_raises_beyond_63_days(spark, tmp_path):
    """ADVICE r6: Spark's shiftleft wraps the shift amount mod 64, so a
    >62-day span would silently alias day N onto day N-64. The mask
    expression must now fail loudly instead."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tutorial_iceberg_spark.registry import all_queries

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "2024-01-01"), (1, "2024-04-01")], "user_id long, d string"
    ).select(
        "user_id", F.col("d").cast("timestamp").alias("ts")
    ).write.parquet(f"{sf}/events.parquet")
    build = all_queries()["x_retention_bitmap"].builder
    with _pytest.raises(Exception, match="span exceeds 63 days"):
        build(spark, sf).collect()


def test_distributed_row_number_validate_unique(spark):
    """ADVICE r6: a non-unique order key yields nondeterministic ranks;
    the opt-in validator must reject it and accept a keyed order."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tutorial_iceberg_spark.operators.relational import (
        distributed_row_number,
    )

    df = spark.range(100).select("id", (F.col("id") % 7).alias("v"))
    with _pytest.raises(ValueError, match="do not uniquely order"):
        distributed_row_number(df, ["v"], 8, validate_unique=True)
    ranked = distributed_row_number(df, ["v", "id"], 8, validate_unique=True)
    got = sorted(r["rn"] for r in ranked.collect())
    assert got == list(range(1, 101))


def test_retention_bitmap_matches_set_algebra(spark, sf_dir):
    from collections import defaultdict

    from pyspark.sql import functions as F

    from tutorial_iceberg_spark.io import load_table
    from tutorial_iceberg_spark.registry import all_queries

    rows = all_queries()["x_retention_bitmap"].builder(spark, sf_dir).collect()
    # reference model: per-user day sets
    act = defaultdict(set)
    for r in (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .distinct()
        .collect()
    ):
        act[r["user_id"]].add(r["day"])
    d0 = min(d for s in act.values() for d in s)
    for r in rows:
        d = r["day_idx"]
        a = sum(1 for s in act.values() if any((x - d0).days == d for x in s))
        ret = sum(
            1
            for s in act.values()
            if any((x - d0).days == d for x in s)
            and any((x - d0).days == d + 7 for x in s)
        )
        assert (r["n_active"], r["n_retained_7d"]) == (a, ret)


def test_windowed_funnel_is_subset_of_unbounded(spark, sf_dir):
    from tutorial_iceberg_spark.registry import all_queries

    qs = all_queries()
    bounded = {r["stage"]: r["users"]
               for r in qs["x_funnel_windowed"].builder(spark, sf_dir).collect()}
    unbounded = {r["stage"]: r["users"]
                 for r in qs["x_funnel_conversion"].builder(spark, sf_dir).collect()}
    assert bounded["view"] == unbounded["view"]  # stage 1 has no window
    assert bounded["click"] <= unbounded["click"]
    # NOTE: purchase is NOT necessarily a subset — the windowed funnel can
    # anchor on an EARLIER click (within 1h of view) whose 24h purchase
    # window differs; only the click stage is provably monotone
    assert bounded["purchase"] <= bounded["click"]


def test_stats_int_literal_vs_decimal_string_stats_not_truncated():
    """r10 ADVICE low: int literals vs per-file string stats used to be
    coerced with int(float(stat)), truncating toward zero — 'price < -99'
    wrongly pruned a file whose true min is -99.9. Bounds must stay float
    so file- and manifest-level checks share one exact numeric order."""
    assert T.stats_may_match(["-99.9", "-10.0"], "<", -99)
    assert T.stats_may_match(["10.0", "99.9"], ">", 99)
    assert T.stats_may_match(["99.5", "100.5"], "=", 100)
    # pruning still fires when genuinely disjoint
    assert not T.stats_may_match(["-98.9", "-10.0"], "<", -99)


def test_stats_utc_aware_timestamp_bounds_keep_boundary_rows():
    """pyarrow footer stats of a UTC-adjusted timestamp column read back
    as aware strings ('... +00:00'); a naive literal at the boundary
    instant must still match (compared as a string it sorted below the
    stat and the file holding the row was pruned)."""
    lo, hi = "2024-01-01 03:00:00+00:00", "2024-01-01 05:00:00+00:00"
    assert T.stats_may_match([lo, hi], "<=", "2024-01-01 03:00:00")
    assert T.stats_may_match([lo, lo], "=", "2024-01-01 03:00:00")
    assert T.stats_may_match([lo, hi], ">=", "2024-01-01 05:00:00")
    # pruning still fires when genuinely disjoint
    assert not T.stats_may_match([lo, hi], "<", "2024-01-01 03:00:00")
    assert not T.stats_may_match([lo, hi], ">", "2024-01-01 05:00:00")
