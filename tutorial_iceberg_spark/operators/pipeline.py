"""End-to-end corpus-cleaning pipeline (north-star composition demo).

The individual operators — quality scoring, language filtering, exact
dedup, token accounting — each have standalone oracle-checked queries
(functions/text.py, operators/dedup.py). This module composes them into
the canonical training-data preparation flow a 100 TB corpus runs through,
as ONE declarative DataFrame chain that Catalyst plans end-to-end:

    scan -> quality gate -> language allowlist -> exact dedup -> rollup

Scale shape: the quality and language gates are narrow (filter straight
off the scan, predicate-pushdown friendly on `lang`); the only shuffles
are the dedup hash-groupBy (keyed on content hash: duplicate skew ==
content skew) and the final tiny rollup. Nothing collects on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tutorial_iceberg_spark.functions.text import tokens
from tutorial_iceberg_spark.io import load_table
from tutorial_iceberg_spark.registry import register

MIN_TOKENS = 15
MAX_PUNCT_RATIO = 0.3
LANG_ALLOW = ("de", "en", "es", "fr")


@register(
    "x_pipeline_clean_corpus",
    oracle=rf"""
        WITH scored AS (
            SELECT doc_id, lang, source, text,
                   len(string_split_regex(trim(text), '\s+')) AS ntok,
                   len(regexp_extract_all(text, '[.,;:!?]')) AS npunct
            FROM documents
        ), gated AS (
            SELECT * FROM scored
            WHERE ntok >= {MIN_TOKENS}
              AND CAST(npunct AS DOUBLE) / ntok < {MAX_PUNCT_RATIO}
              AND lang IN ('de', 'en', 'es', 'fr')
        ), deduped AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY sha256(text) ORDER BY doc_id) AS rn
                FROM gated) t
            WHERE rn = 1
        )
        SELECT lang, source,
               COUNT(*) AS docs,
               CAST(SUM(ntok) AS BIGINT) AS total_tokens,
               MIN(doc_id) AS first_doc
        FROM deduped
        GROUP BY lang, source
        ORDER BY lang, source
    """,
    doc="Corpus-cleaning pipeline: C4-style quality gate (min tokens, max "
    "punctuation ratio) -> language allowlist -> exact dedup (first doc "
    "per content hash) -> per-(lang,source) accounting, as one Catalyst-"
    "planned chain. Gates are narrow filters off the scan; the only "
    "shuffles are the content-hash dedup and the tiny rollup",
    tags=("text", "pipeline", "extension"),
)
def x_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    ntok = F.size(tokens())
    npunct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.,;:!?]"), 0))
    gated = (
        docs.select("doc_id", "lang", "source", "text", ntok.alias("ntok"))
        .withColumn("npunct", npunct)
        .filter(
            (F.col("ntok") >= MIN_TOKENS)
            & (F.col("npunct").cast("double") / F.col("ntok") < MAX_PUNCT_RATIO)
            & F.col("lang").isin(*LANG_ALLOW)
        )
    )
    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    return (
        deduped.groupBy("lang", "source")
        .agg(
            F.count("*").alias("docs"),
            F.sum("ntok").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("lang", "source")
    )


DECON_NGRAM = 5


@register(
    "x_decontaminate",
    oracle=rf"""
        WITH tok AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
            FROM documents
        ), grams AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - {DECON_NGRAM - 1}, 0)),
                       i -> array_to_string(w[i:i+{DECON_NGRAM - 1}], ' ')))) AS g
            FROM tok
        ), eval_grams AS (
            SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
        ), contaminated AS (
            SELECT DISTINCT doc_id FROM grams
            WHERE doc_id % 50 <> 0 AND g IN (SELECT g FROM eval_grams)
        )
        SELECT d.lang,
               COUNT(*) AS kept_docs,
               CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
        FROM documents d
        WHERE d.doc_id % 50 <> 0
          AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
        GROUP BY d.lang
        ORDER BY d.lang
    """,
    doc=f"Benchmark decontamination: drop every training doc sharing ANY "
    f"{DECON_NGRAM}-gram with the eval set (docs with doc_id%50=0 stand in "
    "for a benchmark). The canonical leakage guard before LLM training. "
    "Plan: one shingle explode per side, eval grams DISTINCT then "
    "broadcast into a semi-join (the eval set is always tiny relative to "
    "the corpus), contaminated ids anti-joined back — the corpus text is "
    "never shuffled, only its gram stream",
    tags=("text", "pipeline", "extension"),
)
def x_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tutorial_iceberg_spark.operators.dedup import shingles

    docs = load_table(spark, sf_dir, "documents", spread=True)
    grams = docs.select(
        "doc_id", F.explode(shingles("text", DECON_NGRAM)).alias("g")
    )
    eval_grams = grams.filter(F.col("doc_id") % 50 == 0).select("g").distinct()
    contaminated = (
        grams.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(eval_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return (
        train.join(contaminated, "doc_id", "left_anti")
        .groupBy("lang")
        .agg(
            F.count("*").alias("kept_docs"),
            F.sum("n_chars").alias("kept_chars"),
        )
        .orderBy("lang")
    )


N_SHARDS = 32
PACK_TOKEN_BUDGET = 256


CORPUS_SHUFFLE_WORKERS = 8  # round-robin data-loader worker assignment


@register(
    "x_corpus_shuffle",
    oracle=f"""
        SELECT doc_id, lang,
               row_number() OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS shuffle_pos,
               CAST((row_number() OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1)
                   % {CORPUS_SHUFFLE_WORKERS} AS BIGINT) AS worker
        FROM documents
        ORDER BY doc_id
    """,
    doc="Deterministic global training-order shuffle: every document gets "
    "a dense 1..N position in md5(doc_id) order plus a round-robin "
    "data-loader worker assignment — reproducible across engines, "
    "retries, and re-plans (the seedless analog of a seeded epoch "
    "permutation). The global rank comes from distributed_row_number "
    "(range repartition + local sort + broadcast offset table), NOT a "
    "single-reducer ORDER BY window — the scale trap a naive shuffle "
    "implementation hits first. The oracle states the same rank as a "
    "plain window",
    tags=("pipeline", "sampling", "extension"),
)
def x_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tutorial_iceberg_spark.operators.relational import (
        distributed_row_number,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("__h")
    )
    ranked = distributed_row_number(docs, ["__h", "doc_id"])
    return (
        ranked.select(
            "doc_id",
            "lang",
            F.col("rn").alias("shuffle_pos"),
            ((F.col("rn") - 1) % CORPUS_SHUFFLE_WORKERS).alias("worker"),
        )
        .orderBy("doc_id")
    )



@register(
    "x_dataset_split",
    oracle="""
        SELECT CASE WHEN b < 90 THEN 'train'
                    WHEN b < 95 THEN 'val'
                    ELSE 'test' END AS split,
               COUNT(*) AS docs,
               CAST(SUM(n_chars) AS BIGINT) AS chars,
               COUNT(DISTINCT lang) AS langs
        FROM (SELECT *,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                          AS BIGINT) % 100 AS b
              FROM documents) t
        GROUP BY 1
        ORDER BY 1
    """,
    doc="Deterministic train/val/test split (90/5/5) by content-independent "
    "hash bucket of doc_id — stable under reprocessing, shard-count "
    "changes, and corpus growth (a doc never migrates between splits). "
    "Pure narrow map + tiny agg: no shuffle of the corpus itself",
    tags=("text", "pipeline", "extension"),
)
def x_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint"),
        F.lit(100),
    )
    split = (
        F.when(b < 90, "train").when(b < 95, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars", "lang")
        .groupBy("split")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_chars").alias("chars"),
            F.countDistinct("lang").alias("langs"),
        )
        .orderBy("split")
    )


@register(
    "x_pack_sequences",
    oracle=rf"""
        WITH sized AS (
            SELECT doc_id,
                   doc_id % {N_SHARDS} AS shard,
                   len(string_split_regex(trim(text), '\s+')) AS ntok
            FROM documents
        ), binned AS (
            SELECT shard, doc_id, ntok,
                   CAST((SUM(ntok) OVER (PARTITION BY shard ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) - 1)
                        // {PACK_TOKEN_BUDGET} AS INTEGER) AS bin
            FROM sized
        )
        SELECT shard, bin,
               COUNT(*) AS docs,
               CAST(SUM(ntok) AS BIGINT) AS packed_tokens
        FROM binned
        GROUP BY shard, bin
        ORDER BY shard, bin
    """,
    doc=f"Sequence packing for pretraining: docs stream into fixed "
    f"{PACK_TOKEN_BUDGET}-token bins via a running token count (bin = "
    "(cumsum-1)//budget), independently within each of "
    f"{N_SHARDS} hash shards — so the window sort is per-shard, "
    "parallelism = shard count, and NO global sort exists anywhere. The "
    "greedy-streaming formulation is deterministic (doc_id order) and "
    "equals what a per-worker packer produces at 100 TB",
    tags=("text", "pipeline", "extension"),
)
def x_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(N_SHARDS)).alias("shard"),
        F.size(tokens()).alias("ntok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = sized.withColumn(
        "bin", ((F.sum("ntok").over(w) - 1) / PACK_TOKEN_BUDGET).cast("int")
    )
    return (
        binned.groupBy("shard", "bin")
        .agg(F.count("*").alias("docs"), F.sum("ntok").alias("packed_tokens"))
        .orderBy("shard", "bin")
    )


# Physical shard count for the corpus shard WRITER (distinct from
# N_SHARDS above, which is the logical packing-parallelism dial).
CORPUS_SHARDS = 8


@register(
    "x_shard_corpus",
    oracle=f"""
        SELECT (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                     AS INTEGER) % {CORPUS_SHARDS}) AS shard,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               COUNT(DISTINCT lang) AS n_langs
        FROM documents
        GROUP BY 1
        ORDER BY 1
    """,
    doc="Deterministic corpus sharding (pretraining shard writer): shard = "
    "md5(doc_id) 16-bit prefix mod 8 — seedless, engine-independent, and "
    "stable under retries/re-plans, so a resumed 100 TB write regenerates "
    "byte-identical shards. The write path repartitions BY THE SHARD "
    "COLUMN and sorts within partitions by the hash key (one shuffle; "
    "each task writes whole shard files in deterministic document order, "
    "no small-file spray), then partitionBy(shard) lays out "
    "shard=N/ directories that partition discovery prunes on read. The "
    "registered result is the post-write per-shard audit read BACK from "
    "the sharded layout: doc counts, char mass, and language spread per "
    "shard (md5 uniformity keeps shards balanced — skew pytest-gated)",
    tags=("pipeline", "sink", "extension"),
)
def x_shard_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tutorial_iceberg_spark.sources.sinks import scratch_dir

    docs = load_table(spark, sf_dir, "documents", spread=True)
    hkey = F.md5(F.col("doc_id").cast("string"))
    sharded = docs.withColumn(
        "shard",
        (F.conv(F.substring(hkey, 1, 4), 16, 10).cast("int") % CORPUS_SHARDS),
    )
    path = scratch_dir("shard_corpus")
    (
        sharded.repartition(CORPUS_SHARDS, "shard")
        .sortWithinPartitions("shard", hkey)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    back = spark.read.parquet(path)  # shard=N/ partition discovery
    return (
        back.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("shard")
    )


# Target training-mix weights by language (a fixed literal plan so the
# oracle is a closed expression; production parameterizes this map).
MIX_WEIGHTS = {"en": 0.5, "de": 0.15, "es": 0.15, "fr": 0.1, "zh": 0.1}


def _mixture_rates(docs: DataFrame) -> DataFrame:
    """(lang, n_docs, n_tokens, target_weight, target_tokens, sample_rate)
    per language: its MIX_WEIGHTS share of the corpus token total and the
    sampling rate that hits it (rate > 1 means oversampling)."""
    # stats feeds BOTH the total and the rate frame; without
    # materialization the corpus tokenize census runs twice. |langs|
    # rows. sf0.1, medians of 3 interleaved runs, executor run time with
    # vs plain: x_mixture_plan 0.37 s vs 0.72 s, x_mixture_sample 0.52 s
    # vs 1.08 s (documents records read 10k vs 15k).
    stats = (
        docs.select("lang", F.size(tokens()).alias("ntok"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("ntok").alias("n_tokens"))
        .localCheckpoint(eager=False)
    )
    tot = stats.agg(F.sum("n_tokens").alias("total_tokens"))
    (first, first_wt), *middle, (_, last_wt) = MIX_WEIGHTS.items()
    w = F.when(F.col("lang") == first, F.lit(first_wt))
    for lang_key, wt in middle:
        w = w.when(F.col("lang") == lang_key, F.lit(wt))
    w = w.otherwise(F.lit(last_wt))
    target = w * F.col("total_tokens").cast("double")
    rate = target / F.col("n_tokens").cast("double")
    return stats.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        w.alias("target_weight"),
        target.alias("target_tokens"),
        rate.alias("sample_rate"),
    )


@register(
    "x_mixture_plan",
    oracle=r"""
        WITH stats AS (
            SELECT lang,
                   COUNT(*) AS n_docs,
                   SUM(len(string_split_regex(trim(text), '\s+'))) AS n_tokens
            FROM documents
            GROUP BY lang
        ),
        tot AS (SELECT SUM(n_tokens) AS total_tokens FROM stats)
        SELECT stats.lang,
               stats.n_docs,
               CAST(stats.n_tokens AS BIGINT) AS n_tokens,
               CAST(CASE stats.lang
                    WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.15
                    WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.1
                    ELSE 0.1 END AS DOUBLE) AS target_weight,
               (CASE stats.lang
                    WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.15
                    WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.1
                    ELSE 0.1 END
                * CAST(tot.total_tokens AS DOUBLE)) AS target_tokens,
               ((CASE stats.lang
                    WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.15
                    WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.1
                    ELSE 0.1 END
                * CAST(tot.total_tokens AS DOUBLE))
                / CAST(stats.n_tokens AS DOUBLE)) AS sample_rate,
               CAST(ceil((CASE stats.lang
                    WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.15
                    WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.1
                    ELSE 0.1 END
                * CAST(tot.total_tokens AS DOUBLE))
                / CAST(stats.n_tokens AS DOUBLE)) AS INTEGER) AS epochs
        FROM stats CROSS JOIN tot
        ORDER BY stats.lang
    """,
    doc="Training-mixture planning (dataset mixing): given per-language "
    "token inventories and a target weight vector, compute each "
    "language's token budget, the sampling rate that hits it "
    "(rate > 1 means the pool must repeat = oversampling), and the epoch "
    "count (ceil of rate) a sampler like x_hash_sample / x_quota_sample "
    "would need. This is the bookkeeping layer that turns 'we want "
    "50% English' into per-stream sample rates. One hash agg over the "
    "corpus + a 1-row total broadcast; all arithmetic is a deterministic "
    "IEEE chain (int sums, literal weights, one multiply + one divide), "
    "bit-identical to the oracle",
    tags=("pipeline", "sampling", "extension"),
)
def x_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return (
        _mixture_rates(docs)
        .withColumn("epochs", F.ceil("sample_rate").cast("int"))
        .orderBy("lang")
    )


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # overlap = CHUNK_TOKENS - CHUNK_STRIDE = 16 tokens


@register(
    "x_chunk_documents",
    oracle=rf"""
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\s+') AS toks,
                   len(string_split_regex(trim(text), '\s+')) AS n
            FROM documents
        ), s AS (
            SELECT doc_id, toks, n, CAST(start AS BIGINT) AS start
            FROM t, UNNEST(range(0, CAST(n AS BIGINT), {CHUNK_STRIDE}))
                    AS u(start)
            WHERE start = 0
               OR start < n - {CHUNK_TOKENS - CHUNK_STRIDE}
        )
        SELECT doc_id,
               CAST(start // {CHUNK_STRIDE} AS INT) AS chunk_id,
               array_to_string(
                   list_slice(toks, start + 1, start + {CHUNK_TOKENS}), ' '
               ) AS chunk_text,
               CAST(least({CHUNK_TOKENS}, n - start) AS INT) AS chunk_tokens
        FROM s
        ORDER BY doc_id, chunk_id
    """,
    doc=f"RAG-style document chunking: overlapping {CHUNK_TOKENS}-token "
    f"windows every {CHUNK_STRIDE} tokens (16-token overlap), tail chunks "
    "that would be wholly contained in their predecessor dropped. Pure "
    "narrow Catalyst plan — tokenize once, sequence() start offsets, "
    "posexplode, slice + array_join — zero shuffles, zero Python; output "
    "partitioning inherits the scan, so 100 TB chunks in one "
    "embarrassingly-parallel pass. The downstream embed step is "
    "x_multimodal_features' Arrow batch shape over chunk_text",
    tags=("text", "pipeline", "extension"),
)
def x_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    overlap = CHUNK_TOKENS - CHUNK_STRIDE
    toks = tokens()
    t = docs.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n")
    )
    # start offsets 0, stride, 2*stride, ... < n  (n >= 1 always: split of
    # an empty string yields [""]); sequence() is ascending-safe because
    # the upper bound n-1 >= 0
    starts = F.sequence(
        F.lit(0).cast("long"),
        (F.col("n") - 1).cast("long"),
        F.lit(CHUNK_STRIDE).cast("long"),
    )
    s = (
        t.select("doc_id", "toks", "n", F.explode(starts).alias("start"))
        .filter((F.col("start") == 0) | (F.col("start") < F.col("n") - overlap))
    )
    return (
        s.select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("toks"), F.col("start") + 1, F.lit(CHUNK_TOKENS)),
                " ",
            ).alias("chunk_text"),
            F.least(F.lit(CHUNK_TOKENS), F.col("n") - F.col("start"))
            .cast("int")
            .alias("chunk_tokens"),
        )
        .orderBy("doc_id", "chunk_id")
    )


@register(
    "x_chunk_dedup",
    oracle=rf"""
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\s+') AS toks,
                   len(string_split_regex(trim(text), '\s+')) AS n
            FROM documents
        ), s AS (
            SELECT doc_id, toks, n, CAST(start AS BIGINT) AS start
            FROM t, UNNEST(range(0, CAST(n AS BIGINT), {CHUNK_STRIDE}))
                    AS u(start)
            WHERE start = 0
               OR start < n - {CHUNK_TOKENS - CHUNK_STRIDE}
        ), c AS (
            SELECT doc_id,
                   CAST(start // {CHUNK_STRIDE} AS INT) AS chunk_id,
                   array_to_string(
                       list_slice(toks, start + 1, start + {CHUNK_TOKENS}),
                       ' ') AS chunk_text,
                   CAST(least({CHUNK_TOKENS}, n - start) AS INT)
                       AS chunk_tokens
            FROM s
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY sha256(chunk_text)
                ORDER BY doc_id, chunk_id) AS rn
            FROM c
        )
        SELECT doc_id,
               COUNT(*) AS n_chunks,
               COUNT(*) FILTER (WHERE rn = 1) AS kept_chunks,
               CAST(SUM(CASE WHEN rn = 1 THEN chunk_tokens ELSE 0 END)
                    AS BIGINT) AS kept_tokens
        FROM ranked GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Sub-document (chunk-level) exact dedup — the pass that catches "
    "boilerplate repeated INSIDE otherwise-distinct documents, which "
    "whole-doc dedup (x_dedup_exact) is blind to: chunk every document "
    "(same windows as x_chunk_documents), keep the first (doc_id, "
    "chunk_id) per content hash, and report per-doc surviving chunks "
    "and tokens. One shuffle keyed on the chunk hash (duplicate skew == "
    "content skew, same argument as doc-level dedup); the chunking "
    "itself stays a narrow zero-shuffle pass",
    tags=("text", "pipeline", "dedup", "extension"),
)
def x_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = x_chunk_documents(spark, sf_dir)
    w = Window.partitionBy(F.sha2("chunk_text", 256)).orderBy(
        "doc_id", "chunk_id"
    )
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    kept = F.col("rn") == 1
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count_if(kept).alias("kept_chunks"),
            F.sum(F.when(kept, F.col("chunk_tokens")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
        )
        .orderBy("doc_id")
    )


SPAN_TOKENS = 16  # non-overlapping span width for the rewrite pass


@register(
    "x_dedup_span_rewrite",
    oracle=rf"""
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\s+') AS toks,
                   len(string_split_regex(trim(text), '\s+')) AS n
            FROM documents
        ), s AS (
            SELECT doc_id,
                   CAST(i AS INT) AS span_id,
                   array_to_string(
                       list_slice(toks, i * {SPAN_TOKENS} + 1,
                                  (i + 1) * {SPAN_TOKENS}), ' ') AS span_text,
                   CAST(least({SPAN_TOKENS}, n - i * {SPAN_TOKENS}) AS BIGINT)
                       AS span_tokens
            FROM t, UNNEST(range(0,
                     CAST(ceil(n / {SPAN_TOKENS}.0) AS BIGINT))) AS u(i)
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY md5(span_text)
                ORDER BY doc_id, span_id) AS rn
            FROM s
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS kept_spans,
               CAST(COALESCE(SUM(span_tokens) FILTER (WHERE rn > 1), 0)
                    AS BIGINT) AS removed_tokens,
               COALESCE(string_agg(span_text, ' ' ORDER BY span_id)
                        FILTER (WHERE rn = 1), '') AS clean_text
        FROM ranked GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Span-aligned exact dedup WITH document rewrite — the cleaned-"
    "corpus deliverable x_chunk_dedup's report stops short of (cf. the "
    "exact-substring dedup pass of Lee et al., 'Deduplicating Training "
    "Data Makes Language Models Better'): split every document into "
    f"consecutive non-overlapping {SPAN_TOKENS}-token spans, keep the "
    "corpus-wide FIRST occurrence of each span's content (md5, ordered "
    "by doc_id, span_id — intra-doc repeats drop too), and REASSEMBLE "
    "each document from its surviving spans in order. Output is the "
    "rewritten corpus (doc_id, clean_text) plus the audit columns. "
    "Boundary-aligned by construction — the Spark-expressible variant "
    "of suffix-array substring dedup; unaligned near-dups are the "
    "MinHash family's job. Scale shape: one narrow zero-shuffle span "
    "pass, ONE shuffle keyed on span hash, one per-doc ordered "
    "reassembly agg — no driver state, no collect",
    tags=("text", "pipeline", "dedup", "extension"),
)
def x_dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    S = SPAN_TOKENS
    spans = docs.select(
        "doc_id",
        tokens().alias("toks"),
    ).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(toks) / {S}.0) as int) - 1),"
                f" i -> struct(array_join(slice(toks, i * {S} + 1, {S}), ' ')"
                f" as span_text,"
                f" least({S}, size(toks) - i * {S}) as span_tokens))"
            )
        ).alias("span_id", "sp"),
    ).select(
        "doc_id",
        F.col("span_id").cast("int").alias("span_id"),
        F.col("sp.span_text").alias("span_text"),
        F.col("sp.span_tokens").cast("bigint").alias("span_tokens"),
    )
    w = Window.partitionBy(F.md5("span_text")).orderBy("doc_id", "span_id")
    ranked = spans.withColumn("rn", F.row_number().over(w))
    kept = F.col("rn") == 1
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_spans"),
            F.count_if(kept).cast("bigint").alias("kept_spans"),
            F.coalesce(
                F.sum(F.when(~kept, F.col("span_tokens"))), F.lit(0)
            ).cast("bigint").alias("removed_tokens"),
            # ordered reassembly: collect_list skips the NULLed dropped
            # spans; array_sort orders the structs by span_id (first
            # field); join with the same separator the splitter used
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(kept, F.struct("span_id", "span_text"))
                        )
                    ),
                    lambda s: s.span_text,
                ),
                " ",
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


@register(
    "x_skew_profile",
    oracle="""
        WITH g AS (
            SELECT user_id, COUNT(*) AS cnt
            FROM events
            GROUP BY user_id
        ), stats AS (
            SELECT COUNT(*) AS n_keys,
                   SUM(cnt) AS total_rows,
                   quantile_cont(cnt, 0.5) AS p50_group,
                   quantile_cont(cnt, 0.99) AS p99_group,
                   MAX(cnt) AS max_group
            FROM g
        )
        SELECT user_id, cnt,
               CAST(cnt AS DOUBLE) / total_rows AS share,
               n_keys, CAST(total_rows AS BIGINT) AS total_rows,
               p50_group, p99_group,
               CAST(max_group AS DOUBLE) / p50_group AS skew_ratio
        FROM g, stats
        ORDER BY cnt DESC, user_id
        LIMIT 10
    """,
    doc="Join-key skew diagnostics: per-key cardinality profile of "
    "events.user_id — the top heavy hitters with their share of all rows, "
    "plus corpus-level group-size percentiles and the max/median skew "
    "ratio. This is the probe that decides whether a downstream join "
    "needs salting (j4_salted_skew_join) or can rely on AQE skew "
    "splitting. One hash groupBy (partial agg map-side), a 1-row global "
    "stats broadcast, and a TakeOrdered top-10 — per-key counts never "
    "collect on the driver, so the profile costs one shuffle at any scale",
    tags=("pipeline", "diagnostics", "extension"),
)
def x_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # the per-key count frame feeds BOTH the 1-row stats aggregate and the
    # top-10; no checkpoint: sf0.1, 10 A/B pairs, 0.29 s plain vs 0.32 s
    # checkpointed, bit-exact
    g = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    pct = F.percentile(F.col("cnt"), F.array(F.lit(0.5), F.lit(0.99)))
    stats = g.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("total_rows"),
        pct.alias("pcts"),
        F.max("cnt").alias("max_group"),
    ).select(
        "n_keys",
        "total_rows",
        F.col("pcts")[0].alias("p50_group"),
        F.col("pcts")[1].alias("p99_group"),
        "max_group",
    )
    return (
        g.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            "cnt",
            (F.col("cnt").cast("double") / F.col("total_rows")).alias("share"),
            "n_keys",
            "total_rows",
            "p50_group",
            "p99_group",
            (F.col("max_group").cast("double") / F.col("p50_group")).alias(
                "skew_ratio"
            ),
        )
        .orderBy(F.desc("cnt"), "user_id")
        .limit(10)
    )


WINSOR_LO, WINSOR_HI = 0.05, 0.95


@register(
    "x_winsorize",
    oracle="""
        WITH stats AS (
            SELECT event_type,
                   quantile_cont(value, 0.05) AS p05,
                   quantile_cont(value, 0.95) AS p95
            FROM events
            GROUP BY event_type
        )
        SELECT e.event_type,
               COUNT(*) AS n,
               CAST(SUM(CASE WHEN value < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
               CAST(SUM(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high,
               (CAST(SUM(CAST(value AS DECIMAL(15,4))) AS DOUBLE)
                 / COUNT(value)) AS mean_before,
               (CAST(SUM(CAST(least(greatest(value, p05), p95)
                              AS DECIMAL(15,4))) AS DOUBLE)
                 / COUNT(value)) AS mean_after,
               MAX(p05) AS p05,
               MAX(p95) AS p95
        FROM events e JOIN stats s USING (event_type)
        GROUP BY e.event_type
        ORDER BY e.event_type
    """,
    doc="Winsorization audit (robust feature normalization): clip "
    "events.value to its per-type [p05, p95] band and report, per type, "
    "how many rows clipped each side and the exact-decimal mean before/"
    "after. Canonical two-pass normalize: pass 1 computes per-group "
    "percentile bounds (tiny frame, broadcast — bounded by event-type "
    "cardinality), pass 2 re-reads only (event_type, value) columns, "
    "clips via least/greatest and aggregates. Percentiles are exact "
    "interpolated (same IEEE formula as DuckDB quantile_cont); means use "
    "the DECIMAL sum discipline so results are partitioning-invariant. "
    "At extreme group cardinality swap pass 1 to approx_percentile",
    tags=("pipeline", "agg", "extension"),
)
def x_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tutorial_iceberg_spark.functions.numeric import davg, dec

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    pct = F.percentile(
        F.col("value"), F.array(F.lit(WINSOR_LO), F.lit(WINSOR_HI))
    )
    stats = (
        ev.groupBy("event_type")
        .agg(pct.alias("p"))
        .select(
            "event_type",
            F.col("p")[0].alias("p05"),
            F.col("p")[1].alias("p95"),
        )
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("value") < F.col("p05"), 1).otherwise(0)
            ).alias("n_clip_low"),
            F.sum(
                F.when(F.col("value") > F.col("p95"), 1).otherwise(0)
            ).alias("n_clip_high"),
            davg("value", "mean_before"),
            (F.sum(dec(clipped)).cast("double") / F.count("value")).alias(
                "mean_after"
            ),
            F.max("p05").alias("p05"),
            F.max("p95").alias("p95"),
        )
        .orderBy("event_type")
    )


# Kept over its oracle text: the text plans 7 SinglePartition exchanges at sf0.1, this builder 4.
@register(
    "x_data_quality_audit",
    oracle="""
        SELECT 'events_value_null' AS check_name,
               COUNT(*) AS n_checked,
               CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        FROM events
        UNION ALL
        SELECT 'events_value_negative',
               COUNT(*),
               CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'documents_pk_unique',
               COUNT(*),
               COUNT(*) - COUNT(DISTINCT doc_id)
        FROM documents
        UNION ALL
        SELECT 'orders_fk_customer',
               (SELECT COUNT(*) FROM orders),
               (SELECT COUNT(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'lineitem_fk_orders',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
        ORDER BY check_name
    """,
    doc="Declarative data-quality audit (Great-Expectations shape): null "
    "rate, value-range, primary-key uniqueness, and two referential-"
    "integrity checks, each one row of (check, n_checked, n_violations). "
    "Scale shape: same-table checks fuse into ONE conditional aggregate "
    "scan (events runs null + range in a single pass); FK checks are "
    "left-anti joins counted — shuffle equi-joins AQE can turn into "
    "broadcasts when the parent side is small, never a driver-side "
    "row loop. The union of 1-row frames is free",
    tags=("pipeline", "diagnostics", "extension"),
)
def x_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")

    def row(name, n_checked, n_violations):
        return F.struct(
            F.lit(name).alias("check_name"),
            n_checked.cast("long").alias("n_checked"),
            n_violations.cast("long").alias("n_violations"),
        )

    # events: two checks in one conditional-agg scan
    ev_checks = ev.agg(
        F.array(
            row(
                "events_value_null",
                F.count("*"),
                F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)),
            ),
            row(
                "events_value_negative",
                F.count("*"),
                F.sum(F.when(F.col("value") < 0, 1).otherwise(0)),
            ),
        ).alias("checks")
    ).select(F.explode("checks").alias("c"))
    doc_checks = docs.agg(
        row(
            "documents_pk_unique",
            F.count("*"),
            F.count("*") - F.countDistinct("doc_id"),
        ).alias("c")
    ).select("c")
    # FK checks as ONE left-outer pass per fact table: the old
    # anti-join + separate COUNT scanned each fact twice (r16). The
    # build side is the distinct key set, so a (hypothetically)
    # duplicated dimension key cannot multiply fact rows — violation
    # count stays exactly the anti-join's (NULL fact keys match nothing
    # on either form and count as violations on both).
    def fk_check(name, fact, fkey, dim, dkey):
        keys = dim.select(F.col(dkey).alias("__k")).distinct()
        return (
            fact.join(keys, fact[fkey] == F.col("__k"), "left")
            .agg(
                row(
                    name,
                    F.count("*"),
                    F.sum(F.when(F.col("__k").isNull(), 1).otherwise(0)),
                ).alias("c")
            )
            .select("c")
        )

    fk_orders = fk_check("orders_fk_customer", orders, "o_custkey", cust, "c_custkey")
    fk_lines = fk_check("lineitem_fk_orders", li, "l_orderkey", orders, "o_orderkey")
    return (
        ev_checks.unionByName(doc_checks)
        .unionByName(fk_orders)
        .unionByName(fk_lines)
        .select("c.check_name", "c.n_checked", "c.n_violations")
        .orderBy("check_name")
    )


FUNNEL = ("view", "click", "purchase")


# Kept over its oracle text: the text plans 4 SinglePartition exchanges at sf0.1, this builder 1.
@register(
    "x_funnel_conversion",
    oracle="""
        WITH v AS (
            SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), c AS (
            SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t1
            GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, MIN(e.ts) AS t3
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t2
            GROUP BY e.user_id
        ), counts AS (
            SELECT (SELECT COUNT(*) FROM v) AS n1,
                   (SELECT COUNT(*) FROM c) AS n2,
                   (SELECT COUNT(*) FROM p) AS n3
        )
        SELECT stage_idx, stage, users,
               CAST(users AS DOUBLE)
                 / NULLIF(LAG(users) OVER (ORDER BY stage_idx), 0)
                 AS conv_from_prev,
               CAST(users AS DOUBLE) / NULLIF(first_n, 0) AS conv_from_first
        FROM (
            SELECT 1 AS stage_idx, 'view' AS stage, n1 AS users, n1 AS first_n
            FROM counts
            UNION ALL
            SELECT 2, 'click', n2, n1 FROM counts
            UNION ALL
            SELECT 3, 'purchase', n3, n1 FROM counts
        ) t
        ORDER BY stage_idx
    """,
    doc="Ordered funnel analysis (view -> click -> purchase): a user "
    "advances a stage only with an event STRICTLY AFTER their previous "
    "stage's first event — the classic product-analytics conversion "
    "funnel. Plan: ONE pushed-filter scan of the funnel event types and "
    "ONE shuffle on user_id — per user, t1 = MIN(view ts) and the "
    "click/purchase timestamps collected as per-user arrays (partial "
    "aggregation merges map-side; array size is bounded by one user's "
    "funnel events, the same per-user bound x_sessionize's window "
    "carries), then t2/t3 fall out of array_min over a filtered array. "
    "COUNT(t_i) over the per-user frame gives all three stage counts in "
    "one row — no per-stage join chain, no checkpoint of any "
    "user-cardinality frame (r16 VERDICT item 4). The 3-row summary "
    "with lag-based step conversion is driver-free",
    tags=("pipeline", "analytics", "extension"),
)
def x_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = (
        ev.filter(F.col("event_type").isin(*FUNNEL))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == FUNNEL[0], F.col("ts"))).alias("t1"),
            F.collect_list(
                F.when(F.col("event_type") == FUNNEL[1], F.col("ts"))
            ).alias("cts"),
            F.collect_list(
                F.when(F.col("event_type") == FUNNEL[2], F.col("ts"))
            ).alias("pts"),
        )
    )
    # t2 = first click strictly after t1; t3 = first purchase strictly
    # after t2. x > NULL is NULL, so users missing an earlier stage
    # yield an empty filtered array and array_min(empty) = NULL — the
    # join-chain semantics exactly (oracle-verified bit-exact).
    u = per_user.withColumn(
        "t2", F.array_min(F.filter("cts", lambda x: x > F.col("t1")))
    ).withColumn("t3", F.array_min(F.filter("pts", lambda x: x > F.col("t2"))))
    counts = u.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
    )
    stages = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("stage_idx"),
                    F.lit("view").alias("stage"),
                    F.col("n1").alias("users"),
                    F.col("n1").alias("first_n"),
                ),
                F.struct(
                    F.lit(2).alias("stage_idx"),
                    F.lit("click").alias("stage"),
                    F.col("n2").alias("users"),
                    F.col("n1").alias("first_n"),
                ),
                F.struct(
                    F.lit(3).alias("stage_idx"),
                    F.lit("purchase").alias("stage"),
                    F.col("n3").alias("users"),
                    F.col("n1").alias("first_n"),
                ),
            )
        ).alias("s")
    ).select("s.stage_idx", "s.stage", "s.users", "s.first_n")
    w = Window.orderBy("stage_idx")
    prev = F.lag("users").over(w)
    return stages.select(
        "stage_idx",
        "stage",
        "users",
        (
            F.col("users").cast("double")
            / F.nullif(prev, F.lit(0)).cast("double")
        ).alias("conv_from_prev"),
        (
            F.col("users").cast("double")
            / F.nullif(F.col("first_n"), F.lit(0)).cast("double")
        ).alias("conv_from_first"),
    ).orderBy("stage_idx")


@register(
    "x_retention_cohorts",
    oracle="""
        WITH signup AS (
            SELECT user_id,
                   CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP)
                       AS cohort_week
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ), activity AS (
            SELECT DISTINCT e.user_id, s.cohort_week,
                   CAST(datediff('day', s.cohort_week,
                                 CAST(date_trunc('week', e.ts) AS TIMESTAMP))
                        // 7 AS INT) AS week_no
            FROM events e JOIN signup s ON e.user_id = s.user_id
            WHERE e.ts >= s.cohort_week
        ), cohort_size AS (
            SELECT cohort_week, COUNT(DISTINCT user_id) AS n_users
            FROM signup GROUP BY cohort_week
        )
        SELECT a.cohort_week, a.week_no,
               COUNT(*) AS active_users,
               CAST(COUNT(*) AS DOUBLE) / MAX(c.n_users) AS retention
        FROM activity a JOIN cohort_size c USING (cohort_week)
        GROUP BY a.cohort_week, a.week_no
        ORDER BY a.cohort_week, a.week_no
    """,
    doc="Cohort retention matrix: users cohorted by signup week; for each "
    "(cohort, weeks-since-signup) cell, the count and fraction of the "
    "cohort active that week (any event). The standard product/growth "
    "analysis. Scale shape: signup frame and activity dedup both key on "
    "user_id (co-partitioned equi-join + distinct), cohort sizes are an "
    "O(weeks) frame joined on cohort_week, and the final cell agg is "
    "tiny. Week arithmetic stays on week-truncated timestamps so "
    "day-diff // 7 is exact in both engines",
    tags=("pipeline", "analytics", "extension"),
)
def x_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = (
        ev.join(signup, "user_id")
        .filter(F.col("ts") >= F.col("cohort_week"))
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")), F.col("cohort_week")
                )
                / 7
            )
            .cast("int")
            .alias("week_no"),
        )
        .distinct()
    )
    cohort_size = signup.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    return (
        activity.join(cohort_size, "cohort_week")
        .groupBy("cohort_week", "week_no")
        .agg(
            F.count("*").alias("active_users"),
            (F.count("*").cast("double") / F.max("n_users")).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "week_no")
    )


# Kept over its oracle text: the text scans documents twice (its cells feed four consumers), the builder once.
@register(
    "x_crosstab_chi2",
    oracle="""
        WITH cells AS (
            SELECT lang, source, count(*) AS obs
            FROM documents GROUP BY 1, 2
        ), rm AS (
            SELECT lang, CAST(SUM(obs) AS BIGINT) AS row_tot
            FROM cells GROUP BY 1
        ), cm AS (
            SELECT source, CAST(SUM(obs) AS BIGINT) AS col_tot
            FROM cells GROUP BY 1
        ), tot AS (
            SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells
        ), grid AS (
            SELECT rm.lang, cm.source, rm.row_tot, cm.col_tot, tot.n
            FROM rm CROSS JOIN cm CROSS JOIN tot
        )
        SELECT g.lang, g.source,
               COALESCE(c.obs, 0) AS obs,
               CAST(g.row_tot AS DOUBLE) * g.col_tot / g.n AS expected,
               (COALESCE(c.obs, 0) - CAST(g.row_tot AS DOUBLE) * g.col_tot / g.n)
               * (COALESCE(c.obs, 0) - CAST(g.row_tot AS DOUBLE) * g.col_tot / g.n)
               / (CAST(g.row_tot AS DOUBLE) * g.col_tot / g.n) AS chi2_contrib
        FROM grid g
        LEFT JOIN cells c ON c.lang = g.lang AND c.source = g.source
        ORDER BY g.lang, g.source
    """,
    doc="Chi-square contingency audit of lang x source: the full grid "
    "(zero cells included) with observed count, independence-expected "
    "count and per-cell chi2 contribution — the 'is my corpus mix "
    "confounded' check before training-mixture decisions. One hash agg "
    "over documents; margins and the grid cross join live entirely on "
    "the BOUNDED (|langs| x |sources|) frames, so the cross join is "
    "constant-size at any corpus scale. Per-cell output keeps the "
    "arithmetic order-free and bit-exact (a summed statistic would "
    "depend on float reduction order)",
    tags=("pipeline", "audit", "extension"),
)
def x_crosstab_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # cells feeds FOUR consumers (row marginals, column marginals, the
    # total, and the left join back); without materialization the corpus
    # scan+agg runs 4x. |langs x sources| rows: sf0.1, 10 A/B pairs,
    # 0.39 s vs 0.42 s plain (slower in 9/10).
    cells = (
        docs.groupBy("lang", "source")
        .agg(F.count("*").alias("obs"))
        .localCheckpoint(eager=False)
    )
    rm = cells.groupBy("lang").agg(F.sum("obs").alias("row_tot"))
    cm = cells.groupBy("source").agg(F.sum("obs").alias("col_tot"))
    tot = cells.agg(F.sum("obs").alias("n"))
    grid = rm.crossJoin(cm).crossJoin(tot)
    exp = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    obs = F.coalesce(F.col("obs"), F.lit(0).cast("long"))
    return (
        grid.join(cells, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            obs.alias("obs"),
            exp.alias("expected"),
            ((obs - exp) * (obs - exp) / exp).alias("chi2_contrib"),
        )
        .orderBy("lang", "source")
    )


RETENTION_BITMAP_DAYS = 23  # cohort days 0..22 (so day+7 stays in span)


@register(
    "x_retention_bitmap",
    oracle=f"""
        WITH mn AS (
            SELECT min(CAST(date_trunc('day', ts) AS DATE)) AS d0 FROM events
        ), m AS (
            SELECT user_id,
                   bit_or(CAST(1 AS BIGINT)
                          << datediff('day', mn.d0,
                                      CAST(date_trunc('day', ts) AS DATE))) AS mask
            FROM events, mn GROUP BY user_id
        ), d AS (
            SELECT unnest(generate_series(0, {RETENTION_BITMAP_DAYS - 1})) AS day_idx
        )
        SELECT day_idx,
               count(*) FILTER (WHERE (mask >> day_idx) & 1 = 1) AS n_active,
               count(*) FILTER (WHERE (mask >> day_idx) & 1 = 1
                                  AND (mask >> (day_idx + 7)) & 1 = 1) AS n_retained_7d,
               CASE WHEN count(*) FILTER (WHERE (mask >> day_idx) & 1 = 1) = 0
                    THEN NULL
                    ELSE CAST(count(*) FILTER (WHERE (mask >> day_idx) & 1 = 1
                                  AND (mask >> (day_idx + 7)) & 1 = 1) AS DOUBLE)
                         / count(*) FILTER (WHERE (mask >> day_idx) & 1 = 1)
               END AS retention_7d
        FROM m CROSS JOIN d GROUP BY day_idx ORDER BY day_idx
    """,
    doc="Bitmap day-7 retention: ONE bit_or aggregate packs each user's "
    "activity span into a 64-bit day mask (the roaring-bitmap retention "
    "technique, degenerate-free because the fixture span fits one word; "
    "at longer spans the mask becomes a bitmap column and the same "
    "algebra applies), then every (active day d, retained d+7) rate is "
    "pure bit arithmetic over the per-user mask frame — no self-join of "
    "the events table, no (user x day x day) explosion, which is the "
    "standard retention-query scale trap. The bounded day grid cross-"
    "joins the mask frame (bounded x users, narrow)",
    tags=("pipeline", "temporal", "extension"),
)
def x_retention_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    )
    mn = ev.agg(F.min("day").alias("d0"))
    masks = (
        ev.crossJoin(F.broadcast(mn))
        .select(
            "user_id",
            # Loud guard: Spark's shiftleft wraps the shift amount mod 64
            # (Java semantics), so a >62-day span would silently alias day
            # N onto day N-64. assert_true raises instead; it returns NULL
            # on success, so the if() keeps the mask expression typed.
            F.expr(
                "if(assert_true(datediff(day, d0) <= 62, 'x_retention_bitmap:"
                " event span exceeds 63 days; the 64-bit day mask would alias"
                " (shiftleft wraps mod 64) - widen to a bitmap column') is"
                " null, shiftleft(cast(1 as bigint), datediff(day, d0)),"
                " cast(null as bigint))"
            ).alias("b"),
        )
        .groupBy("user_id")
        .agg(F.bit_or("b").alias("mask"))
    )
    days = spark.range(0, RETENTION_BITMAP_DAYS).select(
        F.col("id").cast("int").alias("day_idx")
    )
    active = F.expr("(shiftright(mask, day_idx) & 1) = 1")
    retained = F.expr(
        "(shiftright(mask, day_idx) & 1) = 1 AND (shiftright(mask, day_idx + 7) & 1) = 1"
    )
    return (
        masks.crossJoin(F.broadcast(days))
        .groupBy("day_idx")
        .agg(
            F.count_if(active).alias("n_active"),
            F.count_if(retained).alias("n_retained_7d"),
        )
        .select(
            "day_idx",
            "n_active",
            "n_retained_7d",
            F.when(
                F.col("n_active") == 0, F.lit(None).cast("double")
            )
            .otherwise(
                F.col("n_retained_7d").cast("double") / F.col("n_active")
            )
            .alias("retention_7d"),
        )
        .orderBy("day_idx")
    )


FUNNEL_STEP1_HOURS = 1  # click must follow the first view within this
FUNNEL_STEP2_HOURS = 24  # purchase must follow that click within this


# Kept over its oracle text: the text plans 4 SinglePartition exchanges at sf0.1, this builder 1.
@register(
    "x_funnel_windowed",
    oracle=f"""
        WITH v AS (
            SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), c AS (
            SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t1
              AND e.ts <= v.t1 + INTERVAL {FUNNEL_STEP1_HOURS} HOUR
            GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, MIN(e.ts) AS t3
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t2
              AND e.ts <= c.t2 + INTERVAL {FUNNEL_STEP2_HOURS} HOUR
            GROUP BY e.user_id
        ), counts AS (
            SELECT (SELECT COUNT(*) FROM v) AS n1,
                   (SELECT COUNT(*) FROM c) AS n2,
                   (SELECT COUNT(*) FROM p) AS n3
        )
        SELECT stage_idx, stage, users,
               CAST(users AS DOUBLE)
                 / NULLIF(LAG(users) OVER (ORDER BY stage_idx), 0)
                 AS conv_from_prev,
               CAST(users AS DOUBLE) / NULLIF(first_n, 0) AS conv_from_first
        FROM (
            SELECT 1 AS stage_idx, 'view' AS stage, n1 AS users, n1 AS first_n
            FROM counts
            UNION ALL
            SELECT 2, 'click', n2, n1 FROM counts
            UNION ALL
            SELECT 3, 'purchase', n3, n1 FROM counts
        ) t
        ORDER BY stage_idx
    """,
    doc=f"TIME-BOUNDED conversion funnel (windowFunnel semantics): a "
    f"click counts only within {FUNNEL_STEP1_HOURS}h of the first view, "
    f"a purchase only within {FUNNEL_STEP2_HOURS}h of that click — the "
    "form that separates intent-driven conversion from coincidental "
    "later activity, and the form whose state is BOUNDED for the "
    "streaming equivalent (expired windows can be evicted; the "
    "unbounded funnel cannot). Same single-pass shape as "
    "x_funnel_conversion: one pushed-filter scan of the funnel types, "
    "one shuffle on user_id, per-user arrays bounded by one user's "
    "funnel events, stage counts in one row — no join chain, no "
    "checkpoint of any user-cardinality frame (r16 VERDICT item 4)",
    tags=("pipeline", "analytics", "extension"),
)
def x_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = (
        ev.filter(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1"),
            F.collect_list(
                F.when(F.col("event_type") == "click", F.col("ts"))
            ).alias("cts"),
            F.collect_list(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("pts"),
        )
    )
    step1 = F.expr(f"INTERVAL {FUNNEL_STEP1_HOURS} HOUR")
    step2 = F.expr(f"INTERVAL {FUNNEL_STEP2_HOURS} HOUR")
    # x > NULL / x <= NULL + i are NULL, so a missing earlier stage gives
    # an empty filtered array and a NULL t — the join-chain semantics
    # (oracle-verified bit-exact).
    u = per_user.withColumn(
        "t2",
        F.array_min(
            F.filter(
                "cts", lambda x: (x > F.col("t1")) & (x <= F.col("t1") + step1)
            )
        ),
    ).withColumn(
        "t3",
        F.array_min(
            F.filter(
                "pts", lambda x: (x > F.col("t2")) & (x <= F.col("t2") + step2)
            )
        ),
    )
    counts = u.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
    )
    stages = counts.selectExpr(
        "stack(3, 1, 'view', n1, 2, 'click', n2, 3, 'purchase', n3) "
        "AS (stage_idx, stage, users)",
        "n1 AS first_n",
    )
    w = Window.orderBy("stage_idx")
    return (
        stages.select(
            "stage_idx",
            "stage",
            "users",
            (
                F.col("users").cast("double")
                / F.nullif(F.lag("users").over(w), F.lit(0))
            ).alias("conv_from_prev"),
            (
                F.col("users").cast("double") / F.nullif(F.col("first_n"), F.lit(0))
            ).alias("conv_from_first"),
        )
        .orderBy("stage_idx")
    )


@register(
    "x_mixture_sample",
    oracle=r"""
        WITH stats AS (
            SELECT lang, COUNT(*) AS n_docs,
                   SUM(len(string_split_regex(trim(text), '\s+'))) AS n_tokens
            FROM documents GROUP BY lang
        ), tot AS (
            SELECT SUM(n_tokens) AS total_tokens FROM stats
        ), rates AS (
            SELECT lang, n_docs,
                   LEAST(
                       (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.15
                                  WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.1
                                  ELSE 0.1 END
                        * CAST(tot.total_tokens AS DOUBLE))
                       / CAST(n_tokens AS DOUBLE),
                       CAST(1.0 AS DOUBLE)) AS keep_rate
            FROM stats CROSS JOIN tot
        ), kept AS (
            SELECT d.lang, COUNT(*) AS n_kept
            FROM documents d JOIN rates r ON r.lang = d.lang
            WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                  < r.keep_rate * 4294967296.0
            GROUP BY d.lang
        )
        SELECT r.lang, r.n_docs, COALESCE(k.n_kept, 0) AS n_kept,
               r.keep_rate,
               CAST(COALESCE(k.n_kept, 0) AS DOUBLE) / r.n_docs AS achieved_frac
        FROM rates r LEFT JOIN kept k ON k.lang = r.lang
        ORDER BY r.lang
    """,
    doc="Applies the x_mixture_plan rates as a DETERMINISTIC sampler: "
    "per-language keep rates (capped at 1; oversampling languages keep "
    "everything and epoch-repeat instead) gate each doc by its seedless "
    "md5 fraction — the same hash either engine computes, so even the "
    "sampled MEMBERSHIP is oracle-exact, and a re-run or a backfill "
    "selects the identical docs. Plan: one stats agg, a ~|langs|-row "
    "rate frame joined back (AQE broadcast), a narrow filter, one "
    "counting agg — the corpus is never shuffled on data columns",
    tags=("pipeline", "sampling", "extension"),
)
def x_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    rates = _mixture_rates(docs).select(
        "lang",
        "n_docs",
        F.least(F.col("sample_rate"), F.lit(1.0)).alias("keep_rate"),
    )
    num = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    # the rate frame is bounded by |langs| (a handful of rows) but derives
    # from an aggregate, so size estimates are unknown — hint the broadcast
    # rather than shuffle the corpus on lang
    kept = (
        docs.select("lang", num.alias("num"))
        .join(F.broadcast(rates.select("lang", "keep_rate")), "lang")
        .filter(F.col("num") < F.col("keep_rate") * F.lit(4294967296.0))
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
            "keep_rate",
            (
                F.coalesce(F.col("n_kept"), F.lit(0)).cast("double")
                / F.col("n_docs")
            ).alias("achieved_frac"),
        )
        .orderBy("lang")
    )


@register(
    "x_dataset_card",
    oracle=r"""
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
                   AS n_tokens,
               COUNT(DISTINCT lang) AS n_langs,
               COUNT(DISTINCT source) AS n_sources,
               COUNT(DISTINCT text) AS n_unique_texts,
               CAST(COUNT(*) - COUNT(DISTINCT text) AS DOUBLE) / COUNT(*)
                   AS exact_dup_rate,
               CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
                   / COUNT(*) AS mean_doc_tokens,
               MIN(n_chars) AS min_chars,
               MAX(n_chars) AS max_chars
        FROM documents
    """,
    doc="One-row dataset card: the corpus-summary artifact a data release "
    "ships with — doc/token totals, language and source cardinalities, "
    "exact-duplicate rate (via COUNT(DISTINCT text) — at extreme scale "
    "swap the distinct for the HLL sketch, cf. x_approx_distinct), and "
    "length extrema. ONE scan, one aggregation (the distincts share the "
    "pass); all ratios are exact integer counts under IEEE division",
    tags=("pipeline", "audit", "extension"),
)
def x_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    ntok = F.size(tokens())
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(ntok).cast("bigint").alias("n_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("text").alias("n_unique_texts"),
        (
            (F.count("*") - F.count_distinct("text")).cast("double")
            / F.count("*")
        ).alias("exact_dup_rate"),
        (F.sum(ntok).cast("double") / F.count("*")).alias("mean_doc_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
