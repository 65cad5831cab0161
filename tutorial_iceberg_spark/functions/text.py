"""Text-analysis operators for LLM training-data pipelines (north-star
extension, SURVEY.md §2.11): token counting, quality scoring, n-gram
language ID, document fingerprinting — all over the ``documents`` table.

Everything is built from JVM-side pyspark.sql.functions (regexp/array ops
inside whole-stage codegen) — zero Python UDFs, so the hot path stays
vectorized at 100 TB: each operator is a single scan + narrow projection
(plus one small groupBy where scores aggregate per language).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tutorial_iceberg_spark.io import load_table
from tutorial_iceberg_spark.registry import register

# Tokenization shared by every operator: whitespace split of trimmed text.
# (DuckDB mirror: string_split_regex(trim(text), '\s+'))


def tokens(col: str = "text") -> Column:
    return F.split(F.trim(F.col(col)), r"\s+")


def doc_term_tf(docs: DataFrame) -> DataFrame:
    r"""(doc_id, term, dl, tf) over the lower-cased whitespace tokens, dl
    being the document length. One hash agg with map-side partials (DuckDB
    mirror: unnest(string_split_regex(trim(lower(text)), '\s+')) grouped
    by doc_id, term). Column pruning drops dl for callers that ignore it.

    Each document is split once: the token array is aliased in one select
    and exploded in the next, so dl is size() of the carried array. With
    size() and explode() over the same split in one select, Catalyst
    evaluates size(split(...)) in a Project above the Generate, once per
    exploded token — quadratic in document length. The explode input is
    guarded, not the bare column: for a bare attribute Catalyst infers
    ``size(toks) > 0 AND toks IS NOT NULL`` and pushes it, alias
    substituted, below the spread repartition, which splits every document
    a second time in the lone scan task (x_keyword_extract at sf0.1, 16
    interleaved runs on 4 cores: 0.745 s one-select, 0.866 s bare, 0.714 s
    guarded). tests/test_plans.py gates the executed plan."""
    toks = F.col("toks")
    tok = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks")
    ).select(
        "doc_id",
        F.size(toks).alias("dl"),
        F.explode(F.when(toks.isNotNull(), toks)).alias("term"),
    )
    return tok.groupBy("doc_id", "term").agg(
        F.max("dl").alias("dl"), F.count("*").alias("tf")
    )


@register(
    "x_token_count",
    oracle=r"""
        SELECT lang,
               COUNT(*) AS docs,
               CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
               (CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
                 / COUNT(*)) AS avg_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    doc="Token counting (whitespace tokenizer) aggregated per language",
    tags=("text", "extension"),
)
def x_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: regex tokenize + partial agg straight off a single-split scan
    docs = load_table(spark, sf_dir, "documents", spread=True)
    ntok = F.size(tokens())
    return (
        docs.withColumn("ntok", ntok)
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum("ntok").alias("total_tokens"),
            (F.sum("ntok").cast("double") / F.count("*")).alias("avg_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


@register(
    "x_quality_score",
    oracle=r"""
        SELECT doc_id,
               ntok AS n_tokens,
               npunct AS n_punct,
               nstop AS n_stopwords,
               (CAST(nstop AS DOUBLE) / ntok) AS stopword_ratio,
               CASE WHEN ntok >= 20 AND ntok <= 1000
                         AND (CAST(npunct AS DOUBLE) / ntok) < 0.3
                    THEN 1 ELSE 0 END AS quality_pass
        FROM (
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\s+')) AS ntok,
                   len(regexp_extract_all(text, '[.,;:!?]')) AS npunct,
                   len(regexp_extract_all(' ' || text || ' ',
                       ' (the|a|of|and|to|in|is|it) ')) AS nstop
            FROM documents
        ) t
    """,
    doc="Quality scoring: token count / punctuation density / stopword ratio "
    "with a pass flag — the C4-style heuristic filter shape",
    tags=("text", "extension"),
)
def x_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ntok = F.size(tokens())
    npunct = F.regexp_count(F.col("text"), F.lit(r"[.,;:!?]"))
    # non-overlapping match semantics must agree with DuckDB's
    # regexp_extract_all: pad and match ' word ' occurrences
    nstop = F.regexp_count(
        F.concat(F.lit(" "), F.col("text"), F.lit(" ")),
        F.lit(r" (the|a|of|and|to|in|is|it) "),
    )
    t = docs.select(
        "doc_id",
        ntok.alias("ntok"),
        npunct.alias("npunct"),
        nstop.alias("nstop"),
    )
    return t.select(
        "doc_id",
        F.col("ntok").alias("n_tokens"),
        F.col("npunct").alias("n_punct"),
        F.col("nstop").alias("n_stopwords"),
        (F.col("nstop").cast("double") / F.col("ntok")).alias("stopword_ratio"),
        F.when(
            (F.col("ntok") >= 20)
            & (F.col("ntok") <= 1000)
            & ((F.col("npunct").cast("double") / F.col("ntok")) < 0.3),
            1,
        )
        .otherwise(0)
        .alias("quality_pass"),
    )


# Language marker sets for the n-gram/stopword-voting heuristic. The
# testdata's documents are synthetic, so accuracy vs the `lang` label is not
# the point — the operator shape (vectorized marker voting at scan speed) is.
_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "die", "und"],
    "fr": ["le", "la", "et"],
    "es": ["el", "los", "de"],
}


@register(
    "x_langid_vote",
    oracle=r"""
        SELECT lang AS labeled_lang, predicted, COUNT(*) AS docs
        FROM (
            SELECT lang,
                   CASE GREATEST(en_h, de_h, fr_h, es_h)
                        WHEN 0 THEN 'und'
                        WHEN en_h THEN 'en'
                        WHEN de_h THEN 'de'
                        WHEN fr_h THEN 'fr'
                        ELSE 'es' END AS predicted
            FROM (
                SELECT lang,
                       len(regexp_extract_all(' ' || text || ' ', ' (the|and|of) ')) AS en_h,
                       len(regexp_extract_all(' ' || text || ' ', ' (der|die|und) ')) AS de_h,
                       len(regexp_extract_all(' ' || text || ' ', ' (le|la|et) ')) AS fr_h,
                       len(regexp_extract_all(' ' || text || ' ', ' (el|los|de) ')) AS es_h
                FROM documents
            ) h
        ) p
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    doc="Language-ID heuristic: per-language stopword-marker voting, argmax "
    "with deterministic tie-break; confusion counts vs the labeled lang",
    tags=("text", "extension"),
)
def x_langid_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    hits = {
        lang: F.regexp_count(padded, F.lit(" (" + "|".join(m) + ") "))
        for lang, m in _LANG_MARKERS.items()
    }
    h = docs.select("lang", *[v.alias(f"{k}_h") for k, v in hits.items()])
    best = F.greatest(*[F.col(f"{k}_h") for k in _LANG_MARKERS])
    # CASE GREATEST(...) WHEN 0 ... WHEN en_h ... replicates DuckDB's simple
    # CASE: first arm whose value equals `best` wins (deterministic tie-break
    # in declaration order)
    pred = (
        F.when(best == 0, "und")
        .when(best == F.col("en_h"), "en")
        .when(best == F.col("de_h"), "de")
        .when(best == F.col("fr_h"), "fr")
        .otherwise("es")
    )
    return (
        h.select("lang", pred.alias("predicted"))
        .groupBy(F.col("lang").alias("labeled_lang"), "predicted")
        .agg(F.count("*").alias("docs"))
        .orderBy("labeled_lang", "predicted")
    )


@register(
    "x_fingerprint",
    oracle=r"""
        SELECT doc_id,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
               substr(md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))), 1, 8) AS bucket
        FROM documents
    """,
    doc="Document fingerprinting: md5 of whitespace-normalized lowercased "
    "text + a shard bucket prefix — the exact-dedup / routing key",
    tags=("text", "extension"),
)
def x_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    fp = F.md5(normalized)
    return docs.select(
        "doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 8).alias("bucket")
    )


@register(
    "x_repetition_filter",
    oracle=r"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
            FROM documents
        ), uni AS (
            SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t
        ), ua AS (
            SELECT doc_id, SUM(c) AS ntok, COUNT(*) AS ndistinct, MAX(c) AS topc
            FROM uni GROUP BY doc_id
        ), bg AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(w) - 1, 0)),
                       i -> array_to_string(w[i:i+1], ' '))) AS b
            FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                  FROM documents)
        ), bi AS (
            SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b
        ), ba AS (
            SELECT doc_id, SUM(c) AS nbigram, MAX(c) AS topbc
            FROM bi GROUP BY doc_id
        )
        SELECT ua.doc_id,
               CAST(ua.ntok AS BIGINT) AS n_tokens,
               (CAST(ua.ndistinct AS DOUBLE) / ua.ntok) AS distinct_ratio,
               (CAST(ua.topc AS DOUBLE) / ua.ntok) AS top_token_frac,
               (CAST(ba.topbc AS DOUBLE) / ba.nbigram) AS top_bigram_frac,
               CASE WHEN (CAST(ua.topc AS DOUBLE) / ua.ntok) > 0.12
                      OR (CAST(ba.topbc AS DOUBLE) / ba.nbigram) > 0.06
                    THEN 1 ELSE 0 END AS is_repetitive
        FROM ua JOIN ba ON ba.doc_id = ua.doc_id
        ORDER BY ua.doc_id
    """,
    doc="Repetition-based quality filter (Gopher-style): per-doc distinct "
    "ratio, most-common unigram/bigram mass fractions, and a repetitive "
    "flag. Explode -> two-level partial agg, everything keyed on doc_id so "
    "the shuffles are narrow and skew == document length skew",
    tags=("text", "extension"),
)
def x_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # pre-spread the explode fan-out (same rationale as dedup.hashed_shingles)
    n_part = spark.sparkContext.defaultParallelism
    docs = docs.repartition(n_part, F.col("doc_id"))
    w = tokens()
    uni = (
        docs.select("doc_id", F.explode(w).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("ntok"),
            F.count("*").alias("ndistinct"),
            F.max("c").alias("topc"),
        )
    )
    # guard 1-token docs: Spark's sequence(1, 0) is the DESCENDING [1, 0]
    # (unlike DuckDB's empty generate_series) and slice(w, 0, 2) errors —
    # same edge as dedup.shingles
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(" ", F.slice(w, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = (
        docs.select("doc_id", F.explode(bigrams).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("nbigram"), F.max("c").alias("topbc"))
    )
    top_tok = F.col("topc").cast("double") / F.col("ntok")
    top_bg = F.col("topbc").cast("double") / F.col("nbigram")
    return (
        uni.join(bi, "doc_id")
        .select(
            "doc_id",
            F.col("ntok").alias("n_tokens"),
            (F.col("ndistinct").cast("double") / F.col("ntok")).alias("distinct_ratio"),
            top_tok.alias("top_token_frac"),
            top_bg.alias("top_bigram_frac"),
            F.when((top_tok > 0.12) | (top_bg > 0.06), 1).otherwise(0).alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )


@register(
    "x_ngram_topk",
    oracle=r"""
        WITH bg AS (
            SELECT unnest(list_transform(
                       generate_series(1, greatest(len(w) - 1, 0)),
                       i -> array_to_string(w[i:i+1], ' '))) AS bigram
            FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS w
                  FROM documents)
        )
        SELECT bigram, cnt FROM (
            SELECT bigram, COUNT(*) AS cnt,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bigram) AS rk
            FROM bg GROUP BY bigram) t
        WHERE rk <= 20
        ORDER BY cnt DESC, bigram
    """,
    doc="Corpus-level top-20 bigram census (the n-gram frequency profile a "
    "cleaning pipeline uses to spot boilerplate): explode -> ONE hash agg "
    "with map-side partials -> TakeOrderedAndProject (top-k never sorts "
    "the full vocabulary, and the k-row result is the only thing that "
    "leaves the executors)",
    tags=("text", "extension"),
)
def x_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(" ", F.slice(w, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "bigram")
        .limit(20)
    )


@register(
    "x_keyword_extract",
    oracle=r"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
        ),
        ranked AS (
            SELECT tf.doc_id, tf.term, tf.tf, df.df,
                   ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                      ORDER BY tf.tf DESC, tf.term) AS rk
            FROM tf JOIN df USING (term)
            WHERE df.df * 2 <= (SELECT COUNT(*) FROM documents)
        )
        SELECT doc_id, term, tf, df FROM ranked WHERE rk <= 3
        ORDER BY doc_id, tf DESC, term
    """,
    doc="Keyword extraction (SURVEY §2.11 text): per-doc top-3 terms by "
    "term frequency, with corpus-frequent terms (document frequency > 50% "
    "of docs) dropped as stopwords. Integer-only tf/df ranking — the "
    "tf-idf ordering without cross-engine float log. Scale: explode -> "
    "tf hash agg (map-side partial); df = COUNT(*) per term over the tf "
    "rows (unique per (doc,term)), itself map-side partial-aggregated, so "
    "a hot term never funnels its postings into one task; Catalyst "
    "re-derives the explode for the df census above a reused scan "
    "exchange; the vocabulary-sized df table joins with NO hint (AQE "
    "picks the strategy from real sizes); the exploded token stream never "
    "sorts globally",
    tags=("text", "extension"),
)
def x_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the explode + tf partial agg otherwise run in the lone scan task
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # corpus size as a broadcast 1-row aggregate, not a .count() driver
    # job: the whole query stays ONE plan (one submission per run)
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    tf = doc_term_tf(docs)
    # The stopword filter (df > 50% of docs) runs on the vocabulary-sized
    # df frame BEFORE the join, so the hottest keys never reach the join
    # and stopword tf rows drop via the inner join.
    keep_terms = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * 2 <= F.col("n_docs"))
        .select("term", "df")
    )
    wr = Window.partitionBy("doc_id").orderBy(F.desc("tf"), "term")
    return (
        tf.join(keep_terms, "term")
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df")
        .orderBy("doc_id", F.desc("tf"), "term")
    )


@register(
    "x_pii_scrub",
    oracle=r"""
        WITH raw AS (
            -- the synthetic corpus is PII-free, so salt every 3rd doc with a
            -- deterministic email+URL; the same salting runs on both engines
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0
                        THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@mail.example.com or https://ex.example/d/'
                             || CAST(doc_id AS VARCHAR) || ' now'
                        ELSE text END AS text
            FROM documents
        )
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   'https?://[^ ]+', '<URL>', 'g') AS clean_text,
               len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
               len(regexp_extract_all(text, 'https?://[^ ]+')) AS n_urls
        FROM raw
        WHERE len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
           OR len(regexp_extract_all(text, 'https?://[^ ]+')) > 0
        ORDER BY doc_id
    """,
    doc="PII scrubbing (SURVEY §2.11 text): redact emails and URLs with "
    "typed placeholder tokens and count redactions per doc; emit only "
    "touched docs. The PII-free synthetic corpus is salted (every 3rd doc, "
    "deterministically, on both engines) so the scrub provably fires. Pure "
    "regexp_replace/regexp_count inside whole-stage codegen — a single "
    "narrow scan->project->filter, trivially partition-parallel at any "
    "scale",
    tags=("text", "extension"),
)
def x_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    url = r"https?://[^ ]+"
    docs = load_table(spark, sf_dir, "documents")
    salted = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or https://ex.example/d/"),
            F.col("doc_id").cast("string"),
            F.lit(" now"),
        ),
    ).otherwise(F.col("text"))
    raw = docs.select("doc_id", salted.alias("text"))
    n_emails = F.regexp_count(F.col("text"), F.lit(email))
    n_urls = F.regexp_count(F.col("text"), F.lit(url))
    return (
        raw.select(
            "doc_id",
            F.regexp_replace(
                F.regexp_replace(F.col("text"), email, "<EMAIL>"),
                url,
                "<URL>",
            ).alias("clean_text"),
            n_emails.alias("n_emails"),
            n_urls.alias("n_urls"),
        )
        .filter((F.col("n_emails") > 0) | (F.col("n_urls") > 0))
        .orderBy("doc_id")
    )


@register(
    "x_quota_sample",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, lang, source, n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
            FROM documents
        )
        SELECT doc_id, lang, source, n_chars FROM ranked WHERE rk <= 20
        ORDER BY lang, doc_id
    """,
    doc="Deterministic stratified quota sampling (training-mix balancing, "
    "SURVEY §2.11): at most 20 docs per language, chosen by md5(doc_id) "
    "order — a seedless uniform-ish draw that is reproducible across "
    "engines, retries, and AQE re-plans. One hash-partition window per "
    "stratum; no driver-side sampling loop, no global sort of the corpus",
    tags=("text", "sampling", "extension"),
)
def x_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("lang", "doc_id")
    )


@register(
    "x_bpe_token_count",
    oracle=r"""
        SELECT lang,
               COUNT(*) AS docs,
               CAST(SUM(len(regexp_extract_all(text,
                   '''(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+'''))) AS BIGINT) AS total_tokens,
               (CAST(SUM(len(regexp_extract_all(text,
                   '''(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+'''))) AS DOUBLE)
                 / COUNT(*)) AS avg_tokens
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    doc="BPE-style pre-tokenization count (SURVEY §2.11 text): the GPT-2 "
    "pre-tokenizer regex family — contraction suffixes, space-prefixed "
    "letter runs, digit runs, punctuation runs, whitespace — counted per "
    "doc and aggregated per language. The pattern uses only alternation "
    "and unicode classes, so Java regex (Spark, codegen'd "
    "regexp_extract_all) and RE2 (DuckDB) tokenize identically. This is "
    "the token-budget estimator of a training-data pipeline: one narrow "
    "scan, no Python",
    tags=("text", "extension"),
)
def x_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    pat = r"'(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"
    docs = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))
    return (
        docs.withColumn("ntok", ntok)
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum("ntok").alias("total_tokens"),
            (F.sum("ntok").cast("double") / F.count("*")).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


# BM25 query: three mid-frequency corpus terms (fixed so the oracle SQL is a
# closed expression; a production caller parameterizes this list).
BM25_TERMS = ("vector", "join", "stream")
BM25_K1 = 1.5  # exact in binary -> cross-engine deterministic
BM25_B = 0.75  # exact in binary


@register(
    "x_bm25_search",
    oracle=r"""
        WITH stats AS (
            SELECT COUNT(*) AS n_docs,
                   (CAST(SUM(len(string_split_regex(trim(lower(text)), '\s+')))
                         AS DOUBLE) / COUNT(*)) AS avgdl
            FROM documents
        ),
        tok AS (
            SELECT doc_id,
                   len(string_split_regex(trim(lower(text)), '\s+')) AS dl,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, MAX(dl) AS dl, COUNT(*) AS tf
            FROM tok
            WHERE term IN ('vector', 'join', 'stream')
            GROUP BY doc_id, term
        ),
        term_df AS (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ),
        scored AS (
            SELECT tf.doc_id,
                   tf.term,
                   (((CAST(stats.n_docs AS DOUBLE) - CAST(term_df.df AS DOUBLE))
                     + 0.5) / (CAST(term_df.df AS DOUBLE) + 0.5))
                   * ((CAST(tf.tf AS DOUBLE) * 2.5)
                      / (CAST(tf.tf AS DOUBLE)
                         + (1.5 * (0.25 + (0.75 * (CAST(tf.dl AS DOUBLE)
                                                   / stats.avgdl)))))) AS s
            FROM tf
            JOIN term_df USING (term)
            CROSS JOIN stats
        )
        SELECT doc_id,
               list_aggregate(list(s ORDER BY term), 'sum') AS score,
               COUNT(*) AS n_match
        FROM scored
        GROUP BY doc_id
        ORDER BY score DESC, doc_id
        LIMIT 10
    """,
    doc="BM25 ranked retrieval (SURVEY §2.11 text; quality-retrieval stage "
    "of a training-data pipeline): top-10 documents for a fixed 3-term "
    "query under BM25 with k1=1.5, b=0.75 and the probabilistic idf "
    "(N-df+0.5)/(df+0.5) — every constant exact in binary and every "
    "operation a deterministic IEEE-754 chain, so scores are bit-identical "
    "to the DuckDB oracle. The per-document score is a term-ordered "
    "sequential float64 fold (array_sort + F.aggregate ≡ list(ORDER BY) + "
    "list_aggregate 'sum'), not an unordered SUM — FP addition is not "
    "associative. Scale shape: ONE explode pass filtered to the query "
    "vocabulary BEFORE aggregation (the token stream shrinks to "
    "|query|-term rows immediately), tf hash agg with map-side partials, "
    "df re-aggregated from tf (|query| rows, broadcast), the 1-row "
    "(N, avgdl) aggregate broadcast, and a TakeOrdered top-k — no window "
    "over a per-term partition (df-per-term partitions are unbounded at "
    "100 TB), no global sort, no Python",
    tags=("text", "search", "extension"),
)
def x_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: tokenize + partial agg otherwise run in the lone scan task
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    # 1-row corpus stats: the whole query stays ONE plan (no .count() job)
    corpus_stats = docs.select(F.size(toks).alias("dl")).agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tok = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        F.explode(toks).alias("term"),
    ).filter(F.col("term").isin(*BM25_TERMS))
    tf = tok.groupBy("doc_id", "term").agg(
        F.max("dl").alias("dl"), F.count("*").alias("tf")
    )
    tf_d = F.col("tf").cast("double")
    df_d = F.col("df").cast("double")
    idf = ((F.col("n_docs").cast("double") - df_d) + F.lit(0.5)) / (
        df_d + F.lit(0.5)
    )
    denom = tf_d + (
        F.lit(BM25_K1)
        * (
            F.lit(1.0 - BM25_B)
            + (F.lit(BM25_B) * (F.col("dl").cast("double") / F.col("avgdl")))
        )
    )
    # df as a COUNT window over tf (rows unique per (doc, term)): the old
    # broadcast-join form recomputed the whole scan->explode->tf subtree a
    # second time just to aggregate the |query|-row df census
    # (plans/r16/x_bm25_search_before.txt). The window costs one exchange
    # of the already-query-filtered tf rows (<= |query| x matching docs)
    # and removes a full corpus tokenize pass (guide §2.4).
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(corpus_stats))
        .select(
            "doc_id",
            "term",
            (idf * ((tf_d * F.lit(BM25_K1 + 1.0)) / denom)).alias("s"),
        )
    )
    # term-ordered sequential fold: array_sort on (term, s) structs orders
    # by term asc (terms unique per doc), matching list(s ORDER BY term)
    arr = F.array_sort(F.collect_list(F.struct("term", "s")))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.aggregate(
                F.transform(arr, lambda x: x["s"]),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("score"),
            F.count("*").alias("n_match"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(10)
    )


@register(
    "x_hash_sample",
    oracle="""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
        ORDER BY doc_id
    """,
    doc="Deterministic hash-rate sampling (SURVEY §2.11 sampling): keep a "
    "document iff the first byte of md5(doc_id) falls below 0x1a — a "
    "seedless ~10.2% (26/256) uniform draw that is reproducible across "
    "engines, retries, AQE re-plans, and incremental reruns (a doc's "
    "fate never depends on what else is in the corpus). This is the "
    "100 TB sampling path: a pure narrow filter — zero shuffle, zero "
    "window, no per-stratum state — where x_quota_sample's exact-quota "
    "window is the bounded-stratum complement. Rate changes are one "
    "threshold edit; disjoint samples stack by hash range",
    tags=("text", "sampling", "extension"),
)
def x_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keep = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "1a"
    return (
        docs.filter(keep)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


TFIDF_TOP = 3


@register(
    "x_tfidf_terms",
    oracle=r"""
        WITH tok AS (
            SELECT doc_id,
                   len(string_split_regex(trim(lower(text)), '\s+')) AS dl,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, MAX(dl) AS dl, COUNT(*) AS tf
            FROM tok
            GROUP BY doc_id, term
        ),
        term_df AS (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, term_df.df,
                   (CAST(tf.tf AS DOUBLE) / CAST(tf.dl AS DOUBLE))
                   * (((CAST(n.n_docs AS DOUBLE) - CAST(term_df.df AS DOUBLE))
                       + 0.5) / (CAST(term_df.df AS DOUBLE) + 0.5)) AS score
            FROM tf JOIN term_df USING (term) CROSS JOIN n
        )
        SELECT doc_id, rank, term, tf, df, score
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term) AS rank
            FROM scored) t
        WHERE rank <= 3
        ORDER BY doc_id, rank
    """,
    doc=f"Per-document top-{TFIDF_TOP} characteristic terms by TF-IDF with "
    "the log-free probabilistic idf (N-df+0.5)/(df+0.5) — same trick as "
    "x_bm25_search: JVM Math.log and DuckDB ln differ by 1 ulp on ~7% of "
    "inputs (measured), so the weight is kept an exact IEEE chain and the "
    "whole result stays hash-checkable. Scale shape: each document split "
    "once (doc_term_tf explodes the token array in its own select, so the "
    "length dl is the size of that array, not a re-split per token) -> "
    "tf hash agg (map-side partials), df re-aggregated FROM tf (O(vocab) "
    "rows, map-side partials, so a hot term never funnels into one task; "
    "Catalyst re-derives the explode for this census above a reused scan "
    "exchange) and joined back on term with NO hint — AQE picks the "
    "strategy from real sizes (broadcast at sf0.1, a skew-splittable "
    "shuffle join once the vocabulary outgrows the threshold). The 1-row "
    "doc count broadcasts; "
    "the final top-k window partitions by doc_id, whose size is bounded "
    "by document length, never corpus size",
    tags=("text", "extension"),
)
def x_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    tf = doc_term_tf(docs)
    # df by groupBy, never COUNT(*) OVER (PARTITION BY term): a window has
    # no map-side partial, so a stopword's postings would land in one task
    # (tests/test_plans.py gates the executed plan)
    term_df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    score = (F.col("tf").cast("double") / F.col("dl").cast("double")) * (
        ((F.col("n_docs").cast("double") - F.col("df").cast("double")) + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    scored = (
        tf.join(term_df, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", "tf", "df", score.alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP)
        .select("doc_id", "rank", "term", "tf", "df", "score")
        .orderBy("doc_id", "rank")
    )


COOCCUR_VOCAB = 50  # top-df vocabulary size for pair mining
COOCCUR_TOP = 20  # result pairs


@register(
    "x_cooccur_pairs",
    oracle=f"""
        WITH tok AS (
            SELECT DISTINCT doc_id, lower(t) AS tok FROM (
                SELECT doc_id,
                       unnest(string_split_regex(trim(text), '\\s+')) AS t
                FROM documents
            ) WHERE t <> ''
        ), dfreq AS (
            SELECT tok, count(*) AS df FROM tok GROUP BY tok
        ), vocab AS (
            SELECT tok FROM dfreq ORDER BY df DESC, tok LIMIT {COOCCUR_VOCAB}
        ), tv AS (
            SELECT t.doc_id, t.tok FROM tok t JOIN vocab v USING (tok)
        ), pairs AS (
            SELECT a.tok AS t1, b.tok AS t2, count(*) AS n_docs
            FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.tok < b.tok
            GROUP BY 1, 2
        )
        SELECT t1, t2, n_docs FROM pairs
        ORDER BY n_docs DESC, t1, t2 LIMIT {COOCCUR_TOP}
    """,
    doc=f"Term co-occurrence mining: top-{COOCCUR_TOP} token pairs by "
    f"document co-frequency, restricted to the top-{COOCCUR_VOCAB}-df "
    "vocabulary. The vocabulary restriction is the scale control: the "
    "per-doc pair explosion is bounded by C(vocab,2), not by document "
    "length squared, and the vocab itself is a TakeOrdered top-k (no "
    "global sort). The doc_id self-join runs on vocab-filtered rows "
    "(<= vocab per doc) with the tiny vocab side AQE-broadcast. "
    "Deterministic under total order (df desc, token; count desc, pair)",
    tags=("text", "extension"),
)
def x_cooccur_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    tok = (
        docs.select(
            "doc_id", F.explode(tokens()).alias("t")
        )
        .filter(F.col("t") != "")
        .select("doc_id", F.lower("t").alias("tok"))
        .distinct()
    )
    # tok feeds BOTH the df census and the self-join. Checkpointed, the
    # explode+distinct runs once: sf0.1, 10 A/B pairs, 1.00 s vs 1.39 s
    # plain (slower in 10 of 10).
    tok = tok.localCheckpoint(eager=False)
    dfreq = tok.groupBy("tok").agg(F.count("*").alias("df"))
    vocab = dfreq.orderBy(F.desc("df"), "tok").limit(COOCCUR_VOCAB).select("tok")
    tv = tok.join(vocab, "tok")
    a, b = tv.alias("a"), tv.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(F.col("a.tok").alias("t1"), F.col("b.tok").alias("t2"))
        .agg(F.count("*").alias("n_docs"))
    )
    return pairs.orderBy(F.desc("n_docs"), "t1", "t2").limit(COOCCUR_TOP)


MG_CAPACITY = 256  # counters per partition sketch
MG_TOP = 25  # reported heavy hitters


def mg_fold(keys, capacity: int, name: str):
    """One Misra-Gries partial over an iterator of key Series (one per
    Arrow batch), as a pandas frame ``(name, cnt, decr)``: the surviving
    counters plus one null-key row carrying the decrement total.

    Batch-merge form (Agarwal et al., "Mergeable Summaries"): count each
    batch exactly with a vectorized value_counts (C path), then MERGE into
    the running sketch — sum counters, and if more than ``capacity``
    survive, subtract the (capacity+1)-th largest value m from everything
    and drop the non-positives (m joins the decrement total). Equivalent
    guarantee to the per-key formulation (est_min <= true <= est_min +
    total_decrements; any key with true > decr survives) because every
    subtraction is uniform and every dropped key had count <= m at drop
    time — but the hot loop is one value_counts + one index-aligned add
    per batch instead of a Python dict op per KEY with an O(capacity)
    inner decrement walk (several-fold constant at corpus scale)."""
    import pandas as pd

    counters = pd.Series(dtype="int64")  # key -> count
    decr = 0
    for batch in keys:
        counters = counters.add(batch.value_counts(), fill_value=0).astype("int64")
        if len(counters) > capacity:
            # value at rank capacity+1: subtracting it zeroes that rank
            # and below, so at most `capacity` stay positive
            m = int(counters.nlargest(capacity + 1).iloc[-1])
            counters = counters - m
            counters = counters[counters > 0]
            decr += m
    return pd.DataFrame(
        {
            name: pd.Series(list(counters.index) + [None], dtype=object),
            "cnt": list(int(v) for v in counters.values) + [0],
            "decr": [0] * len(counters) + [decr],
        }
    )


def mg_merge(partials: DataFrame, key: str, top: int) -> DataFrame:
    """Merge Misra-Gries partials by addition: per-key ``est_min`` is the
    summed counters, ``err_bound`` the summed decrements, so est_min <=
    true <= est_max = est_min + err_bound across any number of partials.
    Returns the ``top`` keys by est_min."""
    decr_tot = partials.agg(F.sum("decr").alias("err_bound"))
    merged = (
        partials.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.sum("cnt").alias("est_min"))
    )
    return (
        merged.crossJoin(F.broadcast(decr_tot))
        .select(
            key,
            "est_min",
            (F.col("est_min") + F.col("err_bound")).alias("est_max"),
            "err_bound",
        )
        .orderBy(F.desc("est_min"), key)
        .limit(top)
    )


@register(
    "x_topk_sketch",
    oracle=None,  # sketch: bounds-checked vs exact counts in pytest
    doc=f"Misra-Gries heavy-hitters sketch over document tokens: each "
    f"partition keeps <= {MG_CAPACITY} counters in one Arrow mapInPandas "
    "pass (constant memory regardless of vocabulary size — the 100 TB "
    "alternative to the exact census' full-vocab shuffle), then surviving "
    "counters merge in one tiny shuffle. Output is (token, est_min, "
    "est_max, err_bound) for the top hitters with the classic guarantee: "
    "est_min <= true <= est_min + total_decrements, and every token with "
    "true frequency > total_decrements survives. Completes the sketch "
    "family (HLL distinct, GK quantiles, MG heavy hitters); rows-only "
    "driver check, bound + superset pytest-gated vs exact counts",
    tags=("text", "sketch", "extension"),
)
def x_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True).select("text")

    def mg_partial(batches):
        toks = (
            pdf["text"]
            .astype(str)
            .str.strip()
            .str.lower()
            .str.split()  # engine-wide whitespace tokenization
            .explode()
            .dropna()
            for pdf in batches
        )
        yield mg_fold(toks, MG_CAPACITY, "token")

    partials = docs.mapInPandas(mg_partial, "token string, cnt long, decr long")
    # the partials frame is O(partitions * capacity) — tiny; materialize
    # once so the two consumers in mg_merge don't re-run the corpus pass:
    # sf0.1, 10 A/B pairs, 0.51 s vs 0.75 s plain (slower in 10 of 10)
    partials = partials.localCheckpoint(eager=True)
    return mg_merge(partials, "token", MG_TOP)


SOURCE_CAP_MULT = 0.8  # cap = ceil(mult * median docs-per-source)
SOURCE_CAP_SALTS = 16  # phase-1 split factor for skewed mega-sources


@register(
    "x_source_cap",
    oracle=f"""
        WITH per_src AS (
            SELECT source, COUNT(*) AS n FROM documents GROUP BY source
        ), cap AS (
            SELECT CAST(ceil({SOURCE_CAP_MULT} * quantile_cont(n, 0.5))
                        AS BIGINT) AS cap
            FROM per_src
        ), ranked AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
            FROM documents
        )
        SELECT r.doc_id, r.source, CAST(r.rk AS INTEGER) AS rk
        FROM ranked r, cap
        WHERE r.rk <= cap.cap
        ORDER BY r.source, r.doc_id
    """,
    doc="Per-source frequency capping (web-corpus staple: no single "
    "domain may dominate the training mix): keep at most "
    f"ceil({SOURCE_CAP_MULT} x median docs-per-source) documents from "
    "each source, chosen in md5(doc_id) order — a seedless reproducible "
    "draw, same idiom as x_quota_sample (mult < 1 so the cap bites even "
    "on the fixture's uniform source sizes). The cap is SCALE-FREE by "
    "construction (a fixed absolute cap degenerates to dropping "
    "everything or nothing as the corpus grows — the q11 lesson): it "
    "derives from the corpus's own source-size distribution, and Spark "
    "percentile == DuckDB quantile_cont bit-for-bit. Shape: one "
    "|sources|-row aggregate + a 1-row broadcast cap + an EXACT salted "
    "two-phase per-source top-cap — phase 1 ranks within (source, salt) "
    "cells so a mega-source splits SOURCE_CAP_SALTS ways instead of "
    "serializing onto one window task, and keeps each cell's local "
    "top-cap (a superset of the global top-cap by a pigeonhole "
    "argument); phase 2 runs the exact per-source window on the "
    "survivors, whose per-source size is bounded by salts x cap "
    "regardless of how skewed the raw source is",
    tags=("text", "sampling", "extension"),
)
def x_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(F.count("*").alias("n"))
    cap = per_src.agg(
        F.ceil(SOURCE_CAP_MULT * F.expr("percentile(n, 0.5d)")).alias("cap")
    )
    order = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]
    # phase 1: local top-cap per (source, salt) — every row of the
    # source's global top-cap ranks <= cap within its own salt cell too,
    # so filtering local rank > cap only discards rows that can never
    # rank <= cap globally. The shuffle key (source, salt) bounds any
    # one task's rows at ~|source| / SOURCE_CAP_SALTS.
    salt = F.pmod(F.xxhash64("doc_id"), F.lit(SOURCE_CAP_SALTS))
    w_local = Window.partitionBy("source", "salt").orderBy(*order)
    survivors = (
        docs.select("doc_id", "source", salt.alias("salt"))
        .withColumn("lrk", F.row_number().over(w_local))
        .crossJoin(F.broadcast(cap))
        .filter(F.col("lrk") <= F.col("cap"))
    )
    # phase 2: exact global rank per source over <= salts * cap
    # survivors — bounded state no matter the source skew
    w = Window.partitionBy("source").orderBy(*order)
    return (
        survivors.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.col("cap"))
        .select("doc_id", "source", "rk")
        .orderBy("source", "doc_id")
    )
