"""Similarity search over the ``embeddings`` table (north-star extension,
SURVEY.md §2.11): brute-force cosine top-k as the exact baseline, and an
IVF (inverted-file) variant — spherical k-means coarse quantizer + cell
probing — as the 100 TB scale path.

Numeric discipline: every dot product is a sequential left-to-right float64
fold (``F.aggregate`` over ``F.zip_with``), which is bit-identical to the
DuckDB oracle's ``list_aggregate(list_transform(list_zip(...)), 'sum')`` —
verified at hex level, so the brute-force query is fully hash-checkable
including its float scores. (DuckDB's builtin ``list_dot_product`` runs in
float32 and would NOT match.)

Scale notes:
- The query set is tiny and broadcast; scoring is a narrow map over the
  base table (no shuffle), then one per-query top-k window over N*Q scored
  rows. At 100 TB you cut that shuffle with the IVF path below: probe
  nprobe/C of the data instead of all of it.
- K-means fitting collects only the C x dim centroid matrix to the driver
  (bounded model state, not data), assignment is a broadcast join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tutorial_iceberg_spark.io import load_table
from tutorial_iceberg_spark.registry import register, register_sql

TOP_K = 10
N_QUERIES = 5  # query set = vec_id < 5


def dot(x: Column, y: Column) -> Column:
    """Sequential float64 dot product — oracle-bit-exact (see module doc)."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(x: Column) -> Column:
    return F.sqrt(dot(x, x))


# DuckDB fragment mirroring dot() bit-for-bit. `z` as the lambda var avoids
# clashing with table aliases.
def _sql_dot(x: str, y: str) -> str:
    return (
        f"list_aggregate(list_transform(list_zip({x}, {y}), "
        "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')"
    )


# Per-group ordered-fold state gate: the bit-exact centroid/total folds
# below materialize an O(rows-in-group) sorted array inside ONE aggregation
# buffer. Fine at fixture scale (~200 values/group at sf0.1) but per-group
# memory grows linearly with corpus size over a FIXED label vocabulary, so
# at 100 TB a (label, dim) group would hold millions of doubles in a single
# buffer -> executor OOM (VERDICT r7 `weak`). Above this many table rows
# (footer count — no Spark job) the builders switch to order-free mergeable
# float64 partial sums: map-side combine, constant per-group state, at the
# cost of last-ulp summation drift that is statistically irrelevant for
# outlier ranking. `bitexact=True/False` overrides the gate either way.
ORDERED_FOLD_MAX_ROWS = 2_000_000


def _bitexact_auto(sf_dir: str, table: str, bitexact: bool | None) -> bool:
    if bitexact is not None:
        return bitexact
    from tutorial_iceberg_spark.sources.parquet_meta import footer_row_count

    return footer_row_count(sf_dir, table) <= ORDERED_FOLD_MAX_ROWS


@register(
    "x_embed_label_stats",
    oracle=f"""
        WITH n AS (
            SELECT vec_id, label, len(embedding) AS d,
                   sqrt({_sql_dot('embedding', 'embedding')}) AS nrm
            FROM embeddings
        )
        SELECT label,
               COUNT(*) AS vecs,
               list_aggregate(list(nrm ORDER BY vec_id), 'sum')
                   AS total_norm,
               CAST(SUM(d) AS BIGINT) AS total_dims
        FROM n
        GROUP BY label
        ORDER BY label
    """,
    doc="Per-label vector counts + total L2 norm (embedding-column sanity "
    "profile; one scan, one small shuffle on label). Under the footer "
    "row-count gate the norm total is a vec_id-ORDERED left fold, not "
    "SUM(double): a plain double sum is partition-order-dependent and "
    "only hash-matched historically because the single-file testdata "
    "scans as one stable partition — the fold makes it invariant at any "
    "partitioning. Past ORDERED_FOLD_MAX_ROWS the builder auto-switches "
    "to mergeable float64 partials (bounded per-group state; see the gate "
    "comment) — same discipline as x_embed_outliers",
    tags=("vector", "extension"),
)
def x_embed_label_stats(
    spark: SparkSession, sf_dir: str, bitexact: bool | None = None
) -> DataFrame:
    bitexact = _bitexact_auto(sf_dir, "embeddings", bitexact)
    emb = load_table(spark, sf_dir, "embeddings")
    if bitexact:
        total_norm = F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("vec_id", "nrm"))),
                lambda x: x["nrm"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("total_norm")
    else:
        total_norm = F.sum("nrm").alias("total_norm")
    return (
        emb.select(
            "vec_id",
            "label",
            norm(F.col("embedding")).alias("nrm"),
            F.size("embedding").alias("d"),
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("vecs"),
            total_norm,
            F.sum("d").alias("total_dims"),
        )
        .orderBy("label")
    )


register_sql(
    "x_class_weights",
    text="""
        WITH tot AS (
            SELECT COUNT(*) AS total, COUNT(DISTINCT label) AS k
            FROM embeddings
        )
        SELECT label,
               COUNT(*) AS n,
               (CAST(tot.total AS DOUBLE)
                / (CAST(tot.k AS DOUBLE) * COUNT(*))) AS class_weight
        FROM embeddings, tot
        GROUP BY label, tot.total, tot.k
        ORDER BY label
    """,
    doc="Balanced class weights (sklearn's n_samples / (n_classes * "
    "n_label) formula) over the embedding labels — the loss-reweighting "
    "table an imbalanced training set ships with. One hash aggregate "
    "plus a broadcast 1-row totals frame; the weight is two exact "
    "integer-to-double converts and one IEEE multiply+divide, so it "
    "hash-matches bit-for-bit",
    tags=("vector", "sampling", "extension"),
)


OUTLIER_K = 5  # reported outliers per label


@register(
    "x_embed_outliers",
    oracle=f"""
        WITH n0 AS (
            SELECT vec_id, label, embedding,
                   sqrt({_sql_dot('embedding', 'embedding')}) AS nrm
            FROM embeddings
        ), u AS (
            SELECT vec_id, label,
                   list_transform(embedding,
                                  v -> CAST(v AS DOUBLE) / nrm) AS u
            FROM n0
        ), d AS (
            SELECT vec_id, label,
                   generate_subscripts(u, 1) - 1 AS dim,
                   unnest(u) AS val
            FROM u
        ), cs AS (
            SELECT label, dim,
                   list_aggregate(list(val ORDER BY vec_id), 'sum')
                       / COUNT(*) AS c
            FROM d GROUP BY label, dim
        ), cent AS (
            SELECT label, list(c ORDER BY dim) AS centroid FROM cs
            GROUP BY label
        ), scored AS (
            SELECT u.vec_id, u.label,
                   {_sql_dot('u.u', 'cent.centroid')}
                   / (sqrt({_sql_dot('u.u', 'u.u')})
                      * sqrt({_sql_dot('cent.centroid', 'cent.centroid')}))
                       AS cos_centroid
            FROM u JOIN cent USING (label)
        )
        SELECT vec_id, label, cos_centroid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY label ORDER BY cos_centroid, vec_id) AS rk
            FROM scored) t
        WHERE rk <= {OUTLIER_K}
        ORDER BY label, cos_centroid, vec_id
    """,
    doc=f"Per-label embedding outlier audit (mislabel / boundary-example "
    f"detection): unit-normalize, mean-of-units centroid per label, then "
    f"the {OUTLIER_K} vectors with the LOWEST cosine to their own label "
    "centroid. Numeric discipline: the per-(label, dim) mean is a "
    "vec_id-ORDERED left fold (both engines sum the identical sequence — "
    "the proven dot() idiom lifted to a group aggregate), so the "
    "centroid is bit-identical and every downstream cosine hash-matches. "
    "Scale shape: one posexplode shuffle to (label, dim) — |labels| x "
    "dim groups — then a bounded |labels|-row centroid frame broadcast "
    "back over one narrow scan. The ordered fold keeps per-group state "
    "O(rows/label), so past ORDERED_FOLD_MAX_ROWS table rows the builder "
    "auto-switches to mergeable float64 partial sums (map-side combine, "
    "constant per-group state; order-dependent last-ulp drift that is "
    "statistically irrelevant for outlier ranking) — see the gate comment",
    tags=("vector", "extension"),
)
def x_embed_outliers(
    spark: SparkSession, sf_dir: str, bitexact: bool | None = None
) -> DataFrame:
    bitexact = _bitexact_auto(sf_dir, "embeddings", bitexact)
    # spread: the single-file fixture scans as ONE task, so without it the
    # unit-normalize HOF fold AND the checkpointed frame's downstream
    # posexplode + partial collect_list aggregation all run serialized on
    # one core (the r16-before plan shows UnknownPartitioning(0) with one
    # upstream partition). Safe for bit-exactness: every downstream fold
    # is vec_id-keyed (array_sort before aggregate), so the result is
    # partition-invariant by construction.
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    # u feeds BOTH the centroid fold and the scoring pass; materialize it
    # once (the per-row unit fold is interpreted HOF work worth reusing):
    # sf0.1, 10 A/B pairs, 0.99 s vs 2.04 s plain (slower in 10 of 10)
    u = emb.select(
        "vec_id", "label", _unit(F.col("embedding")).alias("u")
    ).localCheckpoint(eager=False)
    dims = u.select("vec_id", "label", F.posexplode("u").alias("dim", "val"))
    if bitexact:
        s = F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("vec_id", "val"))),
                lambda x: x["val"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("s")
    else:
        s = F.sum("val").alias("s")
    cs = (
        dims.groupBy("label", "dim")
        .agg(s, F.count("*").alias("n"))
        .select("label", "dim", (F.col("s") / F.col("n")).alias("c"))
    )
    cent = (
        cs.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda x: x["c"],
            ).alias("centroid")
        )
        # norm(centroid) is constant per label: fold it ONCE on the
        # |labels|-row frame instead of per scored row (same double, so
        # the oracle hash is unchanged; saves a 64-element fold per row)
        .withColumn("cnorm", norm(F.col("centroid")))
    )
    scored = u.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        (
            dot(F.col("u"), F.col("centroid"))
            / (norm(F.col("u")) * F.col("cnorm"))
        ).alias("cos_centroid"),
    )
    w = Window.partitionBy("label").orderBy("cos_centroid", "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= OUTLIER_K)
        .select("vec_id", "label", "cos_centroid")
        .orderBy("label", "cos_centroid", "vec_id")
    )


@register(
    "x_knn_brute_cosine",
    oracle=f"""
        WITH n AS (
            SELECT vec_id, embedding,
                   sqrt({_sql_dot('embedding', 'embedding')}) AS nrm
            FROM embeddings
        ), scored AS (
            SELECT q.vec_id AS query_id,
                   b.vec_id AS neighbor_id,
                   {_sql_dot('q.embedding', 'b.embedding')} / (q.nrm * b.nrm) AS score
            FROM n q JOIN n b ON b.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        )
        SELECT query_id, rank, neighbor_id, score FROM (
            SELECT query_id, neighbor_id, score,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY score DESC, neighbor_id) AS INT) AS rank
            FROM scored) t
        WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """,
    doc=f"Brute-force cosine top-{TOP_K} for {N_QUERIES} broadcast query "
    "vectors: narrow scored scan + per-query top-k window; float scores "
    "hash-match the oracle bit-for-bit",
    tags=("vector", "extension", "bench-shape"),
)
def x_knn_brute_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "score")
        .orderBy("query_id", "rank")
    )


@register(
    "x_embed_quantize",
    oracle=f"""
        WITH d AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), s AS (
            SELECT vec_id, label, e,
                   list_min(e) AS mn, list_max(e) AS mx
            FROM d
        ), q AS (
            SELECT vec_id, label, e, mn, mx,
                   list_transform(e, v -> CASE WHEN mx = mn THEN 0
                       ELSE CAST(floor(((v - mn) / (mx - mn)) * 255) AS BIGINT)
                       END) AS qv
            FROM s
        ), r AS (
            SELECT vec_id, label, mn, mx,
                   list_min(qv) AS q_min, list_max(qv) AS q_max,
                   list_aggregate(list_transform(list_zip(e, qv),
                       z -> abs(z[1] - (mn + (z[2] * (mx - mn)) / 255))),
                       'sum') AS sum_abs_err
            FROM q
        )
        SELECT vec_id, label, mn, mx, q_min, q_max, sum_abs_err
        FROM r ORDER BY vec_id
    """,
    doc="Int8 embedding quantization (per-vector min/max affine scale to "
    "[0,255]) + bit-exact reconstruction-error accounting — the 4x "
    "storage/bandwidth cut that makes 100 TB ANN shards fit in memory. "
    "One narrow map over the table: zero shuffle, zero UDF; floor() and "
    "the sequential float64 error fold are deterministic cross-engine",
    tags=("vector", "extension"),
)
def x_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = emb.select("vec_id", "label", e.alias("e"))
    s = d.select(
        "vec_id", "label", "e",
        F.array_min("e").alias("mn"), F.array_max("e").alias("mx"),
    )
    mn, mx = F.col("mn"), F.col("mx")
    qv = F.transform(
        F.col("e"),
        lambda v: F.when(mx == mn, F.lit(0).cast("bigint")).otherwise(
            F.floor(((v - mn) / (mx - mn)) * 255)
        ),
    )
    q = s.select("vec_id", "label", "e", "mn", "mx", qv.alias("qv"))
    err = F.aggregate(
        F.zip_with(
            F.col("e"),
            F.col("qv"),
            lambda v, b: F.abs(v - (mn + (b * (mx - mn)) / 255)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return q.select(
        "vec_id",
        "label",
        "mn",
        "mx",
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
        err.alias("sum_abs_err"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# IVF: spherical k-means coarse quantizer (C cells, few Lloyd iterations)
# + nprobe-cell probing. The scale path: each query scores only ~nprobe/C
# of the corpus. Model fitting collects C x dim floats to the driver per
# iteration (bounded); the data path stays distributed. Rows-only driver
# check; recall-vs-brute-force is pytest-gated.
# ---------------------------------------------------------------------------

N_CELLS = 16
N_PROBE = 4
KMEANS_ITERS = 3


def _unit(col: Column) -> Column:
    n = norm(col)
    return F.transform(col, lambda v: v.cast("double") / n)


def _assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """vec_id -> nearest centroid id by cosine (unit vectors: plain dot).

    argmax as a ``max_by`` aggregation over the (score, -cell) struct —
    greatest score wins, smallest cell breaks ties — which partial-aggregates
    map-side instead of sorting every vec_id's C scored rows in a
    row_number window."""
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell", dot(F.col("u"), F.col("c_emb")).alias("s")
    )
    return scored.groupBy("vec_id").agg(
        F.max_by(
            "cell", F.struct(F.col("s"), (-F.col("cell")).alias("nc"))
        ).alias("cell")
    )


def fit_ivf_cells(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """Spherical k-means over unit vectors; returns (cell, c_emb) centroids.

    Init: first N_CELLS vec_ids (deterministic). Each Lloyd step is one
    broadcast-join assignment + one posexplode/groupBy mean, with only the
    C x dim centroid matrix ever collected.
    """
    u = emb.select("vec_id", _unit(F.col("embedding")).alias("u"))
    cents = (
        u.orderBy("vec_id")
        .limit(N_CELLS)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cell"),
            F.col("u").alias("c_emb"),
        )
    )
    for _ in range(KMEANS_ITERS):
        assigned = _assign(u, cents).join(u, "vec_id")
        means = (
            assigned.select("cell", F.posexplode("u").alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.avg("v").alias("m"))
        )
        rows = means.collect()  # C x dim scalars: bounded model state
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        data = [
            (cell, [vals[p] for p in sorted(vals)]) for cell, vals in sorted(by_cell.items())
        ]
        cents = spark.createDataFrame(data, "cell INT, c_emb ARRAY<DOUBLE>")
        # re-normalize centroids so cosine stays a plain dot
        cents = cents.select("cell", _unit(F.col("c_emb")).alias("c_emb"))
    return cents


@register(
    "x_ann_ivf_cosine",
    oracle=None,  # iterative k-means + probing: rows-only driver check
    doc=f"IVF ANN: spherical k-means ({N_CELLS} cells, {KMEANS_ITERS} Lloyd "
    f"iters) + top-{N_PROBE}-cell probing, exact re-rank inside probed cells. "
    f"Each query scores ~{N_PROBE}/{N_CELLS} of the corpus — the 100 TB "
    "similarity-search path; recall vs brute force is pytest-gated",
    tags=("vector", "extension", "ann"),
)
def x_ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = fit_ivf_cells(spark, emb)

    u = emb.select("vec_id", _unit(F.col("embedding")).alias("u"))
    inv = _assign(u, cents).join(u, "vec_id")  # inverted file: cell -> members

    q = u.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("q_u")
    )
    # probe list: top-nprobe cells per query
    qc = q.crossJoin(F.broadcast(cents)).select(
        "query_id", "q_u", "cell", dot(F.col("q_u"), F.col("c_emb")).alias("cs")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("cell"))
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= N_PROBE)
        .select("query_id", "q_u", "cell")
    )
    # exact cosine re-rank restricted to probed cells
    cand = inv.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dot(F.col("q_u"), F.col("u")).alias("score"),
    ).groupBy("query_id", "neighbor_id").agg(F.max("score").alias("score"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "score")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (SimHash for cosine space): the second ANN family.
# P(bit match) = 1 - theta/pi, so near-identical vectors agree on whole
# bands with high probability while random pairs agree on a b-bit band with
# probability ~2^-b. Same band-bucket-join harness as the MinHash text LSH
# (operators/dedup.py) — one shared scale pattern for both modalities.
# ---------------------------------------------------------------------------

N_PLANES = 16
PLANE_BANDS = 4  # 4 bits per band
_PLANE_SEED = 7


def _sign_matrix(dim: int, n_planes: int):
    """(n_planes, dim) Rademacher +-1 matrix, fixed seed — the deterministic
    'model'. Tiny (n_planes x dim scalars): rebuilt per task from the seed,
    so nothing is broadcast or joined."""
    import random as _r

    import numpy as np

    rng = _r.Random(_PLANE_SEED)
    return np.array(
        [[rng.choice((-1.0, 1.0)) for _ in range(dim)] for _ in range(n_planes)]
    )


def hyperplane_band_keys(
    emb_u: DataFrame, dim: int, bits_per_band: int, n_bands: int, rb: int
) -> DataFrame:
    """vec_id -> per-band key/reserve-key ARRAYS: ONE Arrow batch pass,
    ZERO shuffle.

    Each batch is a single numpy matmul ``vecs @ signs.T`` followed by a
    per-band sign-bit pack — the same build pattern as
    dedup._index_batches. The one plane layout every LSH route shares:
    band bi's key packs planes [bi*b, (bi+1)*b) of the seeded sign
    matrix, least significant bit first; its reserve key (the bucket-cap
    sub-split, see _lsh_bands) packs planes [L*b + bi*rb, L*b +
    (bi+1)*rb). Each key is packed on its own, so the plane count is
    unbounded while every key still fits an int64 (bits_per_band, rb <=
    62). Embarrassingly parallel; linear in corpus bytes."""
    if not 0 < bits_per_band < 63 or not 0 <= rb < 63:
        raise ValueError(f"bits out of range: {bits_per_band=} {rb=}")

    def batches(it):
        import numpy as np
        import pandas as pd

        total = n_bands * (bits_per_band + rb)
        signs_t = _sign_matrix(dim, total).T  # (dim, total)
        w_prim = np.int64(1) << np.arange(bits_per_band, dtype=np.int64)
        w_res = np.int64(1) << np.arange(rb, dtype=np.int64)
        prim_w = n_bands * bits_per_band
        for pdf in it:
            rows = len(pdf)
            if rows:
                vecs = np.vstack(pdf["u"].to_numpy())  # (rows, dim)
                bits = (vecs @ signs_t) > 0  # (rows, total)
                keys = bits[:, :prim_w].reshape(rows, n_bands, bits_per_band) @ w_prim
                if rb:
                    rkeys = bits[:, prim_w:].reshape(rows, n_bands, rb) @ w_res
                else:
                    rkeys = np.zeros((rows, n_bands), dtype=np.int64)
            else:
                keys = rkeys = np.zeros((0, n_bands), dtype=np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "keys": list(keys),
                    "rkeys": list(rkeys),
                }
            )

    return emb_u.mapInPandas(
        batches, "vec_id bigint, keys array<bigint>, rkeys array<bigint>"
    )


# Bucket-size cap for the banded self-join. With fixed-width band keys
# (2 bits -> 4 buckets per band) expected bucket size is n/4, so the
# candidate set — sum over buckets of C(size, 2) — grows QUADRATICALLY
# with the corpus: the round-8 10x scale probe measured 24.6x wall growth
# for cosine_edges[lsh] at 10x data before this cap existed. The cap
# bounds expected candidates to n_bands * n * cap / 2 = LINEAR in n: any
# bucket over the cap is split by extending its key with
# ceil(log2(size/cap)) bits of a reserve hyperplane signature. Recall is
# the documented dial — a pair in a split bucket must also agree on the
# extra bits (p^extra per band, p = 1 - theta/pi), which prices out
# low-similarity noise pairs first while p ~ 0.9 near-dup pairs keep
# per-band survival >= 0.39 even at the full 4-bit split. At test/oracle
# scale (<= ~500-row buckets) no bucket crosses the cap, so the capped
# generator is bit-identical to the uncapped one there (pytest-gated).
LSH_BUCKET_CAP = 512
# Reserve bits are PER BAND and DISJOINT across bands (band bi owns bits
# [bi*6, bi*6+6) of the reserve plane space). The first cut of this cap
# shared one reserve key across all 16 bands, and the scale probe's
# measured within-copy recall exposed the mistake: a true pair that
# misses the shared reserve bits misses in EVERY split bucket, so recall
# collapses to p^extra * P(any band) ~= 0.16 instead of the independent
# 1-(1-p^(bits+extra))^bands ~= 0.8 at theta=0.40. Disjoint slices
# restore band independence; the price is reserve_planes = 6 * n_bands
# extra hyperplanes in the (still single-pass, still cheap) Arrow
# signature matmul.
_LSH_RESERVE_BITS_PER_BAND = 6

# Observability for the cap clamp (tests + operators can inspect): every
# time a bucket census finds buckets too dense for the reserve width to
# split down to the cap, the warning text is appended here.
_LSH_CLAMP_EVENTS: list[str] = []


# The fixed band configuration behind the "lsh" candidate route: 16
# bands of 2 bits plus the per-band reserve slices. lsh_auto_size
# returns the same keys with census-sized values; both run through the
# one kernel (hyperplane_band_keys) and the one band builder below.
FIXED_LSH_SIZING = {
    "bits_per_band": 2,
    "n_bands": 16,
    "rb": _LSH_RESERVE_BITS_PER_BAND,
}


def _lsh_bands(
    emb: DataFrame,
    dim: int,
    sizing: dict = FIXED_LSH_SIZING,
    bucket_cap: int | None = LSH_BUCKET_CAP,
) -> DataFrame:
    """(vec_id, band, key) bucket assignments for the banded self-join
    under a band configuration (FIXED_LSH_SIZING or an
    :func:`lsh_auto_size` dict), with oversized buckets sub-split on
    per-band reserve signature bits (see LSH_BUCKET_CAP /
    _LSH_RESERVE_BITS_PER_BAND). Factored out of lsh_candidate_pairs so
    the cap's sub-bucket bound is testable."""
    rb = sizing["rb"] if bucket_cap else 0
    u = emb.select("vec_id", _unit(F.col("embedding")).alias("u"))
    kk = hyperplane_band_keys(u, dim, sizing["bits_per_band"], sizing["n_bands"], rb)
    bands = (
        kk.select(
            "vec_id",
            F.posexplode(F.arrays_zip("keys", "rkeys")).alias("band", "kr"),
        )
        .select(
            "vec_id",
            "band",
            F.col("kr.keys").alias("key"),
            F.col("kr.rkeys").alias("rkey"),
        )
        # census + both self-join sides read this: sf0.01
        # x_sim_join_lsh_auto, 10 A/B pairs, 3.16 s vs 4.21 s plain
        # (slower in 10 of 10)
        .localCheckpoint(eager=False)
    )
    if not bucket_cap:
        return bands.drop("rkey")
    return _apply_bucket_cap(bands, rb, bucket_cap)


def _apply_bucket_cap(bands: DataFrame, rb: int, bucket_cap: int) -> DataFrame:
    """Census + consistent sub-split of oversized (band, key) buckets on
    each row's ``rkey`` reserve bits, for every band configuration
    `_lsh_bands` builds. ``bands`` must carry (vec_id, band, key,
    rkey)."""
    # bucket census: at most n_bands * 2^bits_per_band rows — AQE
    # broadcasts it back onto the bands frame, no corpus shuffle.
    # extra = floor(log2((cnt-1)/cap)) + 1 (exact-power-robust) so that
    # cnt / 2^extra <= cap in expectation; clamped to the per-band
    # reserve width, so the WORST-CASE residual bound is 2^rb * cap rows
    # in one sub-bucket (a bucket denser than that cannot split further
    # on rb reserve bits). The clamp binding is surfaced, never silent —
    # see the census check below. Not checkpointed: the clamp check and
    # the join each re-aggregate it from the checkpointed bands (sf0.01
    # x_sim_join_lsh_auto, 10 A/B pairs: 2.76 s vs 2.80 s checkpointed).
    sizes = (
        bands.groupBy("band", "key")
        .agg(F.count("*").alias("cnt"))
        .select(
            "band",
            "key",
            "cnt",
            F.when(
                F.col("cnt") > bucket_cap,
                F.least(
                    F.lit(rb),
                    (
                        F.floor(
                            F.log2(
                                (F.col("cnt") - 1) / F.lit(float(bucket_cap))
                            )
                        )
                        + 1
                    ).cast("int"),
                ),
            )
            .otherwise(F.lit(0))
            .alias("extra"),
        )
    )
    # No silent caps (repo convention): if any bucket exceeds
    # 2^rb * cap, the reserve width cannot fully split it and the
    # O(n_bands * n * cap) candidate bound quietly degrades toward the
    # residual 2^rb * cap bound — warn with the worst offender so a
    # deployment at extreme density raises rb / bits_per_band instead of
    # discovering it in wall time. One aggregation job on the <=
    # n_bands * 2^bits_per_band-row census, nothing corpus-sized.
    over = sizes.agg(
        F.sum(
            F.when(F.col("cnt") > (bucket_cap << rb), 1).otherwise(0)
        ).alias("n_clamped"),
        F.max(F.col("cnt")).alias("max_cnt"),
    ).first()
    if over["n_clamped"]:
        import warnings

        msg = (
            f"LSH bucket cap clamp binds: {over['n_clamped']} bucket(s) "
            f"exceed 2^{rb} * cap = {bucket_cap << rb} rows (max "
            f"{over['max_cnt']}); residual per-sub-bucket bound is "
            f"2^{rb} * cap. Raise rb or bits_per_band for this density."
        )
        _LSH_CLAMP_EVENTS.append(msg)
        warnings.warn(msg)
    if over["max_cnt"] is not None and over["max_cnt"] <= bucket_cap:
        # FAST PATH (the common case at every density below the cap —
        # all of test/oracle/bench scale): no bucket splits, so every
        # extra is 0 and the split key is just key << rb — skip the
        # sizes join and its checkpoint entirely. Pair-set-identical to
        # the join path (key shift is a bijection of bucket identity);
        # the round-9 paired bench attributed ~0.1 s at sf0.1 to the
        # unconditional join+checkpoint this replaces.
        return bands.select(
            "vec_id", "band", F.expr(f"shiftleft(key, {rb})").alias("key")
        )
    return (
        bands.join(sizes, ["band", "key"])
        .select(
            "vec_id",
            "band",
            # extend the bucket key with `extra` reserve bits: `extra` is
            # per-bucket constant so the split is consistent, and the
            # original key occupies the high bits so packed keys never
            # collide across buckets of the same band
            F.expr(
                f"shiftleft(key, {rb}) + (rkey & (shiftleft(1L, extra) - 1))"
            ).alias("key"),
        )
        # both sides of the downstream self-join alias this frame;
        # checkpoint so the split-key join computes once, not per alias
        # (structural: only reached when a bucket exceeds the cap, which
        # no fixture does, so not A/B-measured)
        .localCheckpoint(eager=False)
    )


# ---------------------------------------------------------------------------
# LSH constant auto-sizing (round-10 verdict Next #3)
#
# At FIXED constants (FIXED_LSH_SIZING: 16 x 2-bit bands / rb=6) the
# scale probes measured within-copy recall drifting 0.678 @ 10x -> 0.494
# @ 30x: the constants do not grow with density, so as corpus density
# rises past cap/2^bits the bucket-cap split spends reserve bits, and
# every extra bit prices true pairs by p^extra per band. The fix is not
# a bigger cap (that re-opens the quadratic candidate bound) but LSH's
# textbook scaling law: bits_per_band must grow with log2(n/cap) so
# buckets stay under the cap WITHOUT splits, and the band count must
# grow to hold recall at the design threshold — planes ~ O(log n *
# bands). Both configurations run through the same band-key kernel,
# whose plane count is unbounded (a wider sign matrix, same matmul).
# ---------------------------------------------------------------------------


def lsh_auto_size(
    n_vectors: int,
    *,
    sim_threshold: float = 0.40,
    recall_floor: float = 0.85,
    background_q: float = 0.5,
    max_candidates_per_vec: int = 8192,
    bucket_cap: int = LSH_BUCKET_CAP,
    rb: int = _LSH_RESERVE_BITS_PER_BAND,
    max_bits_per_band: int = 24,
    max_bands: int = 512,
) -> dict:
    """Pick (bits_per_band, n_bands, rb) from a cheap corpus census so
    that (1) expected bucket density stays BELOW the cap (no reserve
    splits, so the clamp regime is unreachable in expectation), (2) the
    expected BACKGROUND candidate rate stays under a stated budget, and
    (3) expected recall for a pair AT ``sim_threshold`` meets
    ``recall_floor``.

    The census is ``n_vectors`` (a parquet-footer row count — no scan).
    Sizing math, validated against the measured probes (the analytic
    model reproduces the measured 0.678/0.494 drift of FIXED_LSH_SIZING,
    whose constants do not grow with density, within a few points):

    - per-plane collision prob of a threshold pair
      p = 1 - theta/pi, theta = acos(sim_threshold); of a background
      (near-orthogonal) pair q ~= ``background_q`` (0.5 for random
      directions)
    - bits_per_band b must satisfy BOTH n/2^b <= cap/2 (density; /2 is
      skew headroom, rb reserve bits still back-stop tails) AND
      n * L * q^b <= max_candidates_per_vec (selectivity — without this
      term a dense corpus admits a constant FRACTION of all pairs as
      candidates: the first cut of this helper sized b from density
      alone, and at 30x corpus the banded join emitted ~25% of all
      n^2/2 pairs and spilled past local disk)
    - bands L: smallest with 1 - (1 - p^b)^L >= recall_floor

    The smallest-cost (b, L) meeting all three is returned; if no
    configuration inside (max_bits_per_band, max_bands) meets the floor
    within the candidate budget, the best-achievable-recall one is
    returned with ``clamped=True`` and a warning — never a silent cap.
    This is LSH's rho-exponent reality surfacing: candidate work per
    vector grows ~n^rho with rho = ln(1/p)/ln(1/q), so at LOW
    thresholds (0.4) and large n the floor is honestly unaffordable,
    while near-dup thresholds (0.8+) stay cheap to very large n."""
    import math

    n = max(1, int(n_vectors))
    p = 1.0 - math.acos(min(1.0, max(-1.0, sim_threshold))) / math.pi
    q = min(max(background_q, 1e-6), 0.999999)
    b_min = 2
    if n > bucket_cap:
        b_min = max(2, math.ceil(math.log2(2.0 * n / bucket_cap)))
    b_min = min(b_min, max_bits_per_band)

    def bands_for_floor(pb: float) -> int:
        if pb >= 1.0:
            return 1
        return max(
            1, math.ceil(math.log(1.0 - recall_floor) / math.log(1.0 - pb))
        )

    best = None  # (meets_floor, recall, -planes) maximized
    chosen = None
    for b in range(b_min, max_bits_per_band + 1):
        pb = p**b
        L = min(max_bands, bands_for_floor(pb))
        # background candidates per vector this config admits
        while L >= 1 and n * L * (q**b) > max_candidates_per_vec:
            L -= 1
        if L < 1:
            continue
        recall = 1.0 - (1.0 - pb) ** L
        meets = recall >= recall_floor
        key = (meets, recall if not meets else -b * L, -b * L)
        # prefer: any floor-meeting config at minimal plane cost; else
        # the maximum-recall config
        if best is None or key > best:
            best = key
            chosen = (b, L, recall, meets)
    if chosen is None:  # budget excludes everything: maximally selective
        b = max_bits_per_band
        chosen = (b, 1, p**b, False)
    b, n_bands, recall, meets = chosen
    if not meets:
        import warnings

        warnings.warn(
            f"lsh_auto_size: recall floor {recall_floor} is unaffordable "
            f"at n={n}, sim_threshold={sim_threshold} within "
            f"max_bands={max_bands} and max_candidates_per_vec="
            f"{max_candidates_per_vec}; best achievable expected_recall "
            f"is {recall:.3f} (raise the threshold or the budgets)"
        )
    return {
        "n_vectors": n,
        "bits_per_band": b,
        "n_bands": n_bands,
        "n_planes": b * n_bands,
        "rb": rb,
        "design_p": p,
        "expected_density": n / float(1 << b),
        "expected_cand_per_vec": n * n_bands * (q**b),
        "expected_recall": recall,
        "band_clamped": not meets,
    }


def lsh_candidate_pairs(
    emb: DataFrame,
    dim: int,
    bucket_cap: int | None = LSH_BUCKET_CAP,
    sizing: dict = FIXED_LSH_SIZING,
) -> DataFrame:
    """Distinct (left_id, right_id) candidate pairs via an LSH band-bucket
    SELF-join — the scale-path pair generator for threshold similarity
    joins and semantic dedup (operators/graph.py).

    Plan shape: one zero-shuffle Arrow band-key pass, a band explode, a
    tiny bucket-census aggregation (keyspace <= n_bands * 2^bits rows),
    and a bucketed equi-join on (band, key) — every stage hash-partitions
    on bounded keys; NO broadcast of the corpus and NO nested-loop join,
    so the compare space is sum(bucket^2) instead of n^2 and the whole
    thing scales horizontally.

    ``bucket_cap`` bounds expected per-bucket size (see LSH_BUCKET_CAP):
    oversized buckets are consistently sub-split on reserve signature
    bits, making the candidate count O(n_bands * n * cap) instead of
    O(n^2 / 2^bits). Recall is the dial: many narrow bands push recall
    toward 1 at moderate cosine thresholds — P(miss) = (1 - p^bits)^bands
    with p = 1 - theta/pi — and the cap only spends extra bits where
    buckets are dense. Recall, the candidate-superset property, and the
    cap's sub-bucket bound are pytest-gated on the testdata.

    ``sizing`` is the band configuration: FIXED_LSH_SIZING by default,
    or an :func:`lsh_auto_size` dict, whose bits and bands grow with the
    corpus census so recall holds roughly flat as density grows instead
    of drifting under constants that do not grow with it. Only a sizing
    with a census (``n_vectors``) can take the first-collision dedup."""
    bands = _lsh_bands(emb, dim, sizing, bucket_cap=bucket_cap)
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
    if first_collision_affordable(sizing):
        return _first_collision_dedup(pairs, bands)
    return pairs.drop("band").distinct()


# Broadcast budget for the pinned-broadcast fast paths (first-collision
# key table here; lsh_auto verification sides in operators/graph.py):
# ESTIMATED BYTES, not a row cap. The 500k-row constant it replaces was
# sized for one shape — ~75-band key rows at ~600 B — and scaled wrong
# for every other: a higher recall floor doubles L (and the key bytes),
# and graph.py reused the same row cap for embedding frames whose rows
# are dim-dependent (768-dim float ~3 KB/row -> ~1.5 GB per pinned side,
# resident on every executor AND the driver — ADVICE r11 medium). 512 MB
# estimated keeps the measured-good regime (500k x 75 bands ~= 330 MB)
# while routing dim/L shapes the row cap would have OOMed to the
# shuffle/AQE fallbacks.
_BROADCAST_EST_MAX_BYTES = 512 << 20
_BROADCAST_ROW_OVERHEAD = 64  # UnsafeRow header + hash-relation slot


def first_collision_affordable(sizing: dict | None) -> bool:
    """True when the per-vector band-key table a sizing dict implies
    (n rows x (8*L + overhead) bytes) fits the broadcast budget.

    Fails CLOSED on a dict missing its census keys: ``n_vectors``
    defaulting to 0 used to route arbitrarily large corpora into the
    broadcast path whenever a caller built the sizing by hand (ADVICE
    r11 low — ``lsh_candidate_pairs``'s sizing is a public kwarg and
    tests do exactly that)."""
    if not sizing:
        return False
    n, bands = sizing.get("n_vectors"), sizing.get("n_bands")
    if n is None or bands is None:
        return False
    return int(n) * (8 * int(bands) + _BROADCAST_ROW_OVERHEAD) <= _BROADCAST_EST_MAX_BYTES


def embedding_broadcast_affordable(n: int, dim: int) -> bool:
    """True when one side of the embedding frame (vec_id + float array +
    norm: ~4*dim + overhead bytes/row) fits the broadcast budget — the
    gate graph.py's lsh_auto branch pins its verification joins under.
    Bytes-based so a wide-dim corpus falls back to AQE's shuffle planning
    instead of OOMing a row-count gate sized for narrow key rows."""
    return int(n) * (4 * int(dim) + _BROADCAST_ROW_OVERHEAD) <= _BROADCAST_EST_MAX_BYTES


def _first_collision_dedup(pairs: DataFrame, bands: DataFrame) -> DataFrame:
    """Emit each candidate pair from its FIRST colliding band only.

    The naive banded self-join emits a pair once per colliding band and
    dedups with a global ``distinct()`` — at auto-sized band counts
    (L ~ 50-100) that shuffles and sort-spills an L-fold duplicated
    candidate stream (the 30x probe run of the sized path filled this
    box's disk exactly there). Instead, join each side to its compact
    per-vector FINAL bucket-key array (one broadcast-joined row per
    vector, built from the post-split bands frame so split keys are
    respected) and keep a (pair, band) row only when NO earlier band
    already collided: pairs become unique by construction inside
    whole-stage codegen, nothing corpus-squared ever shuffles, and the
    pair SET is exactly the distinct() one (pytest-gated)."""
    keys_by_vec = bands.groupBy("vec_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("band", "key"))),
            lambda s: s["key"],
        ).alias("bkeys")
    )
    kl = F.broadcast(
        keys_by_vec.select(
            F.col("vec_id").alias("left_id"), F.col("bkeys").alias("lkeys")
        )
    )
    kr = F.broadcast(
        keys_by_vec.select(
            F.col("vec_id").alias("right_id"), F.col("bkeys").alias("rkeys")
        )
    )
    return (
        pairs.join(kl, "left_id")
        .join(kr, "right_id")
        .filter(
            ~F.expr(
                "exists(zip_with(slice(lkeys, 1, band), "
                "slice(rkeys, 1, band), (a, b) -> a <=> b), c -> c)"
            )
        )
        .select("left_id", "right_id")
    )


@register(
    "x_ann_hyperplane_lsh",
    oracle=None,  # multi-stage LSH pipeline: rows-only driver check
    doc=f"Hyperplane-LSH ANN: {N_PLANES} Rademacher hyperplanes -> bit "
    f"signature -> {PLANE_BANDS} band buckets -> candidate bucket-join -> "
    "exact cosine re-rank of candidates only. The banding harness is the "
    "same one the MinHash text dedup uses; recall vs brute force and "
    "candidate-fraction selectivity are pytest-gated",
    tags=("vector", "extension", "ann"),
)
def x_ann_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dim = emb.select(F.size("embedding")).first()[0]
    u = emb.select("vec_id", _unit(F.col("embedding")).alias("u"))
    bands = hyperplane_band_keys(
        u, dim, N_PLANES // PLANE_BANDS, PLANE_BANDS, 0
    ).select("vec_id", F.posexplode("keys").alias("band", "key"))
    q_bands = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "band", "key"
    )
    cand = (
        bands.join(F.broadcast(q_bands), ["band", "key"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    qv = u.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("q_u")
    )
    scored = (
        cand.join(u, "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot(F.col("q_u"), F.col("u")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "score")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# PCA projection (dimensionality reduction for embedding pipelines)
# ---------------------------------------------------------------------------

PCA_K = 8


def _moment_partials(emb: DataFrame) -> DataFrame:
    """One row PER PARTITION of (count, sum vector, sum of outer products,
    flattened d*d) — the treeAggregate pattern: full-rank covariance state
    crosses the executor boundary once per partition (O(P * d^2) driver
    bytes, independent of row count), never per row and never via a
    per-element shuffle."""

    def batches(it):
        import numpy as np
        import pandas as pd

        cnt, s, ss = 0, None, None
        for pdf in it:
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cnt += x.shape[0]
            s = x.sum(0) if s is None else s + x.sum(0)
            g = x.T @ x
            ss = g if ss is None else ss + g
        if cnt:
            yield pd.DataFrame(
                {"cnt": [cnt], "s": [s.tolist()], "ss": [ss.ravel().tolist()]}
            )

    return emb.select("embedding").mapInPandas(
        batches, "cnt long, s array<double>, ss array<double>"
    )


def fit_pca(spark: SparkSession, emb: DataFrame, k: int = PCA_K):
    """Fit PCA: returns (mean: ndarray[d], components: ndarray[k, d],
    eigenvalues: ndarray[k]). Only partition-level moment partials are
    collected (bounded model state, not data); the d x d eigendecomposition
    runs on the driver — d is embedding width, never corpus size.

    Component sign is fixed deterministically (largest-|w| coordinate made
    positive) so results are reproducible across partitionings."""
    import numpy as np

    parts = _moment_partials(emb).collect()
    n = sum(p["cnt"] for p in parts)
    s = np.sum([np.asarray(p["s"]) for p in parts], axis=0)
    ss = np.sum([np.asarray(p["ss"]) for p in parts], axis=0)
    d = s.shape[0]
    mean = s / n
    cov = ss.reshape(d, d) / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # (k, d)
    flip = np.sign(comps[np.arange(k), np.abs(comps).argmax(axis=1)])
    flip[flip == 0] = 1.0
    return mean, comps * flip[:, None], vals[order]


@register(
    "x_embed_pca",
    oracle=None,  # eigendecomposition: no single-statement SQL equivalent.
    # Gated instead by pytest invariants: orthonormal components,
    # descending per-dim variance == eigenvalues, exact match vs numpy
    # PCA on the collected table (tests/test_vector.py).
    doc=f"PCA projection of the embeddings table to {PCA_K} dims: "
    "partition-level moment partials (count / sum / outer-product sum) via "
    "one Arrow pass — the treeAggregate pattern, O(partitions * d^2) "
    "driver state independent of corpus size — then a d x d eigh on the "
    "driver and a second Arrow pass projecting every row once, after one "
    "range sort on vec_id; model state bounded by embedding width. "
    f"Output is flat double columns pc1..pc{PCA_K} (deterministic "
    "component signs), ordered by vec_id",
    tags=("vector", "extension", "pandas-udf"),
)
def x_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    mean, comps, _ = fit_pca(spark, emb)
    mean_l, comps_l = mean.tolist(), comps.tolist()
    k = len(comps_l)

    def project(it):
        import numpy as np
        import pandas as pd

        m = np.asarray(mean_l)
        c = np.asarray(comps_l)  # (k, d)
        for pdf in it:
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            p = (x - m) @ c.T
            out = {"vec_id": pdf["vec_id"]}
            for i in range(k):
                out[f"pc{i + 1}"] = p[:, i]
            yield pd.DataFrame(out)

    schema = "vec_id long, " + ", ".join(f"pc{i + 1} double" for i in range(k))
    # Range-sort the scan, not the kernel's output: the RangePartitioner's
    # sampling job then re-reads the scan only, the kernel sees each row
    # once, and it emits every sorted partition in its input order.
    return (
        emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .mapInPandas(project, schema)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — memory-bounded ANN codes
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_K = 16  # codewords per subspace (codes fit in 4 bits; stored as int)
PQ_ITERS = 4


def fit_pq(spark: SparkSession, emb: DataFrame, m: int = PQ_M, k: int = PQ_K):
    """Fit PQ codebooks: m independent k-means, one per dim/m-wide
    subspace. Returns ndarray (m, k, sub).

    Every Lloyd iteration is ONE Arrow pass emitting per-partition
    (count, sum) partials per (subspace, codeword) — the same
    treeAggregate shape as fit_pca: driver traffic is
    O(partitions * m * k * sub), independent of corpus size; assignment
    happens executor-side against the broadcast codebooks. Init is the
    first k vectors' subvectors (deterministic)."""
    import numpy as np

    first = emb.orderBy("vec_id").limit(k).collect()  # k rows, bounded
    x0 = np.stack([r["embedding"] for r in first]).astype(np.float64)
    d = x0.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = np.stack([x0[:, j * sub : (j + 1) * sub] for j in range(m)])

    for _ in range(PQ_ITERS):
        bl = books.tolist()

        def partials(it):
            import numpy as np
            import pandas as pd

            b = np.asarray(bl)  # (m, k, sub)
            cnt = np.zeros((m, k))
            s = np.zeros((m, k, sub))
            seen = False
            for pdf in it:
                x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                seen = True
                for j in range(m):
                    xj = x[:, j * sub : (j + 1) * sub]
                    d2 = ((xj[:, None, :] - b[j][None, :, :]) ** 2).sum(-1)
                    a = d2.argmin(1)
                    np.add.at(cnt[j], a, 1.0)
                    np.add.at(s[j], a, xj)
            if seen:
                yield pd.DataFrame(
                    {"cnt": [cnt.ravel().tolist()], "s": [s.ravel().tolist()]}
                )

        parts = emb.select("embedding").mapInPandas(
            partials, "cnt array<double>, s array<double>"
        ).collect()
        cnt = sum(np.asarray(p["cnt"]).reshape(m, k) for p in parts)
        s = sum(np.asarray(p["s"]).reshape(m, k, sub) for p in parts)
        nz = cnt > 0  # empty codeword keeps its previous position
        books = np.where(
            nz[..., None], s / np.maximum(cnt, 1.0)[..., None], books
        )
    return books


@register(
    "x_embed_pq",
    oracle=None,  # iterative per-subspace k-means: rows-only driver check;
    # pytest gates code validity, nearest-codeword optimality, and that
    # PQ reconstruction beats the global-mean (1-codeword) baseline.
    doc=f"Product quantization: {PQ_M} subspaces x {PQ_K} codewords "
    f"({PQ_ITERS} Lloyd iters each) compress every embedding to "
    f"{PQ_M} small codes — 64 float32 dims become {PQ_M} x 4-bit ids, a "
    "64:1 memory cut, the standard trick for holding a 100 TB ANN index "
    "in RAM (IVF-PQ). Training: one Arrow partial-sum pass per "
    "iteration, O(partitions * m * k * subdim) driver state; encoding: "
    "one narrow Arrow pass emitting (vec_id, codes, per-vector "
    "reconstruction MSE). Nothing corpus-sized leaves the executors",
    tags=("vector", "extension", "ann", "pandas-udf"),
)
def x_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    books = fit_pq(spark, emb)
    # sorted before the kernel, as in x_embed_pca: no sampling job reruns it
    return encode_pq(emb.orderBy("vec_id"), books)


def encode_pq(emb: DataFrame, books) -> DataFrame:
    """Encode every embedding against ALREADY-FITTED codebooks — one narrow
    Arrow pass emitting (vec_id, codes, recon_mse). Split out so IVF-PQ
    threads its fitted books straight in instead of re-running the whole
    fit through x_embed_pq (which doubled the Lloyd passes, ADVICE r6)."""
    bl = books.tolist()
    m, k, sub = books.shape

    def encode(it):
        import numpy as np
        import pandas as pd

        b = np.asarray(bl)
        for pdf in it:
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            codes = np.empty((x.shape[0], m), dtype=np.int32)
            err = np.zeros(x.shape[0])
            for j in range(m):
                xj = x[:, j * sub : (j + 1) * sub]
                d2 = ((xj[:, None, :] - b[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = d2.argmin(1)
                err += d2[np.arange(x.shape[0]), codes[:, j]]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes": list(codes.tolist()),
                    "recon_mse": err / x.shape[1],  # mean sq. err over dims
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        encode, "vec_id long, codes array<int>, recon_mse double"
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse quantizer (IVF cells) + PQ codes + ADC scoring
# ---------------------------------------------------------------------------

ADC_SHORTLIST = 50


@register(
    "x_ann_ivf_pq",
    oracle=None,  # iterative k-means x2 + ADC approximation: rows-only;
    # recall-vs-brute-force pytest gate (tests/test_vector.py).
    doc=f"IVF-PQ ANN — the way a 100 TB ANN index actually fits in "
    f"memory: IVF cells ({N_CELLS}, probe {N_PROBE}) narrow the search, "
    f"PQ codes ({PQ_M}x{PQ_K}) stand in for the vectors during scoring "
    "via ADC (per-query lookup table of query-subvector x codeword dot "
    f"products, {PQ_M}*{PQ_K} entries), the top-{ADC_SHORTLIST} ADC "
    f"shortlist is re-ranked exactly, and only the top-{TOP_K} survive. "
    "Scale shape: probed-cell candidates join their codes on vec_id "
    "(co-partitioned equi-join), ADC scoring is one Arrow gather-sum "
    "over the broadcast table — full vectors are touched ONLY for the "
    "bounded shortlist re-rank. Codes are 64:1 smaller than float32 "
    "embeddings, so the scored working set shrinks by the same factor",
    tags=("vector", "extension", "ann", "pandas-udf"),
)
def x_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    cents = fit_ivf_cells(spark, emb)
    books = fit_pq(spark, emb)
    m, k, sub = books.shape

    u = emb.select("vec_id", _unit(F.col("embedding")).alias("u"))
    inv = _assign(u, cents)  # vec_id -> cell

    # PQ codes for every vector from the codebooks fitted above — NOT via
    # x_embed_pq, which would re-run the whole fit (ADVICE r6)
    codes = encode_pq(emb, books).select("vec_id", "codes")

    q = u.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("q_u")
    )
    qc = q.crossJoin(F.broadcast(cents)).select(
        "query_id", "q_u", "cell", dot(F.col("q_u"), F.col("c_emb")).alias("cs")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("cell"))
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= N_PROBE)
        .select("query_id", "q_u", "cell")
    )
    # candidates: members of probed cells, joined to their PQ codes
    cand = (
        inv.join(F.broadcast(probes.select("query_id", "cell")), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(codes, "vec_id")
    )

    # ADC: per-query lookup tables T[q][j][c] = q_subvec_j . codeword_jc.
    # The query set is bounded (N_QUERIES), so the tables broadcast as a
    # plain python structure into one Arrow scorer.
    q_rows = q.collect()  # N_QUERIES rows, bounded
    bl = books.tolist()
    tables = {}
    b = np.asarray(bl)
    for r in q_rows:
        qv = np.asarray(r["q_u"], dtype=np.float64)
        tables[r["query_id"]] = np.stack(
            [b[j] @ qv[j * sub : (j + 1) * sub] for j in range(m)]
        ).tolist()  # (m, k)

    def adc(it):
        import numpy as np
        import pandas as pd

        t = {qid: np.asarray(v) for qid, v in tables.items()}
        for pdf in it:
            c = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, m)
            qids = pdf["query_id"].to_numpy()
            s = np.empty(len(qids))
            for qid in np.unique(qids):
                mask = qids == qid
                tt = t[int(qid)]  # (m, k)
                s[mask] = tt[np.arange(m)[None, :], c[mask]].sum(1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "vec_id": pdf["vec_id"],
                    "adc": s,
                }
            )

    shortlisted = cand.select("query_id", "vec_id", "codes").mapInPandas(
        adc, "query_id long, vec_id long, adc double"
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("vec_id"))
    short = (
        shortlisted.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= ADC_SHORTLIST)
        .select("query_id", "vec_id")
    )
    # exact re-rank of the bounded shortlist only
    qv = q.select("query_id", F.col("q_u").alias("qv"))
    exact = (
        short.join(u, "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot(F.col("qv"), F.col("u")).alias("score"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "score")
        .orderBy("query_id", "rank")
    )


KNN_CLS_K = 5  # neighbourhood size for the leave-one-out classifier
# Auto-sizing regime for the kNN audit's LSH candidate generator: a
# top-k audit needs recall on each vector's NEAREST neighbors, so the
# sizer targets a higher cosine than the sim-join's 0.40 default and a
# budget a per-vector top-5 window can sort — the sim-join's 8192/vec
# budget emitted ~1B symmetrized candidates at the 30x probe and
# sort-spilled past local disk (probes/r13).
KNN_LSH_SIM_TARGET = 0.55
KNN_LSH_CAND_BUDGET = 1024


@register(
    "x_knn_classify_loo",
    oracle=f"""
        WITH n AS (
            SELECT vec_id, label, embedding,
                   sqrt({_sql_dot('embedding', 'embedding')}) AS nrm
            FROM embeddings
        ), s AS (
            SELECT a.vec_id, a.label AS true_label, b.label AS nb_label,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_sql_dot('a.embedding', 'b.embedding')}
                                / (a.nrm * b.nrm) DESC, b.vec_id
                   ) AS rk
            FROM n a JOIN n b ON a.vec_id <> b.vec_id
        ), votes AS (
            SELECT vec_id, true_label, nb_label, count(*) AS c
            FROM s WHERE rk <= {KNN_CLS_K}
            GROUP BY 1, 2, 3
        ), pred AS (
            SELECT vec_id, true_label, nb_label AS pred_label,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY c DESC, nb_label
                   ) AS pr
            FROM votes
        )
        SELECT true_label AS label,
               count(*) AS n,
               count(*) FILTER (WHERE pred_label = true_label) AS n_correct,
               CAST(count(*) FILTER (WHERE pred_label = true_label) AS DOUBLE)
                   / count(*) AS accuracy
        FROM pred WHERE pr = 1
        GROUP BY 1 ORDER BY 1
    """,
    doc=f"Leave-one-out {KNN_CLS_K}-NN majority-vote label classification "
    "over the embeddings table, reported as per-label accuracy — the "
    "label-quality audit a training pipeline runs to find mislabeled or "
    "boundary examples. Pair source follows the graph.py contract: exact "
    "all-pairs under ALL_PAIRS_MAX_ROWS (the oracle-checkable form), "
    "AUTO-SIZED LSH band-bucket candidates above it (equi-joins only, "
    "recall gated in pytest; census-sized so recall holds flat as corpus "
    "density grows). Votes/top-k are totally ordered (score desc, id; "
    "count desc, label) so the result is deterministic at any parallelism",
    tags=("vector", "extension"),
)
def x_knn_classify_loo(
    spark: SparkSession, sf_dir: str, candidates: str = "auto"
) -> DataFrame:
    from tutorial_iceberg_spark.operators.graph import lsh_route

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    b = emb.select(
        F.col("vec_id").alias("nb_id"),
        F.col("label").alias("nb_label"),
        F.col("embedding").alias("nb_emb"),
        F.col("nrm").alias("nb_nrm"),
    )
    # graph.py's routing policy, with "lsh_auto" sized for the top-k
    # regime (KNN_LSH_SIM_TARGET / KNN_LSH_CAND_BUDGET)
    route = lsh_route(
        spark, sf_dir, candidates, KNN_LSH_SIM_TARGET, KNN_LSH_CAND_BUDGET
    )
    if route is None:
        scored = emb.join(
            F.broadcast(b), F.col("vec_id") != F.col("nb_id")
        )
    else:
        # scale path: LSH candidates (left<right) symmetrized to both
        # directions, then two equi-joins back to the embeddings — no
        # nested loop
        cand, pin = route
        cand = cand.unionByName(
            cand.select(
                F.col("right_id").alias("left_id"),
                F.col("left_id").alias("right_id"),
            )
        )
        left_emb, right_emb = emb, b
        if pin:
            left_emb, right_emb = F.broadcast(left_emb), F.broadcast(right_emb)
        scored = (
            cand.join(left_emb, cand.left_id == left_emb.vec_id)
            .select(
                "vec_id", "label", "embedding", "nrm",
                F.col("right_id").alias("nb_id"),
            )
            .join(right_emb, "nb_id")
        )
    scored = scored.select(
        "vec_id",
        F.col("label").alias("true_label"),
        "nb_id",
        "nb_label",
        (
            dot(F.col("embedding"), F.col("nb_emb"))
            / (F.col("nrm") * F.col("nb_nrm"))
        ).alias("score"),
    )
    w_rank = Window.partitionBy("vec_id").orderBy(F.desc("score"), "nb_id")
    votes = (
        scored.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= KNN_CLS_K)
        .groupBy("vec_id", "true_label", "nb_label")
        .agg(F.count("*").alias("c"))
    )
    w_vote = Window.partitionBy("vec_id").orderBy(F.desc("c"), "nb_label")
    pred = (
        votes.withColumn("pr", F.row_number().over(w_vote))
        .filter(F.col("pr") == 1)
        .select("vec_id", "true_label", F.col("nb_label").alias("pred_label"))
    )
    return (
        pred.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count("*").alias("n"),
            F.count_if(F.col("pred_label") == F.col("true_label")).alias(
                "n_correct"
            ),
        )
        .select(
            "label",
            "n",
            "n_correct",
            (F.col("n_correct").cast("double") / F.col("n")).alias("accuracy"),
        )
        .orderBy("label")
    )
