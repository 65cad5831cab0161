"""LSH bucket-cap CLAMP-regime probe (VERDICT r9 Next #3).

The banded-LSH candidate generator bounds expected candidates to
O(n_bands * n * cap) by splitting oversized buckets on up to
rb = _LSH_RESERVE_BITS_PER_BAND reserve signature bits. Past a census
density of 2^rb * cap rows in one raw (band, key) bucket the reserve
width cannot split far enough: the per-sub-bucket bound quietly degrades
toward the residual 2^rb * cap, and round 9 made that event LOUD
(`_LSH_CLAMP_EVENTS` + warning) — but nothing ever MEASURED what
candidates and recall actually do in that regime. This probe does.

Fixture: the sf0.1 embeddings table (2,000 background vectors, dim 64)
plus a synthetic dense cluster of K unit vectors
``v_i = sqrt(rho)*c + sqrt(1-rho)*g_i`` (rho = 0.5, deterministic numpy
seed), giving pairwise cluster cosine ~0.5 — all well above the 0.40
edge threshold, i.e. a genuinely near-duplicate mega-cluster, the shape
that produces pathological bucket density in a real corpus. The probe
scales the CAP down (16 instead of the production 512) so the clamp
boundary (cap << rb = 1,024 rows/bucket) is reachable at local scale;
the census -> extra-bits -> clamp code path is byte-identical to
production, so the measured REGIME BEHAVIOR (candidate growth, recall)
transfers — only the absolute numbers are probe-scale.

Three regimes, same code path:
  A  split-active, below clamp   (K=400:  max census < 1,024)
  B  CLAMP                       (K=6,000: max census >> 1,024)
  C  B + the warning's mitigation (the sizing's rb 6 -> 12:
     clamp threshold rises to cap<<12 = 65,536, the dense bucket splits
     fully; recall pays for the deeper split — that tradeoff is the
     point of measuring)

Per regime: max raw-bucket census, clamp events fired, distinct
candidate pairs (+ per-vector rate), wall time, and sampled recall —
150 cluster members, all C(150,2) pairs with exact cosine >= 0.45, the
fraction surfacing in the candidate set.

Usage: python tools/lsh_clamp_probe.py [base_sf_dir]
Emits one JSON line per regime + a summary; SCALE_PROBE.md narrates.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from tutorial_iceberg_spark.functions import vector as V  # noqa: E402
from tutorial_iceberg_spark.io import load_table  # noqa: E402
from tutorial_iceberg_spark.session import get_spark  # noqa: E402

PROBE_CAP = 16  # production 512; scaled down so clamp is reachable locally
RHO = 0.5
CLUSTER_BASE_ID = 5_000_000
SAMPLE = 150
TRUE_PAIR_MIN_COS = 0.45


def _cluster(k: int, dim: int) -> pd.DataFrame:
    rng = np.random.RandomState(7)
    c = rng.randn(dim)
    c /= np.linalg.norm(c)
    g = rng.randn(k, dim)
    g /= np.linalg.norm(g, axis=1, keepdims=True)
    v = np.sqrt(RHO) * c + np.sqrt(1 - RHO) * g
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(CLUSTER_BASE_ID, CLUSTER_BASE_ID + k),
            "embedding": [row.astype(np.float32).tolist() for row in v],
            "label": np.full(k, 999, dtype=np.int64),  # label is INTEGER
        }
    ), v


def main() -> None:
    base_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="lsh-clamp-probe")
    bg = load_table(spark, base_dir, "embeddings")
    dim = bg.select(F.size("embedding")).first()[0]

    regimes = [
        ("A_split_below_clamp", 400, 6),
        ("B_clamp", 6000, 6),
        ("C_clamp_mitigated_rb12", 6000, 12),
    ]
    rows = []
    for name, k, rb in regimes:
        pdf, vecs = _cluster(k, dim)
        emb = bg.unionByName(spark.createDataFrame(pdf)).repartition(32)
        n = 2000 + k

        # raw census (bucket_cap=None skips splitting entirely — this is
        # the pre-split density the clamp check sees)
        census = (
            V._lsh_bands(emb, dim, bucket_cap=None)
            .groupBy("band", "key")
            .agg(F.count("*").alias("cnt"))
            .agg(F.max("cnt"))
            .first()[0]
        )

        V._LSH_CLAMP_EVENTS.clear()
        t0 = time.perf_counter()
        cands = V.lsh_candidate_pairs(
            emb,
            dim,
            bucket_cap=PROBE_CAP,
            sizing=dict(V.FIXED_LSH_SIZING, rb=rb),
        ).persist()
        n_cands = cands.count()
        wall = time.perf_counter() - t0
        clamped = len(V._LSH_CLAMP_EVENTS)

        # sampled recall: SAMPLE lowest cluster ids, exact-cosine-gated
        # true pairs, fraction present in the candidate set
        s = vecs[:SAMPLE]
        cos = s @ s.T
        ids = np.arange(CLUSTER_BASE_ID, CLUSTER_BASE_ID + SAMPLE)
        iu = np.triu_indices(SAMPLE, k=1)
        keep = cos[iu] >= TRUE_PAIR_MIN_COS
        true_pairs = {
            (int(ids[i]), int(ids[j]))
            for i, j, ok in zip(iu[0], iu[1], keep)
            if ok
        }
        in_sample = cands.filter(
            (F.col("left_id") >= CLUSTER_BASE_ID)
            & (F.col("left_id") < CLUSTER_BASE_ID + SAMPLE)
            & (F.col("right_id") >= CLUSTER_BASE_ID)
            & (F.col("right_id") < CLUSTER_BASE_ID + SAMPLE)
        ).collect()
        got = {(r["left_id"], r["right_id"]) for r in in_sample}
        recall = len(true_pairs & got) / len(true_pairs)
        cands.unpersist()

        rec = {
            "regime": name,
            "n_vectors": n,
            "cluster_k": k,
            "bucket_cap": PROBE_CAP,
            "reserve_bits": rb,
            "clamp_threshold_rows": PROBE_CAP << rb,
            "max_raw_bucket_census": int(census),
            "clamp_events": clamped,
            "candidate_pairs": n_cands,
            "candidates_per_vector": round(n_cands / n, 1),
            "sampled_recall": round(recall, 4),
            "sampled_true_pairs": len(true_pairs),
            "wall_sec": round(wall, 2),
        }
        rows.append(rec)
        print(json.dumps(rec))

    a, b, c = rows
    print(
        json.dumps(
            {
                "summary": "lsh_clamp_probe",
                "clamp_fired_only_in_B": (
                    a["clamp_events"] == 0
                    and b["clamp_events"] > 0
                    and c["clamp_events"] == 0
                ),
                "candidate_rate_growth_B_over_A": round(
                    b["candidates_per_vector"] / a["candidates_per_vector"], 2
                ),
                "candidate_rate_growth_C_over_A": round(
                    c["candidates_per_vector"] / a["candidates_per_vector"], 2
                ),
                "recall_A_B_C": [
                    a["sampled_recall"],
                    b["sampled_recall"],
                    c["sampled_recall"],
                ],
            }
        )
    )


if __name__ == "__main__":
    main()
