"""Negative-control emulation of the driver's pandas-path value hash.

``tools/oracle_check.py`` fetches DuckDB results via ``fetchall()`` (HUGEINT
arrives as a Python int and compares equal); the driver instead canonicalizes
BOTH sides through pandas, where HUGEINT becomes float64 and the value hash
breaks (round-6 ``x_semantic_dedup_corpus``). This test walks a fixed,
family-diverse subset of registered queries through exactly that path —
``DataFrame.toPandas()`` vs ``rel.df()`` — so type-level drift the fetchall
gate can't see fails locally before the driver's sample rotation finds it.
"""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb
import pytest

from tutorial_iceberg_spark.io import TABLES, table_path
from tutorial_iceberg_spark.registry import all_queries

# One representative per family, plus every query family that carried the
# round-6 latent HUGEINT bug (graph corpus pass, pipeline accounting, text
# token counts, TPC-H conditional counts, window sums, multimodal).
SUBSET = [
    "x_semantic_dedup_corpus",  # the r6 driver failure itself
    "x_token_count",
    "x_rolling_7day",
    "q12_late_lines_by_status",
    "x_pipeline_clean_corpus",
    "x_multimodal_features",
    "x_dataset_card",
    "f13_string_agg",
    "x_retention_bitmap",
    "a16_cube_revenue",
    "x_tfidf_terms",
    "w6_distribution_ranks",
    # round-7 additions (each also passed a one-off full-registry sweep
    # of the pandas path; SURVEY.md, round 7)
    "lake_changelog",
    "x_embed_outliers",
    "x_dedup_minhash_md5",
    "x_user_streaks",
    "x_regression_trend",
    "x_dow_profile",
    "x_class_weights",
    "x_dedup_cluster_sizes",
]


def _norm(v):
    if v is None:
        return "\x00NULL"
    # pandas hands back numpy scalars; float64 subclasses float, but
    # int64 does NOT subclass int — normalize through item() first.
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):
        try:
            v = v.item()
        except (AttributeError, ValueError):
            pass
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v.hex()}"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return f"t:{v.isoformat()}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v.normalize()}"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return f"x:{v.hex()}"
    return f"s:{v}"


def _canon(pdf):
    cols = sorted(pdf.columns)
    rows = pdf[cols].values.tolist()
    return sorted("|".join(_norm(v) for v in row) for row in rows)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(sf_dir, t)}')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", SUBSET)
def test_pandas_path_hash_matches(name, spark, sf_dir, duck):
    spec = all_queries()[name]
    assert spec.oracle is not None, f"{name} has no oracle"
    s_pdf = spec.builder(spark, sf_dir).toPandas()
    d_pdf = duck.sql(spec.oracle).df()
    assert sorted(s_pdf.columns) == sorted(d_pdf.columns), name
    s_canon, d_canon = _canon(s_pdf), _canon(d_pdf)
    assert len(s_canon) == len(d_canon), name
    diffs = [(a, b) for a, b in zip(s_canon, d_canon) if a != b][:3]
    assert not diffs, f"{name}: first pandas-path diffs {diffs}"
