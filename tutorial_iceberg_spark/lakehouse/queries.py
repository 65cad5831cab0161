"""Driver-facing lakehouse queries (D1-D16), oracle-checked.

Each query builds a FRESH lakehouse table in a temp warehouse from a
deterministic subset of the ``orders`` testdata, applies the lakehouse
operation under test, and returns the final table state. Because every
input subset is keyed on ``o_orderkey % k``, the end state is expressible
in pure ANSI SQL — so even UPDATE / MERGE / time travel / compaction /
merge-on-read deletes get full DuckDB value-hash checks, not just
rows-only. Invariant coverage (snapshot counts, pruning, orphan cleanup)
lives in tests/test_lakehouse.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tutorial_iceberg_spark import scratch as _scratch
from tutorial_iceberg_spark.io import load_table
from tutorial_iceberg_spark.lakehouse.table import LakeTable
from tutorial_iceberg_spark.registry import register

ORDERS_DDL = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)

ORDERS_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"


def _fresh_table(
    spark: SparkSession, name: str, ddl: str = ORDERS_DDL, **kwargs
) -> LakeTable:
    # Warehouse temps under the cluster-portable scratch root (shared
    # filesystem on multi-node: executors write data files, the driver
    # writes metadata — both must resolve the same path). Returned frames
    # read the table, so removal is deferred to the scratch reaper
    # (round-9 ADVICE: repeated oracle/bench runs must not accumulate
    # unbounded table copies).
    wh = _scratch.defer_cleanup(_scratch.scratch_dir("tis_lake", name, unique=True))
    return LakeTable.create(spark, os.path.join(wh, "t"), ddl, name=name, **kwargs)


def _orders_mod(spark: SparkSession, sf_dir: str, k: int, *residues: int) -> DataFrame:
    df = load_table(spark, sf_dir, "orders")
    return df.filter((F.col("o_orderkey") % k).isin(list(residues)))


@register(
    "lake_create_insert_read",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders WHERE o_orderkey % 3 IN (0, 1)
    """,
    doc="D1+D16: CREATE TABLE (README.md:944-951) + two INSERT snapshots "
    "(README.md:1136-1138) + read of current state",
    tags=("lakehouse",),
)
def lake_create_insert_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "create_insert")
    t.append(_orders_mod(spark, sf_dir, 3, 0))
    t.append(_orders_mod(spark, sf_dir, 3, 1))
    return t.read()


@register(
    "lake_update",
    oracle=f"""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
    """,
    doc="D2 UPDATE ... SET ... WHERE (README.md:954-956) as copy-on-write rewrite",
    tags=("lakehouse",),
)
def lake_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "update")
    t.append(load_table(spark, sf_dir, "orders"))
    t.update("o_orderstatus = 'O'", {"o_totalprice": "o_totalprice * 1.1"})
    return t.read()


@register(
    "lake_update_mor",
    oracle=f"""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
    """,
    doc="D2 UPDATE under write.update.mode=merge-on-read: one snapshot "
    "position-deletes the matched rows and appends their updated versions "
    "- write cost O(matched rows), no candidate file rewritten (the MoR "
    "extension of README.md:1112-1121's delete-mode property)",
    tags=("lakehouse",),
)
def lake_update_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "update_mor")
    t.append(load_table(spark, sf_dir, "orders"))
    t.set_property("write.update.mode", "merge-on-read")
    t.update("o_orderstatus = 'O'", {"o_totalprice": "o_totalprice * 1.1"})
    return t.read()


@register(
    "lake_delete",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders WHERE o_orderpriority <> '1-URGENT'
    """,
    doc="D3 DELETE FROM ... WHERE (README.md:959-960), copy-on-write",
    tags=("lakehouse",),
)
def lake_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "delete")
    t.append(load_table(spark, sf_dir, "orders"))
    t.delete("o_orderpriority = '1-URGENT'")
    return t.read()


def _merge_upsert_setup(spark: SparkSession, sf_dir: str):
    """Fixture phase (bench-split): fresh temp-dir table + seed snapshot +
    lazy source frame. Writing the seed parquet dominates the wall time at
    bench SF and says nothing about MERGE — time it separately."""
    t = _fresh_table(spark, "merge")
    t.append(_orders_mod(spark, sf_dir, 2, 0))
    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 4 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    inserts = orders.filter(
        ((F.col("o_orderkey") % 2) == 1) & ((F.col("o_orderkey") % 5) == 0)
    )
    return t, updates.unionByName(inserts)


def _merge_upsert_op(state) -> DataFrame:
    """Measured phase: the MERGE itself (key-bounds file pruning + CoW
    rewrite + snapshot commit) and the result read."""
    t, src = state
    t.merge(src, on="o_orderkey")
    return t.read()


@register(
    "lake_merge_upsert",
    oracle=f"""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
        WHERE o_orderkey % 2 = 0
           OR (o_orderkey % 2 = 1 AND o_orderkey % 5 = 0)
    """,
    doc="D4 MERGE INTO: WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT * "
    "(README.md:963-967). Target = even keys; source = (key%4=0 with doubled "
    "price) matched-updates + (odd multiples of 5) inserts.",
    tags=("lakehouse", "flagship"),
)
def lake_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _merge_upsert_op(_merge_upsert_setup(spark, sf_dir))


@register(
    "lake_time_travel",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders WHERE o_orderkey % 3 = 0
    """,
    doc="D10 VERSION AS OF (README.md:1007-1010): read snapshot 1 after a "
    "second append — must reproduce the pre-append state",
    tags=("lakehouse",),
)
def lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "time_travel")
    t.append(_orders_mod(spark, sf_dir, 3, 0))
    t.append(_orders_mod(spark, sf_dir, 3, 1))
    return t.read(snapshot_id=1)


@register(
    "lake_rollback",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders WHERE o_orderkey % 3 = 0
    """,
    doc="D11 CALL rollback_to_snapshot (README.md:1013): pointer moves back, "
    "history kept",
    tags=("lakehouse",),
)
def lake_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "rollback")
    t.append(_orders_mod(spark, sf_dir, 3, 0))
    t.append(_orders_mod(spark, sf_dir, 3, 1))
    t.rollback_to(1)
    return t.read()


@register(
    "lake_schema_evolution",
    oracle=f"""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
               o_orderpriority AS priority,
               1 AS version,
               'unknown' AS region
        FROM orders WHERE o_orderkey % 3 = 0
    """,
    doc="D5+D6+D7: ADD COLUMN with defaults (README.md:976, 1159-1166) + "
    "RENAME COLUMN (README.md:979) — metadata-only, old files resolve via "
    "field IDs, defaults materialize at read",
    tags=("lakehouse",),
)
def lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "schema_evo")
    t.append(_orders_mod(spark, sf_dir, 3, 0))
    t.add_column("version", "int", default=1)
    t.add_column("region", "string", default="unknown")
    t.rename_column("o_orderpriority", "priority")
    return t.read()


@register(
    "lake_drop_column",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
               o_orderpriority,
               'NA' AS o_orderstatus
        FROM orders WHERE o_orderkey % 3 IN (0, 1)
    """,
    doc="ALTER TABLE DROP COLUMN (r9 verdict Next #8b — the one evolution "
    "verb Week 4's set, README.md:976-983, leaves unexercised): seed, DROP "
    "o_orderstatus (metadata-only, zero data IO — files keep the bytes but "
    "id-based projection hides them), append more rows (writer aligns to "
    "the narrowed schema), then ADD a column with the SAME NAME back with "
    "default 'NA'. Field ids are never reused, so every row — including "
    "the pre-drop files that still physically contain the old values — "
    "must read the default, NOT the resurrected original (Iceberg's "
    "id-based evolution guarantee)",
    tags=("lakehouse", "extension"),
)
def lake_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "drop_col")
    t.append(_orders_mod(spark, sf_dir, 3, 0))
    t.drop_column("o_orderstatus")
    t.append(_orders_mod(spark, sf_dir, 3, 1))
    t.add_column("o_orderstatus", "string", default="NA")
    return t.read()


@register(
    "lake_promote_column",
    oracle="""
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               CAST(o_custkey AS BIGINT) AS o_custkey,
               CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 3 = 1
    """,
    doc="ALTER COLUMN ... TYPE — Iceberg type promotion (spec: int->long, "
    "float->double, decimal precision widening), the last evolution verb "
    "(r10 verdict Next #4). Seed a table declared NARROW (int keys, "
    "float price), append (files physically int32/float32), promote all "
    "three to bigint/bigint/double, append again (new files physically "
    "wide). Metadata-only — field ids keep, zero data IO — and the "
    "oracle proves the read semantics: old files' values surface cast "
    "up (the float32 rounding they were STORED with is preserved, not "
    "un-rounded), new files' values are exact",
    tags=("lakehouse", "extension"),
)
def lake_promote_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(
        spark,
        "promote_col",
        ddl="o_orderkey int, o_custkey int, o_totalprice float, "
        "o_orderdate timestamp_ntz, o_orderpriority string",
    )
    cols = [
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
        "o_orderpriority",
    ]
    t.append(_orders_mod(spark, sf_dir, 3, 0).select(*cols))
    t.promote_column("o_orderkey", "bigint")
    t.promote_column("o_custkey", "bigint")
    t.promote_column("o_totalprice", "double")
    t.append(_orders_mod(spark, sf_dir, 3, 1).select(*cols))
    return t.read()


@register(
    "lake_compaction",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders
    """,
    doc="D12 CALL rewrite_data_files (README.md:1022): 3 small appends "
    "compacted into one file set; content byte-identical",
    tags=("lakehouse",),
)
def lake_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "compact")
    for r in (0, 1, 2):
        t.append(_orders_mod(spark, sf_dir, 3, r))
    t.compact(target_files=2)
    return t.read()


@register(
    "lake_rewrite_manifests",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders
    """,
    doc="CALL rewrite_manifests — the METADATA-side maintenance twin of "
    "rewrite_data_files (the reference's Iceberg maintenance story, "
    "README.md:1016-1028, implies it: manifest count grows one per "
    "commit). Fixture: a year(o_orderdate)-partitioned table takes 6 "
    "interleaved appends, so each of the 6 manifests spans EVERY year "
    "and a one-year scan must plan all 6. rewrite_manifests repacks the "
    "entries partition-clustered with ZERO data-file IO (paths carried "
    "byte-identically — asserted), after which the same scan plans a "
    "strict subset of manifests (asserted). Row-identical end state, "
    "value-hash-checked; at 100 TB manifest planning is the driver-side "
    "cost every query pays before touching data",
    tags=("lakehouse", "maintenance", "metadata", "extension"),
)
def lake_rewrite_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "rewrite_manifests", partition_by=["year(o_orderdate)"])
    for r in range(6):
        t.append(_orders_mod(spark, sf_dir, 6, r))
    pred = (
        "o_orderdate >= TIMESTAMP '1997-01-01' "
        "AND o_orderdate < TIMESTAMP '1998-01-01'"
    )
    before_paths = {f.path for f in t.meta.snapshot().files}
    touched_before, total_before = t.plan_manifests(pred)
    assert total_before == 6 and touched_before == 6, (
        touched_before,
        total_before,
    )  # every commit-shaped manifest spans every year: nothing prunes
    t.rewrite_manifests(target_manifests=6)
    after_paths = {f.path for f in t.meta.snapshot().files}
    assert after_paths == before_paths  # metadata-only: zero data IO
    touched_after, total_after = t.plan_manifests(pred)
    assert total_after == 6 and touched_after < touched_before, (
        touched_after,
        touched_before,
    )  # partition-clustered manifests: the one-year scan skips most
    return t.read()


@register(
    "lake_mor_delete",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders WHERE o_orderstatus <> 'F'
    """,
    doc="D15 merge-on-read delete (README.md:1096-1121): equality-delete "
    "file + anti-join at read; data files untouched",
    tags=("lakehouse",),
)
def lake_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "mor_delete")
    t.append(load_table(spark, sf_dir, "orders"))
    t.set_property("write.delete.mode", "merge-on-read")
    t.set_property("write.delete.equality-columns", "o_orderkey")
    t.delete("o_orderstatus = 'F'")
    return t.read()


@register(
    "lake_mor_delete_positional",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders WHERE o_orderstatus <> 'F'
    """,
    doc="D15 merge-on-read delete, POSITION-delete flavor "
    "(README.md:1096-1121 teaches both kinds): the delete file stores "
    "(file_path, row_index) coordinates from Spark's _metadata column; "
    "read applies them as an anti-join on the coordinate — data files "
    "untouched, no equality key required",
    tags=("lakehouse",),
)
def lake_mor_delete_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "mor_delete_pos")
    t.append(load_table(spark, sf_dir, "orders"))
    t.set_property("write.delete.mode", "merge-on-read")
    t.set_property("write.delete.flavor", "position")
    t.delete("o_orderstatus = 'F'")
    return t.read()


@register(
    "lake_variant_roundtrip",
    oracle="""
        SELECT CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS bucket,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT)
                   AS total_k
        FROM events
        GROUP BY 1 ORDER BY 1
    """,
    doc="V3 VARIANT stored IN the lakehouse (README.md:1128-1145): CREATE "
    "TABLE with a VARIANT column, append PARSE_JSON snapshots, read back "
    "and aggregate typed variant_get extractions. pyarrow cannot parse "
    "VARIANT parquet footers, so manifest stats degrade gracefully for "
    "such files (fully readable, just no pruning on that column)",
    tags=("lakehouse", "variant"),
)
def lake_variant_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(
        spark, "variant_rt", ddl="event_id bigint, payload variant"
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.parse_json("props").alias("payload")
    )
    t.append(ev)
    k = F.variant_get(F.col("payload"), "$.k", "int")
    return (
        t.read()
        .select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("bucket"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum("k").cast("bigint").alias("total_k"),
        )
        .orderBy("bucket")
    )


@register(
    "lake_mor_delete_vector",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders WHERE o_orderstatus <> 'F'
    """,
    doc="D15 merge-on-read delete, DELETION-VECTOR flavor (Iceberg V3, "
    "README.md:1096-1110): one bitmap of deleted row positions per "
    "touched data file; read applies a branch-free bit test after a "
    "file-keyed join — the delete file is one row per FILE (~rows/8 "
    "bytes), not one row per deleted row",
    tags=("lakehouse",),
)
def lake_mor_delete_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "mor_delete_dv")
    t.append(load_table(spark, sf_dir, "orders"))
    t.set_property("write.delete.mode", "merge-on-read")
    t.set_property("write.delete.flavor", "vector")
    t.delete("o_orderstatus = 'F'")
    return t.read()


@register(
    "lake_partitioned_scan",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders
        WHERE o_orderdate >= TIMESTAMP '1999-01-01'
    """,
    doc="D8-adjacent: hidden partitioning month(o_orderdate) "
    "(README.md:990-992) + manifest-pruned scan — only files whose partition "
    "range can match are read (pytest asserts the pruning)",
    tags=("lakehouse", "partition"),
)
def lake_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "part_scan", partition_by=["month(o_orderdate)"])
    t.append(load_table(spark, sf_dir, "orders"))
    return t.scan("o_orderdate >= TIMESTAMP '1999-01-01'")


@register(
    "lake_metadata_tables",
    oracle="""
        SELECT 1 AS seq, 'append' AS operation,
               (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0) AS row_cnt
        UNION ALL
        SELECT 2, 'append',
               (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 IN (0, 1))
        UNION ALL
        SELECT 3, 'delete',
               (SELECT COUNT(*) FROM orders
                WHERE o_orderkey % 3 IN (0, 1) AND o_orderstatus <> 'F')
        ORDER BY seq
    """,
    doc="D9 metadata tables (t.history / t.snapshots, README.md:982-1004): "
    "snapshot log ordinals + operations, each joined with its time-travel "
    "(D10) row count — the lineage a VALUES-form oracle can pin exactly",
    tags=("lakehouse", "metadata"),
)
def lake_metadata_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "metadata_tables")
    t.append(_orders_mod(spark, sf_dir, 3, 0))
    t.append(_orders_mod(spark, sf_dir, 3, 1))
    t.delete("o_orderstatus = 'F'")
    snaps = [
        (i + 1, s.operation, t.read(snapshot_id=s.snapshot_id).count())
        for i, s in enumerate(t.meta.snapshots)
    ]
    return spark.createDataFrame(
        snaps, "seq int, operation string, row_cnt bigint"
    ).orderBy("seq")


@register(
    "lake_incremental_read",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders WHERE o_orderkey % 4 IN (1, 2)
    """,
    doc="Incremental append scan (Iceberg start-snapshot-id/end-snapshot-id "
    "semantics): three appends, changelog between snapshot 1 and snapshot 3 "
    "returns exactly the rows the two later appends added — the CDC feed "
    "for incremental downstream ETL; planning is metadata-only",
    tags=("lakehouse", "incremental"),
)
def lake_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "incremental")
    t.append(_orders_mod(spark, sf_dir, 4, 0))
    t.append(_orders_mod(spark, sf_dir, 4, 1))
    t.append(_orders_mod(spark, sf_dir, 4, 2))
    first = t.meta.snapshots[0].snapshot_id
    return t.incremental_read(from_snapshot_id=first)


def snapshot_changelog(
    t, from_snapshot_id: int, key_cols: list[str]
) -> DataFrame:
    """Row-level CDC changelog between a past snapshot and the current
    head — the Spark-side analog of Iceberg's ``create_changelog_view``
    procedure (the reference's incremental surface, README.md:1007-1013,
    covers append-only reads; this extends it to the full
    INSERT/DELETE/UPDATE_BEFORE/UPDATE_AFTER row protocol that CDC
    consumers expect).

    Shape: ONE full-outer sort-merge join of the two snapshot reads on
    the key, then a single projection that emits 0-2 change rows per
    joined pair via an array explode. The earlier union-of-four-filters
    form LOOKED like one join but decomposed under Catalyst into four
    independent joins (column pruning specialized each branch, so no
    exchange was reused): 2 full-outer SortMergeJoins + 2 inner
    BroadcastHashJoins re-scanning both snapshots 4x
    (plans/r16/lake_changelog_before.txt). This form keeps the diff at
    its first-principles floor — each snapshot is read once and shuffled
    once on the key (optimization guide §2.4). At 100 TB the join is the
    unavoidable cost of a point-in-time diff (Iceberg's native changelog
    reads manifest diffs instead — with the emulation's metadata the
    equivalent shortcut would be diffing file lists, but a row-accurate
    update split still needs the key join)."""
    old = t.read(snapshot_id=from_snapshot_id)
    new = t.read()
    compare = [c for c in new.columns if c not in key_cols]
    o = old.alias("o")
    n = new.alias("n")
    cond = None
    for k in key_cols:
        eq = F.col(f"o.{k}") == F.col(f"n.{k}")
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    okey = F.col(f"o.{key_cols[0]}")
    nkey = F.col(f"n.{key_cols[0]}")
    same = F.struct(*[F.col(f"o.{c}") for c in compare]).eqNullSafe(
        F.struct(*[F.col(f"n.{c}") for c in compare])
    )
    empty = F.array().cast("array<string>")
    # concat of three independently-gated arrays reproduces the original
    # union semantics exactly (including a NULL join key appearing on
    # both sides, which emitted both an INSERT and a DELETE)
    kinds = F.concat(
        F.when(okey.isNull(), F.array(F.lit("INSERT"))).otherwise(empty),
        F.when(nkey.isNull(), F.array(F.lit("DELETE"))).otherwise(empty),
        F.when(
            okey.isNotNull() & nkey.isNotNull() & ~same,
            F.array(F.lit("UPDATE_BEFORE"), F.lit("UPDATE_AFTER")),
        ).otherwise(empty),
    )
    rows = j.select(
        F.explode(kinds).alias("change_type"),
        F.struct(*[F.col(f"o.{c}").alias(c) for c in old.columns]).alias("__o"),
        F.struct(*[F.col(f"n.{c}").alias(c) for c in new.columns]).alias("__n"),
    )
    use_new = F.col("change_type").isin("INSERT", "UPDATE_AFTER")
    return rows.select(
        "change_type",
        *[
            F.when(use_new, F.col(f"__n.{c}"))
            .otherwise(F.col(f"__o.{c}"))
            .alias(c)
            for c in new.columns
        ],
    )


def _changelog_setup(spark: SparkSession, sf_dir: str):
    """Fixture phase (bench-split): 4 snapshot commits of table history.
    These writes are what a real table already has on disk — the operator
    under test is only the diff."""
    t = _fresh_table(spark, "changelog")
    t.append(_orders_mod(spark, sf_dir, 3, 0))
    first = t.meta.snapshots[0].snapshot_id
    t.delete("o_orderkey % 9 = 0")
    t.update("o_orderkey % 9 = 3", {"o_orderpriority": "'9-UPDATED'"})
    t.append(_orders_mod(spark, sf_dir, 3, 1))
    return t, first


def _changelog_op(state) -> DataFrame:
    """Measured phase: the snapshot diff itself (full-outer key join +
    struct compare + 4-way change-type split)."""
    t, first = state
    return (
        snapshot_changelog(t, first, ["o_orderkey"])
        .select("change_type", "o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy("o_orderkey", "change_type")
    )


@register(
    "lake_changelog",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        )
        SELECT 'DELETE' AS change_type, o_orderkey, o_orderpriority,
               o_totalprice
        FROM base WHERE o_orderkey % 9 = 0
        UNION ALL
        SELECT 'UPDATE_BEFORE', o_orderkey, o_orderpriority, o_totalprice
        FROM base WHERE o_orderkey % 9 = 3
        UNION ALL
        SELECT 'UPDATE_AFTER', o_orderkey, '9-UPDATED', o_totalprice
        FROM base WHERE o_orderkey % 9 = 3
        UNION ALL
        SELECT 'INSERT', o_orderkey, o_orderpriority, o_totalprice
        FROM base WHERE o_orderkey % 3 = 1
        ORDER BY o_orderkey, change_type
    """,
    doc="Row-level CDC changelog between snapshots (Iceberg "
    "create_changelog_view semantics): seed keys ≡0 (mod 3), then DELETE "
    "the ≡0 (mod 9) slice, UPDATE the ≡3 (mod 9) slice's priority, and "
    "append the ≡1 (mod 3) slice; the changelog from snapshot 1 to head "
    "must emit exactly the DELETE / UPDATE_BEFORE / UPDATE_AFTER / "
    "INSERT rows — computed generically from the two snapshot reads "
    "(full-outer key join + struct compare), not from the predicates",
    tags=("lakehouse", "incremental", "extension"),
)
def lake_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _changelog_op(_changelog_setup(spark, sf_dir))


@register(
    "lake_changelog_apply",
    oracle="""
        WITH final AS (
            SELECT CASE WHEN o_orderkey % 9 = 3 THEN '9-UPDATED'
                        ELSE o_orderpriority END AS o_orderpriority,
                   o_totalprice
            FROM orders
            WHERE (o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0)
               OR o_orderkey % 3 = 1
        )
        SELECT o_orderpriority,
               COUNT(*) AS cnt,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(15,4))), 2)
                    AS DOUBLE) AS total_price
        FROM final
        GROUP BY 1
        ORDER BY 1
    """,
    doc="CDC changelog APPLY (r9 verdict Next #8a) — the consumer half of "
    "lake_changelog: a downstream per-priority aggregate built at snapshot "
    "1 is advanced to head by folding ONLY the diff stream in (INSERT/"
    "UPDATE_AFTER add, DELETE/UPDATE_BEFORE retract — classic delta "
    "maintenance), never rescanning the base table. Partials stay exact "
    "DECIMAL so incremental == full recompute bit-for-bit; the oracle IS "
    "the full recompute of the final state. Updates that move a row "
    "between groups (priority itself changes) retract from the old group "
    "and add to the new one; groups whose count reaches zero drop out. At "
    "100 TB this is the refresh pattern for every derived table: cost "
    "O(|changes|) after the point-in-time diff, not O(|table|)",
    tags=("lakehouse", "incremental", "agg", "extension"),
)
def lake_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, first = _changelog_setup(spark, sf_dir)

    def partial(df: DataFrame, sign=None) -> DataFrame:
        term = F.col("o_totalprice").cast("decimal(15,4)")
        one = F.lit(1)
        if sign is not None:
            term, one = sign * term, sign
        return df.groupBy("o_orderpriority").agg(
            F.sum(one).alias("cnt"), F.sum(term).alias("psum")
        )

    base = partial(t.read(snapshot_id=first))
    log = snapshot_changelog(t, first, ["o_orderkey"])
    sign = F.when(
        F.col("change_type").isin("INSERT", "UPDATE_AFTER"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = partial(log, sign=sign)
    return (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("cnt").alias("cnt"), F.sum("psum").alias("psum"))
        .where(F.col("cnt") > 0)
        .select(
            "o_orderpriority",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round("psum", 2).cast("double").alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "lake_incremental_rollup",
    oracle="""
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               event_type,
               COUNT(*) AS cnt,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(15,4))), 2) AS DOUBLE)
                 AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    doc="Incrementally-maintained rollup (continuous-aggregate pattern): "
    "an events lakehouse table receives two appends; the day x type "
    "rollup is built from snapshot 1, then advanced to snapshot 2 by "
    "aggregating ONLY the changelog rows (incremental_read) and merging "
    "partials. Partial sums stay in exact DECIMAL until the final round, "
    "so incremental == full recompute bit-for-bit — the oracle IS the "
    "full recompute. At 100 TB this is the difference between scanning "
    "a day of new data and scanning all of history on every refresh",
    tags=("lakehouse", "incremental", "agg"),
)
def lake_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wh = _scratch.defer_cleanup(
        _scratch.scratch_dir("tis_lake", "inc_rollup", unique=True)
    )
    t = LakeTable.create(
        spark,
        os.path.join(wh, "t"),
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
        name="inc_rollup",
    )

    def partial(df: DataFrame) -> DataFrame:
        # unrounded DECIMAL partials: merging then rounding == full agg
        return df.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type")
        ).agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(15,4)")).alias("psum"),
        )

    t.append(ev.filter(F.col("event_id") % 3 != 2))
    v1 = t.meta.current_snapshot_id
    rollup = partial(t.read())

    t.append(ev.filter(F.col("event_id") % 3 == 2))
    delta = partial(t.incremental_read(from_snapshot_id=v1))

    merged = (
        rollup.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(F.sum("cnt").alias("cnt"), F.sum("psum").alias("psum"))
    )
    return merged.select(
        F.col("day").cast("timestamp_ntz").alias("day"),
        "event_type",
        "cnt",
        F.round(F.col("psum"), 2).cast("double").alias("sum_value"),
    ).orderBy("day", "event_type")


@register(
    "lake_branch_wap",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders WHERE o_orderkey % 3 IN (0, 1)
    """,
    doc="Branch write-audit-publish (extension past the reference's "
    "snapshot surface, README.md:1007-1013; models Iceberg branch refs + "
    "fast_forward): seed main, stage a second batch on an 'audit' branch "
    "(main untouched), audit the staged state, fast-forward-publish, drop "
    "the branch. Final published state is deterministic, so the whole "
    "cycle is value-hash-checked; isolation/divergence invariants live in "
    "tests/test_lakehouse.py",
    tags=("lakehouse", "branch", "extension"),
)
def lake_branch_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "branch_wap")
    t.append(_orders_mod(spark, sf_dir, 3, 0))
    t.create_branch("audit")
    t.append_to_branch("audit", _orders_mod(spark, sf_dir, 3, 1))
    # audit gate: staged rows visible on the branch, invisible on main
    staged = t.read_branch("audit").count()
    assert staged > t.read().count()
    t.fast_forward("audit")
    t.drop_branch("audit")
    return t.read()


@register(
    "lake_branch_merge",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders WHERE o_orderkey % 4 IN (0, 1, 2, 3)
    """,
    doc="Branch MERGE of a DIVERGED branch — the semantic fast_forward "
    "refuses and the WAP cycle never exercises (r12 verdict Next #8): "
    "seed main, stage two ingest batches on a branch, advance MAIN "
    "underneath it (divergence), then merge_branch replays the branch's "
    "append-only delta onto current main as one 'merge' snapshot "
    "(table.py merge_branch; conflict detection refuses non-append "
    "deltas — pytest-gated). Final state is the union of both lines, "
    "deterministic, value-hash-checked",
    tags=("lakehouse", "branch", "extension"),
)
def lake_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "branch_merge")
    t.append(_orders_mod(spark, sf_dir, 4, 0))
    t.create_branch("ingest")
    t.append_to_branch("ingest", _orders_mod(spark, sf_dir, 4, 1))
    t.append_to_branch("ingest", _orders_mod(spark, sf_dir, 4, 2))
    # main moves on underneath the branch: fast-forward is now refused
    t.append(_orders_mod(spark, sf_dir, 4, 3))
    t.merge_branch("ingest")
    t.drop_branch("ingest")
    return t.read()


def _sorted_compaction_setup(spark: SparkSession, sf_dir: str):
    """Fixture phase (bench-split): three unsorted appends -> every file
    spans the whole key range (the state a fragmented table is in before
    maintenance runs)."""
    t = _fresh_table(spark, "sorted_compact")
    t.append(_orders_mod(spark, sf_dir, 3, 0))
    t.append(_orders_mod(spark, sf_dir, 3, 1))
    t.append(_orders_mod(spark, sf_dir, 3, 2))
    return t


def _sorted_compaction_op(t) -> DataFrame:
    """Measured phase: the sorted rewrite + pruning gate + full read."""
    t.compact(target_files=4, sort_by=["o_orderkey"])
    md = t.meta
    snap = md.snapshot()
    cands = t._candidates(md, snap, "o_orderkey < 1000")
    # clustering makes stats selective: the range scan must NOT touch
    # every file
    assert len(snap.files) >= 2 and len(cands) < len(snap.files), (
        len(cands),
        len(snap.files),
    )
    return t.read()


@register(
    "lake_sorted_compaction",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders
    """,
    doc="D12 rewrite_data_files(strategy=>'sort'): sorted compaction "
    "clusters rows by o_orderkey (repartitionByRange + "
    "sortWithinPartitions) so each rewritten file covers a narrow key "
    "slice and the manifest min/max stats become selective — the builder "
    "asserts a key-range scan prunes to a strict subset of files. Row-"
    "identical end state, value-hash-checked",
    tags=("lakehouse", "compaction", "extension"),
)
def lake_sorted_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sorted_compaction_op(_sorted_compaction_setup(spark, sf_dir))


@register(
    "lake_merge_conditional",
    oracle=f"""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 3 = 0
                         AND o_orderpriority = '1-URGENT'
                    THEN o_totalprice * 3
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
        WHERE o_orderkey % 2 = 0
          AND NOT (o_orderkey % 3 = 0 AND o_orderpriority = '5-LOW')
    """,
    doc="Extended MERGE arms past the reference's basic upsert "
    "(README.md:963-967): WHEN MATCHED AND <cond> THEN UPDATE (urgent "
    "source rows triple the price; matched-but-not-urgent keep the target "
    "row), WHEN MATCHED AND <cond2> via a second merge THEN DELETE "
    "(low-priority matches dropped), WHEN NOT MATCHED BY SOURCE kept. "
    "Target = even keys; source = keys divisible by 6",
    tags=("lakehouse", "merge", "extension"),
)
def lake_merge_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "merge_cond")
    t.append(_orders_mod(spark, sf_dir, 2, 0))  # even keys
    src = _orders_mod(spark, sf_dir, 6, 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 3
    )
    # arm 1: matched AND urgent -> update (others keep target row)
    t.merge(
        src,
        on="o_orderkey",
        when_matched="update_all",
        when_not_matched="none",
        matched_condition="o_orderpriority = '1-URGENT'",
    )
    # arm 2: matched AND low-priority -> delete
    t.merge(
        src,
        on="o_orderkey",
        when_matched="delete",
        when_not_matched="none",
        matched_condition="o_orderpriority = '5-LOW'",
    )
    return t.read()


@register(
    "lake_tag_pinned_read",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders WHERE o_orderkey % 3 IN (0, 1)
    """,
    doc="Iceberg tag refs (extension past the reference's snapshot "
    "surface, README.md:1007-1013 teaches time travel by id; a tag is "
    "the named immutable form): seed two snapshots, tag the head 'v1', "
    "then DELETE a slice AND expire_snapshots(keep_last=1) — the tagged "
    "snapshot is pinned through both (a ref must never dangle), so "
    "read_tag('v1') reproduces the pre-delete state byte-for-byte while "
    "main shows the mutation. The reproducible-training-set use case: "
    "pin the corpus a model trained on, garbage-collect everything else",
    tags=("lakehouse", "branch", "extension"),
)
def lake_tag_pinned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "tag_pin")
    t.append(_orders_mod(spark, sf_dir, 3, 0))
    t.append(_orders_mod(spark, sf_dir, 3, 1))
    t.create_tag("v1")
    t.delete("o_orderkey % 3 = 1")  # main moves on
    t.expire_snapshots(keep_last=1)  # tag pins its snapshot through GC
    # pin-through-GC invariant (main < tagged after delete+expire) is
    # enforced in tests/test_lakehouse.py::test_tag_pinned_through_gc —
    # an inline assert here would run two extra count jobs per invocation
    # and vanish under `python -O`
    return t.read_tag("v1")


@register(
    "lake_merge_evolved",
    oracle=f"""
        SELECT {ORDERS_COLS},
               CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 2 = 0 THEN 10
                    WHEN o_orderkey % 3 = 1 THEN 5
                    ELSE 0 END AS discount_pct
        FROM orders WHERE o_orderkey % 3 IN (0, 1)
    """,
    doc="MERGE after schema evolution (D4 composed with D5/D7): seed, ADD "
    "COLUMN discount_pct DEFAULT 0 (metadata-only — no file rewrite), "
    "then MERGE a source that CARRIES the new column: matched rows "
    "update to discount 10, unmatched insert at 5, untouched old files "
    "keep resolving the default at read. Exercises that the merge "
    "source-alignment, the key-bounds file pruning, and read-time "
    "defaults compose — the realistic evolve-then-upsert sequence",
    tags=("lakehouse", "merge", "extension"),
)
def lake_merge_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fresh_table(spark, "merge_evolved")
    t.append(_orders_mod(spark, sf_dir, 3, 0))
    t.add_column("discount_pct", "int", default=0)
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(
            ((F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 2 == 0))
            | (F.col("o_orderkey") % 3 == 1)
        )
        .withColumn(
            "discount_pct",
            F.when(F.col("o_orderkey") % 3 == 1, 5).otherwise(10),
        )
    )
    t.merge(src, on="o_orderkey")
    return t.read()


@register(
    "lake_txn_multi_table",
    oracle="""
        WITH txn_batch AS (
            SELECT * FROM orders WHERE o_orderkey % 3 = 1
        ), fact AS (
            SELECT COUNT(*) AS fact_rows FROM orders
            WHERE o_orderkey % 3 IN (0, 1)
        )
        SELECT b.o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(ROUND(SUM(CAST(b.o_totalprice AS DECIMAL(15,4))), 2)
                    AS DOUBLE) AS sum_price,
               MAX(f.fact_rows) AS fact_rows
        FROM txn_batch b CROSS JOIN fact f
        GROUP BY b.o_orderpriority
        ORDER BY b.o_orderpriority
    """,
    doc="Multi-table ATOMIC transaction (r11 verdict Next #8 — the one "
    "ACID property single-table commits never exercise): an orders fact "
    "table and its per-priority rollup audit table receive one ingest "
    "batch in a catalog transaction (2PC with a single atomic decision "
    "record, lakehouse/transaction.py): both visible after commit, "
    "neither before (asserted inside the txn window). Result joins both "
    "tables, so a half-applied txn could not hash-match. Conflict/abort/"
    "crash-recovery invariants live in tests/test_transaction.py",
    tags=("lakehouse", "transaction", "extension"),
)
def lake_txn_multi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tutorial_iceberg_spark.functions.numeric import dsum
    from tutorial_iceberg_spark.lakehouse.catalog import LakeCatalog

    wh = _scratch.defer_cleanup(
        _scratch.scratch_dir("tis_lake", "txn_multi", unique=True)
    )
    cat = LakeCatalog(spark, wh)
    fact = cat.create_table("db.fact", ORDERS_DDL)
    rollup = cat.create_table(
        "db.rollup",
        "o_orderpriority string, n_orders bigint, sum_price double",
    )
    fact.append(_orders_mod(spark, sf_dir, 3, 0))  # pre-existing state
    batch = _orders_mod(spark, sf_dir, 3, 1)
    summary = batch.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice", "sum_price")
    )
    pre = fact.read().count()
    with cat.transaction() as txn:
        txn.append("db.fact", batch)
        txn.append("db.rollup", summary)
        # atomicity window: nothing visible until the decision commits
        assert fact.read().count() == pre and rollup.read().count() == 0
    n_fact = fact.read().count()
    return (
        rollup.read()
        .crossJoin(
            F.broadcast(
                spark.createDataFrame([(n_fact,)], "fact_rows bigint")
            )
        )
        .select("o_orderpriority", "n_orders", "sum_price", "fact_rows")
        .orderBy("o_orderpriority")
    )


@register(
    "lake_hour_partition_evolution",
    oracle="""
        SELECT event_id, ts, event_type, value
        FROM events
        WHERE event_id % 2 = 0
          AND ts >= TIMESTAMP '2024-01-10 03:00:00'
          AND ts <  TIMESTAMP '2024-01-10 15:00:00'
    """,
    doc="D8 x D10 composed (r14 verdict Next #7): hour(ts) — the last "
    "Iceberg temporal transform (README.md:990-992 shows month) — lands "
    "via ALTER TABLE ADD PARTITION FIELD on a table that already holds "
    "an UNPARTITIONED snapshot; a second append writes under the hour "
    "layout, so the table holds two spec generations at once. The "
    "builder gates that the hour-range scan prunes to a strict file "
    "subset — spec-1 files via hour partition values, spec-0 files via "
    "ts min/max stats — then returns the pruned scan, value-hash-checked "
    "against DuckDB; the time-travel-across-the-spec-change equality "
    "lives in tests/test_lakehouse.py (r14 verdict Next #5)",
    tags=("lakehouse", "partition-evolution", "extension"),
)
def lake_hour_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter("event_id % 2 = 0")
        .select("event_id", "ts", "event_type", "value")
    )
    t = _fresh_table(
        spark,
        "hour_evo",
        "event_id bigint, ts timestamp_ntz, event_type string, value double",
    )
    # spec 0 (unpartitioned): everything before Jan 10
    t.append(ev.filter("ts < TIMESTAMP '2024-01-10 00:00:00'"))
    t.add_partition_field("hour(ts)")  # D8: spec evolution, metadata-only
    # spec 1 (hour layout): a 3-day slice — ~72 hour partitions
    t.append(
        ev.filter(
            "ts >= TIMESTAMP '2024-01-10 00:00:00' "
            "AND ts < TIMESTAMP '2024-01-13 00:00:00'"
        )
    )
    md = t.meta
    # The hour-range scan must prune BOTH generations to a strict subset
    # (spec-1 files via hour partition values, spec-0 files via ts
    # min/max stats). Metadata-only plan gate — cheap, and an explicit
    # raise so `python -O` cannot strip it; the time-travel-across-the-
    # spec-change count equality lives in pytest
    # (tests/test_lakehouse.py::test_hour_evolution_time_travel_and_pruning,
    # r14 verdict Next #5 — it cost two extra Spark jobs per run here).
    pred = (
        "ts >= TIMESTAMP '2024-01-10 03:00:00' "
        "AND ts < TIMESTAMP '2024-01-10 15:00:00'"
    )
    snap = md.snapshot()
    cands = t._candidates(md, snap, pred)
    total = snap.file_count
    if not 0 < len(cands) < total:
        raise AssertionError(
            f"hour-range pruning degenerated: {len(cands)} candidates of "
            f"{total} files"
        )
    return t.scan(pred)


@register(
    "lake_rest_catalog_append",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders WHERE o_orderkey % 4 IN (0, 1)
    """,
    doc="S11 as the engine's FRONT DOOR (the reference's EP3 topology, "
    "README.md:1036-1088): the table is created over HTTP "
    "(POST /v1/namespaces/../tables) and BOTH appends commit through the "
    "catalog service — the engine stages data files plus one unstamped "
    "manifest sidecar in shared storage, then POSTs an 'append-files' "
    "update guarded by assert-ref-snapshot-id; the service constructs "
    "the snapshot and owns the CAS (409 -> client rebase-retry). The "
    "final state is read back through the ordinary engine path and "
    "value-hash-checked — proving HTTP-committed snapshots are "
    "byte-equivalent to native commits",
    tags=("lakehouse", "rest", "extension"),
)
def lake_rest_catalog_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tutorial_iceberg_spark.lakehouse.catalog import LakeCatalog
    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
        rest_append,
    )

    wh = _scratch.defer_cleanup(
        _scratch.scratch_dir("tis_lake", "rest_front", unique=True)
    )
    cat = LakeCatalog(spark, wh)
    with RestCatalogServer(cat) as srv:
        client = RestCatalogClient(srv.base_url)
        client.create_namespace("db")
        client.create_table(
            "db",
            "orders_http",
            [
                {"name": n.strip().split(" ")[0], "type": n.strip().split(" ", 1)[1]}
                for n in ORDERS_DDL.split(",")
            ],
        )
        t = cat.load_table("db.orders_http")
        rest_append(client, t, "db", "orders_http", _orders_mod(spark, sf_dir, 4, 0))
        rest_append(client, t, "db", "orders_http", _orders_mod(spark, sf_dir, 4, 1))
    return t.read()


@register(
    "lake_merge_rest",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
        WHERE o_orderkey % 2 = 0
           OR (o_orderkey % 2 = 1 AND o_orderkey % 5 = 0)
    """,
    doc="D4 MERGE INTO committed THROUGH the catalog service (r14 verdict "
    "Next #3; reference EP3 topology README.md:1036-1088): the engine runs "
    "the same key-bounds-pruned CoW merge computation as lake_merge_upsert, "
    "stages the rewritten rows + one unstamped manifest, and the service "
    "constructs the overwrite snapshot (carried minus replaced plus staged) "
    "behind assert-ref-snapshot-id CAS with 409 -> rebase. Same oracle as "
    "lake_merge_upsert — HTTP-committed row-level snapshots are "
    "value-equivalent to native ones.",
    tags=("lakehouse", "rest", "extension"),
)
def lake_merge_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tutorial_iceberg_spark.lakehouse.catalog import LakeCatalog
    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
        rest_append,
        rest_merge,
    )

    wh = _scratch.defer_cleanup(
        _scratch.scratch_dir("tis_lake", "rest_merge", unique=True)
    )
    cat = LakeCatalog(spark, wh)
    with RestCatalogServer(cat) as srv:
        client = RestCatalogClient(srv.base_url)
        client.create_namespace("db")
        client.create_table(
            "db",
            "orders_m",
            [
                {"name": n.strip().split(" ")[0], "type": n.strip().split(" ", 1)[1]}
                for n in ORDERS_DDL.split(",")
            ],
        )
        t = cat.load_table("db.orders_m")
        rest_append(client, t, "db", "orders_m", _orders_mod(spark, sf_dir, 2, 0))
        orders = load_table(spark, sf_dir, "orders")
        updates = orders.filter(F.col("o_orderkey") % 4 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        inserts = orders.filter(
            ((F.col("o_orderkey") % 2) == 1) & ((F.col("o_orderkey") % 5) == 0)
        )
        rest_merge(
            client, t, "db", "orders_m",
            updates.unionByName(inserts), on="o_orderkey",
        )
    return t.read()


def _ds_scan_setup(spark: SparkSession, sf_dir: str):
    """Fixture phase (bench-split): register the source, create the
    year-partitioned table, seed one snapshot. The parquet seed write
    dominates wall at bench SF and says nothing about the DataSource
    read path — time it separately."""
    from tutorial_iceberg_spark.lakehouse.datasource import LakeDataSource
    from tutorial_iceberg_spark.session import apply_engine_conf

    apply_engine_conf(spark)  # python filter pushdown is runtime-settable
    spark.dataSource.register(LakeDataSource)
    t = _fresh_table(spark, "ds_scan", partition_by=["year(o_orderdate)"])
    t.append(load_table(spark, sf_dir, "orders"))
    return t


def _ds_scan_op(state) -> DataFrame:
    """Measured phase: the registered-source read — schema resolution +
    pushFilters -> manifest/partition/stats pruning in the planning
    worker, Arrow-batched Python-worker reads of the surviving files.
    This is exactly where a Python-DataSource regression would hide
    (r15 verdict Next #5), so it's benched round-over-round."""
    t = state
    spark = t.spark
    df = spark.read.format("tis_lake").load(t.location)
    return df.filter(
        "o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'"
    ).select([c.strip() for c in ORDERS_COLS.split(",")])


@register(
    "lake_datasource_scan",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders
        WHERE o_orderdate >= DATE '1995-01-01'
          AND o_orderdate <  DATE '1996-01-01'
    """,
    doc="S10 read path as a REGISTERED SPARK SOURCE (r14 verdict Next "
    "#7; Spark 4 Python Data Source API): spark.read.format('tis_lake')"
    ".load(location) over a year(o_orderdate)-partitioned table, with "
    "the date-range predicate pushed via pushFilters into the engine's "
    "manifest/partition/stats pruning — one InputPartition per "
    "SURVIVING file, Arrow-batched reads, field-id column resolution. "
    "Pruned-file plan gates live in tests/test_lakehouse.py (reader "
    "partitions() directly + pruned files deleted from disk).",
    tags=("lakehouse", "datasource", "extension"),
)
def lake_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ds_scan_op(_ds_scan_setup(spark, sf_dir))


@register(
    "lake_datasource_write_read",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders WHERE o_orderkey % 3 IN (0, 1)
    """,
    doc="The tis_lake DataSource WRITE path (r15): "
    "df.write.format('tis_lake').mode('append') — executor tasks stream "
    "Arrow batches into staged parquet files and ship footer stats in "
    "commit messages; the commit is pure metadata through the same "
    "rec-driven optimistic CAS as LakeTable.append. One batch lands via "
    "the DataSource, a second via the native path, and the union reads "
    "back through the DataSource — both writers' snapshots are "
    "value-equivalent and mutually carried.",
    tags=("lakehouse", "datasource", "extension"),
)
def lake_datasource_write_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tutorial_iceberg_spark.lakehouse.datasource import LakeDataSource
    from tutorial_iceberg_spark.session import apply_engine_conf

    apply_engine_conf(spark)
    spark.dataSource.register(LakeDataSource)
    t = _fresh_table(spark, "ds_write")
    _orders_mod(spark, sf_dir, 3, 0).write.format("tis_lake").mode(
        "append"
    ).save(t.location)
    t.append(_orders_mod(spark, sf_dir, 3, 1))  # native writer interleaves
    return spark.read.format("tis_lake").load(t.location)


@register(
    "lake_datasource_write_rest",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders WHERE o_orderkey % 3 IN (0, 1)
    """,
    doc="The DataSource write path routed through the REST front door "
    "(r15 verdict Next #6): df.write.format('tis_lake')"
    ".option('catalog_uri', ...) — executor tasks stage parquet + footer "
    "stats exactly as the local path, but the commit ships as ONE "
    "commit-table POST (append-files + assert-ref-snapshot-id) and the "
    "catalog SERVICE constructs the snapshot and owns the CAS, unifying "
    "all three write paths behind one commit authority. A second batch "
    "lands via the local-CAS DataSource path and both snapshots carry "
    "mutually; 409-rebase race pytest in tests/test_lakehouse.py.",
    tags=("lakehouse", "datasource", "rest", "extension"),
)
def lake_datasource_write_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tutorial_iceberg_spark.lakehouse.catalog import LakeCatalog
    from tutorial_iceberg_spark.lakehouse.datasource import LakeDataSource
    from tutorial_iceberg_spark.lakehouse.rest_catalog import RestCatalogServer
    from tutorial_iceberg_spark.session import apply_engine_conf

    apply_engine_conf(spark)
    spark.dataSource.register(LakeDataSource)
    wh = _scratch.defer_cleanup(
        _scratch.scratch_dir("tis_lake", "ds_write_rest", unique=True)
    )
    cat = LakeCatalog(spark, wh)
    t = cat.create_table("db.orders_dsr", ORDERS_DDL)
    with RestCatalogServer(cat) as srv:
        _orders_mod(spark, sf_dir, 3, 0).write.format("tis_lake").option(
            "catalog_uri", srv.base_url
        ).option("namespace", "db").option("table", "orders_dsr").mode(
            "append"
        ).save(t.location)
    # local-CAS DataSource write interleaves: both commit authorities
    # produce mutually-carried snapshots
    _orders_mod(spark, sf_dir, 3, 1).write.format("tis_lake").mode(
        "append"
    ).save(t.location)
    return spark.read.format("tis_lake").load(t.location)


@register(
    "lake_datasource_mor_position",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders
        WHERE o_orderkey % 3 IN (0, 1)
          AND o_orderpriority <> '1-URGENT'
    """,
    doc="MoR POSITION deletes through the registered source (r15 verdict "
    "Next #3): write.delete.mode=merge-on-read + flavor=position, then "
    "spark.read.format('tis_lake') — the position-delete coordinates "
    "resolve at PLANNING time and apply worker-side as a vectorized "
    "Arrow row mask (no join), value-identical to LakeTable.read's "
    "anti-join. Equality deletes stay refused (pytest-gated).",
    tags=("lakehouse", "datasource", "extension"),
)
def lake_datasource_mor_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tutorial_iceberg_spark.lakehouse.datasource import LakeDataSource
    from tutorial_iceberg_spark.session import apply_engine_conf

    apply_engine_conf(spark)
    spark.dataSource.register(LakeDataSource)
    t = _fresh_table(spark, "ds_mor_pos")
    t.append(_orders_mod(spark, sf_dir, 3, 0, 1))
    t.set_property("write.delete.mode", "merge-on-read")
    t.set_property("write.delete.flavor", "position")
    t.delete("o_orderpriority = '1-URGENT'")
    return spark.read.format("tis_lake").load(t.location)


@register(
    "lake_datasource_mor_vector",
    oracle=f"""
        SELECT {ORDERS_COLS} FROM orders
        WHERE o_orderkey % 3 IN (0, 1)
          AND o_orderstatus <> 'F'
    """,
    doc="V3 DELETION VECTORS through the registered source (r15 verdict "
    "Next #3): flavor=vector writes one trimmed position bitmap per "
    "touched file; the DataSource attaches each file's (offset, words) "
    "to its InputPartition at planning and expands the bitmap with one "
    "vectorized little-endian unpack in read() — the same bit semantics "
    "as LakeTable.read's codegen bit test.",
    tags=("lakehouse", "datasource", "extension"),
)
def lake_datasource_mor_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tutorial_iceberg_spark.lakehouse.datasource import LakeDataSource
    from tutorial_iceberg_spark.session import apply_engine_conf

    apply_engine_conf(spark)
    spark.dataSource.register(LakeDataSource)
    t = _fresh_table(spark, "ds_mor_dv")
    t.append(_orders_mod(spark, sf_dir, 3, 0, 1))
    t.set_property("write.delete.mode", "merge-on-read")
    t.set_property("write.delete.flavor", "vector")
    t.delete("o_orderstatus = 'F'")
    return spark.read.format("tis_lake").load(t.location)


# Bench setup/op split (VERDICT r7 #3): the lake_* headline entries spend
# most of their wall time creating a fresh temp-dir table and seeding
# snapshots — fixture work a real deployment has already paid. bench.py
# times the two phases separately through this mapping so a regression in
# the MEASURED operator (MERGE pruning, compaction rewrite, changelog
# diff) is visible above tmpdir write noise. The registered builders stay
# setup∘op, so oracle checks and every other caller see one callable.
BENCH_SPLIT = {
    "lake_merge_upsert": (_merge_upsert_setup, _merge_upsert_op),
    "lake_changelog": (_changelog_setup, _changelog_op),
    "lake_sorted_compaction": (
        _sorted_compaction_setup,
        _sorted_compaction_op,
    ),
    "lake_datasource_scan": (_ds_scan_setup, _ds_scan_op),
}
