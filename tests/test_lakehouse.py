"""Lakehouse invariant tests: D1-D16 semantics (SURVEY.md §5.4).

Mirrors the reference's Week-4/5 exercise sequence (README.md:944-1028,
1096-1166) against the Spark-native emulation: snapshot counts increment,
time travel reproduces pre-update state, rollback moves the pointer,
compaction preserves content, renames are metadata-only, defaults apply to
old files only at read.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tutorial_iceberg_spark.lakehouse.catalog import LakeCatalog
from tutorial_iceberg_spark.lakehouse.table import LakeTable

ORDERS_DDL = (
    "order_id bigint, customer_id bigint, product_name string, "
    "amount decimal(10,2), order_date date"
)

ROWS = [
    (1, 101, "laptop", "1200.00", "2024-01-15"),
    (2, 102, "mouse", "25.50", "2024-02-20"),
    (3, 103, "keyboard", "75.00", "2024-02-25"),
    (4, 101, "monitor", "350.00", "2024-03-10"),
]


@pytest.fixture()
def cat(spark):
    with tempfile.TemporaryDirectory() as wh:
        yield LakeCatalog(spark, wh)


def seed_df(spark, rows=ROWS):
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4]) for r in rows],
        "order_id bigint, customer_id bigint, product_name string, amount string, order_date string",
    )
    return df.select(
        "order_id",
        "customer_id",
        "product_name",
        F.col("amount").cast("decimal(10,2)").alias("amount"),
        F.col("order_date").cast("date").alias("order_date"),
    )


def test_create_insert_read(cat, spark):
    t = cat.create_table("db.orders", ORDERS_DDL)
    t.append(seed_df(spark))
    got = {r["order_id"]: r for r in t.read().collect()}
    assert len(got) == 4
    assert str(got[1]["amount"]) == "1200.00"
    assert t.meta.current_snapshot_id == 1


def test_update_and_time_travel(cat, spark):
    t = cat.create_table("db.orders", ORDERS_DDL)
    t.append(seed_df(spark))
    v1 = t.meta.current_snapshot_id
    t.update("order_id = 1", {"amount": "CAST(1100.00 AS DECIMAL(10,2))"})
    cur = {r["order_id"]: str(r["amount"]) for r in t.read().collect()}
    assert cur[1] == "1100.00" and cur[2] == "25.50"
    old = {r["order_id"]: str(r["amount"]) for r in t.read(snapshot_id=v1).collect()}
    assert old[1] == "1200.00"  # D10: time travel sees pre-update state


def test_delete_cow_prunes_untouched_files(cat, spark):
    t = cat.create_table("db.orders", ORDERS_DDL)
    t.append(seed_df(spark, ROWS[:2]))
    t.append(seed_df(spark, ROWS[2:]))  # second file group
    t.delete("order_id = 2")
    assert sorted(r["order_id"] for r in t.read().collect()) == [1, 3, 4]
    snap = t.meta.snapshot()
    assert snap.summary["mode"] == "copy-on-write"
    # file-granular CoW: the second append's files may carry over untouched
    assert snap.summary["untouched-files"] >= 1


def test_merge_upsert(cat, spark):
    t = cat.create_table("db.orders", ORDERS_DDL)
    t.append(seed_df(spark))
    src = seed_df(
        spark,
        [
            (2, 102, "mouse-pro", "35.00", "2024-02-21"),  # matched -> update
            (9, 109, "webcam", "89.99", "2024-04-01"),  # not matched -> insert
        ],
    )
    t.merge(src, on="order_id")
    got = {r["order_id"]: r for r in t.read().collect()}
    assert len(got) == 5
    assert got[2]["product_name"] == "mouse-pro"
    assert got[9]["product_name"] == "webcam"
    assert got[1]["product_name"] == "laptop"


def test_merge_duplicate_source_keys_rejected(cat, spark):
    t = cat.create_table("db.orders", ORDERS_DDL)
    t.append(seed_df(spark))
    dup = seed_df(spark, [ROWS[0], ROWS[0]])
    with pytest.raises(ValueError, match="duplicate"):
        t.merge(dup, on="order_id")


def test_schema_evolution_add_rename_default(cat, spark):
    t = cat.create_table("db.orders", ORDERS_DDL)
    t.append(seed_df(spark))
    # D5+D7: add columns with defaults; no rewrite
    files_before = [f.path for f in t.meta.snapshot().files]
    t.add_column("discount_rate", "double")
    t.add_column("version", "int", default=1)
    t.add_column("region", "string", default="unknown")
    assert [f.path for f in t.meta.snapshot().files] == files_before
    row = t.read().filter(F.col("order_id") == 1).collect()[0]
    assert row["discount_rate"] is None
    assert row["version"] == 1 and row["region"] == "unknown"
    # D6: rename is metadata-only; old files resolve via field ids
    t.rename_column("product_name", "item_name")
    assert [f.path for f in t.meta.snapshot().files] == files_before
    names = {r["item_name"] for r in t.read().collect()}
    assert "laptop" in names
    # new writes under the new schema mix with old files
    t.append(
        t.read().limit(0).unionByName(
            seed_df(spark, [(5, 105, "dock", "150.00", "2024-05-01")]).withColumnsRenamed(
                {"product_name": "item_name"}
            ).withColumns(
                {"discount_rate": F.lit(0.1), "version": F.lit(2), "region": F.lit("emea")}
            )
        )
    )
    got = {r["order_id"]: r for r in t.read().collect()}
    assert got[5]["item_name"] == "dock" and got[5]["version"] == 2
    assert got[1]["version"] == 1  # old rows still defaulted


def test_partition_evolution_and_pruning(cat, spark):
    t = cat.create_table("db.orders", ORDERS_DDL)
    t.append(seed_df(spark, ROWS[:2]))  # unpartitioned spec 0
    t.add_partition_field("month(order_date)")
    t.append(seed_df(spark, ROWS[2:]))  # partitioned spec 1
    assert t.read().count() == 4
    snap = t.meta.snapshot()
    specs = {f.spec_id for f in snap.files}
    assert specs == {0, 1}  # D8: old files unmoved under old spec
    # pruning: scan on order_date month hits only matching partition files
    md = t.meta
    cands = t._candidates(md, snap, "order_date = DATE '2024-03-10'")
    part_files = [f for f in snap.files if f.spec_id == 1]
    pruned_out = [f for f in part_files if f not in cands]
    assert pruned_out, "at least one partitioned file should be pruned"
    assert t.scan("order_date = DATE '2024-03-10'").count() == 1


def test_metadata_tables(cat, spark):
    t = cat.create_table("db.orders", ORDERS_DDL)
    t.append(seed_df(spark, ROWS[:2]))
    t.append(seed_df(spark, ROWS[2:]))
    hist = t.history().collect()
    assert len(hist) == 2 and hist[-1]["is_current_ancestor"]
    snaps = t.snapshots_df().collect()
    assert [s["operation"] for s in snaps] == ["append", "append"]
    assert t.partitions_df().agg(F.sum("record_count")).collect()[0][0] == 4
    assert t.files_df().count() >= 2


def test_rollback(cat, spark):
    t = cat.create_table("db.orders", ORDERS_DDL)
    t.append(seed_df(spark, ROWS[:2]))
    v1 = t.meta.current_snapshot_id
    t.append(seed_df(spark, ROWS[2:]))
    assert t.read().count() == 4
    t.rollback_to(v1)
    assert t.read().count() == 2
    assert len(t.meta.snapshots) == 2  # history kept (Iceberg semantics)


def test_compaction_preserves_content(cat, spark):
    t = cat.create_table("db.orders", ORDERS_DDL)
    for r in ROWS:
        t.append(seed_df(spark, [r]))  # 4 tiny files
    before = sorted(map(str, t.read().collect()))
    nfiles_before = len(t.meta.snapshot().files)
    t.compact(target_files=1)
    after = sorted(map(str, t.read().collect()))
    assert before == after
    assert len(t.meta.snapshot().files) < nfiles_before


def test_expire_rebases_over_concurrent_rollback_without_data_loss(cat, spark):
    """r13 unlink-TOCTOU audit: expire_snapshots must commit its metadata
    BEFORE deleting files. Pre-fix, a rollback_to an about-to-expire
    snapshot racing the expiry lost data: files were unlinked first, then
    the CAS conflict aborted the expiry — leaving the rolled-back current
    state pointing at deleted files. Post-fix the expiry rebases onto the
    winner's metadata, the rolled-back snapshot is current (pinned), and
    its files survive."""
    from tutorial_iceberg_spark.lakehouse import metadata as M

    t = cat.create_table("db.orders", ORDERS_DDL)
    t.append(seed_df(spark, ROWS[:1]))
    first_snap = t.meta.current_snapshot_id
    t.append(seed_df(spark, ROWS[1:2]))
    t.append(seed_df(spark, ROWS[2:3]))

    orig = M.commit_metadata
    fired = {"done": False}

    def rival_rolls_back(location, md, pending_txn=None):
        # fire once, on expire's own commit (it SHRINKS the snapshot list)
        if not fired["done"] and len(md.snapshots) < len(t.meta.snapshots):
            fired["done"] = True
            cat.load_table("db.orders").rollback_to(first_snap)
        return orig(location, md, pending_txn=pending_txn)

    M.commit_metadata = rival_rolls_back
    try:
        t.expire_snapshots(keep_last=1)
    finally:
        M.commit_metadata = orig
    assert fired["done"], "the interleaving never fired"
    # the rolled-back state is current and fully readable: no file it
    # references was deleted by the losing expiry attempt
    assert t.meta.current_snapshot_id == first_snap
    assert t.read().count() == 1
    assert all(os.path.exists(t._abs(f.path)) for f in t.meta.snapshot().files)


def test_expire_snapshots_and_orphans(cat, spark):
    t = cat.create_table("db.orders", ORDERS_DDL)
    t.append(seed_df(spark, ROWS[:1]))
    t.append(seed_df(spark, ROWS[1:2]))
    t.delete("order_id = 1")
    assert len(t.meta.snapshots) == 3
    deleted = t.expire_snapshots(keep_last=1)
    assert len(t.meta.snapshots) == 1
    assert deleted, "expired-only files should be physically removed"
    assert t.read().count() == 1  # current state intact
    # orphans: plant an unreferenced file
    orphan = os.path.join(t.location, "data", "orphan.parquet")
    seed_df(spark, ROWS[:1]).write.mode("overwrite").parquet(orphan + ".dir")
    os.rename(
        next(
            os.path.join(orphan + ".dir", n)
            for n in os.listdir(orphan + ".dir")
            if n.endswith(".parquet")
        ),
        orphan,
    )
    # a FRESH unreferenced parquet is protected by the grace window —
    # it may be a live writer's staged batch whose commit is in flight
    removed = t.remove_orphan_files()
    assert not any("orphan.parquet" in p for p in removed)
    assert os.path.exists(orphan)
    # past the grace window it is a true orphan and gets swept
    import time as _time

    old = _time.time() - 7200
    os.utime(orphan, (old, old))
    removed = t.remove_orphan_files()
    assert any("orphan.parquet" in p for p in removed)
    assert t.read().count() == 1


def test_merge_on_read_delete(cat, spark):
    t = cat.create_table("db.orders", ORDERS_DDL)
    t.append(seed_df(spark))
    t.set_property("write.delete.mode", "merge-on-read")
    t.set_property("write.delete.equality-columns", "order_id")
    files_before = [f.path for f in t.meta.snapshot().files]
    t.delete("customer_id = 101")  # orders 1 and 4
    snap = t.meta.snapshot()
    assert [f.path for f in snap.files] == files_before  # D15: no rewrite
    assert snap.delete_files, "equality-delete file recorded"
    assert sorted(r["order_id"] for r in t.read().collect()) == [2, 3]
    # compaction resolves the deletes into plain files
    t.compact()
    assert not t.meta.snapshot().delete_files
    assert sorted(r["order_id"] for r in t.read().collect()) == [2, 3]


def test_merge_on_read_position_delete(cat, spark):
    """Position-delete flavor of D15: same visible result as the equality
    flavor, but the delete file stores (file_path, pos) coordinates and
    needs NO equality key property."""
    t = cat.create_table("db.orders", ORDERS_DDL)
    t.append(seed_df(spark))
    t.set_property("write.delete.mode", "merge-on-read")
    t.set_property("write.delete.flavor", "position")
    files_before = [f.path for f in t.meta.snapshot().files]
    t.delete("customer_id = 101")  # orders 1 and 4
    snap = t.meta.snapshot()
    assert [f.path for f in snap.files] == files_before  # D15: no rewrite
    assert snap.delete_files and all(
        d.content == "position" and d.equality_columns == []
        for d in snap.delete_files
    )
    assert sum(d.rows for d in snap.delete_files) >= 2
    assert sorted(r["order_id"] for r in t.read().collect()) == [2, 3]
    # the coordinate columns must not leak into the visible schema
    assert "__fp" not in t.read().columns and "__pos" not in t.read().columns
    # time travel still sees the pre-delete state
    assert t.read(snapshot_id=t.meta.snapshots[0].snapshot_id).count() == 4
    # compaction resolves position deletes into plain files too
    t.compact()
    assert not t.meta.snapshot().delete_files
    assert sorted(r["order_id"] for r in t.read().collect()) == [2, 3]


@pytest.mark.parametrize(
    "pred",
    [
        "customer_id = 101",
        "amount > 100",
        "order_id IN (2, 3)",
        "product_name LIKE '%o%'",
        "1 = 0",  # zero matches: every flavor must write an empty delete
    ],
)
def test_all_delete_flavors_agree(cat, spark, pred):
    """Copy-on-write and all three MoR flavors (equality / position /
    deletion-vector) must produce identical visible tables for any
    predicate — including non-prunable (LIKE) and zero-match shapes."""
    results = {}
    for i, flavor in enumerate(("cow", "equality", "position", "vector")):
        t = cat.create_table(f"db.fl_{flavor}", ORDERS_DDL)
        t.append(seed_df(spark))
        if flavor != "cow":
            t.set_property("write.delete.mode", "merge-on-read")
            if flavor == "equality":
                t.set_property("write.delete.equality-columns", "order_id")
            else:
                t.set_property("write.delete.flavor", flavor)
        t.delete(pred)
        results[flavor] = sorted(map(str, t.read().collect()))
    assert (
        results["cow"] == results["equality"] == results["position"]
        == results["vector"]
    ), {k: len(v) for k, v in results.items()}


def test_merge_on_read_update(cat, spark):
    """MoR UPDATE: matched rows position-deleted from their original files
    and re-appended updated, in ONE snapshot; no candidate file rewritten."""
    t = cat.create_table("db.um", ORDERS_DDL)
    t.append(seed_df(spark))
    t.set_property("write.update.mode", "merge-on-read")
    files_before = [f.path for f in t.meta.snapshot().files]
    t.update("customer_id = 101", {"amount": "amount * 2"})
    snap = t.meta.snapshot()
    paths = [f.path for f in snap.files]
    assert set(files_before) <= set(paths)  # originals carried by reference
    assert len(paths) > len(files_before)  # plus appended updated rows
    assert snap.delete_files and all(
        d.content == "position" for d in snap.delete_files
    )
    rows = {r["order_id"]: float(r["amount"]) for r in t.read().collect()}
    assert len(rows) == 4  # no duplicates: old versions masked by deletes
    base = {r["order_id"]: float(r["amount"]) for r in seed_df(spark).collect()}
    for oid, amt in base.items():
        want = amt * 2 if oid in (1, 4) else amt  # customer 101 = orders 1,4
        assert abs(rows[oid] - want) < 1e-9, (oid, rows[oid], want)
    # a second update (delete files pending) falls back to materialize
    t.update("order_id = 2", {"amount": "amount + 1"})
    rows2 = {r["order_id"]: float(r["amount"]) for r in t.read().collect()}
    assert abs(rows2[2] - (base[2] + 1)) < 1e-9
    assert not t.meta.snapshot().delete_files  # materialized


def test_merge_on_read_deletion_vector(cat, spark):
    """V3 deletion-vector flavor: ONE bitmap row per touched file, same
    visible result as the other flavors, bit test exact at word edges."""
    t = cat.create_table("db.dv", "k bigint, v string")
    # 130 rows in one append: positions cross the 64-bit word boundary
    t.append(
        spark.range(0, 130, 1, 1).selectExpr("id as k", "'x' as v")
    )
    t.set_property("write.delete.mode", "merge-on-read")
    t.set_property("write.delete.flavor", "vector")
    files_before = [f.path for f in t.meta.snapshot().files]
    # delete positions 0, 63, 64, 127, 128 via key (single sorted file:
    # row position == k) — exercises word 0/1/2 and both edge bits
    t.delete("k IN (0, 63, 64, 127, 128)")
    snap = t.meta.snapshot()
    assert [f.path for f in snap.files] == files_before  # no rewrite
    assert snap.delete_files and all(
        d.content == "vector" for d in snap.delete_files
    )
    assert sum(d.rows for d in snap.delete_files) == 5
    got = sorted(r["k"] for r in t.read().collect())
    assert got == [k for k in range(130) if k not in (0, 63, 64, 127, 128)]
    # the DV parquet holds ONE row for the one touched file
    import os as _os

    dv_rows = sum(
        spark.read.parquet(_os.path.join(t.location, d.path)).count()
        for d in snap.delete_files
    )
    assert dv_rows == 1
    # compaction resolves deletion vectors into plain files
    t.compact()
    assert not t.meta.snapshot().delete_files
    assert sorted(r["k"] for r in t.read().collect()) == got


def test_position_delete_after_schema_evolution(cat, spark):
    """Position deletes must target rows correctly even when candidate
    files were written under an older schema (rename + added column)."""
    t = cat.create_table("db.orders", ORDERS_DDL)
    t.append(seed_df(spark, ROWS[:2]))
    t.rename_column("customer_id", "cust_id")
    t.add_column("region", "string", default="emea")
    t.append(
        seed_df(spark, ROWS[2:]).withColumnRenamed("customer_id", "cust_id")
        .withColumn("region", F.lit("apac"))
    )
    t.set_property("write.delete.mode", "merge-on-read")
    t.set_property("write.delete.flavor", "position")
    t.delete("cust_id = 101")  # order 1 (old-schema file), order 4 (new)
    assert sorted(r["order_id"] for r in t.read().collect()) == [2, 3]
    regions = {r["order_id"]: r["region"] for r in t.read().collect()}
    assert regions == {2: "emea", 3: "apac"}


def test_scan_prunes_with_mor_deletes(cat, spark):
    """scan() must keep manifest pruning when MoR delete files are pending
    (it previously fell back to a full-table read): deletes only remove
    rows, so candidate-file reads + delete anti-joins compose soundly."""
    t = cat.create_table("db.sp", "k bigint, v string")
    t.append(spark.range(0, 100).selectExpr("id as k", "'a' as v"))
    t.append(spark.range(1000, 1100).selectExpr("id as k", "'b' as v"))
    t.set_property("write.delete.mode", "merge-on-read")
    t.set_property("write.delete.flavor", "position")
    t.delete("k % 10 = 0")
    snap = t.meta.snapshot()
    assert snap.delete_files
    cand = t._candidates(t.meta, snap, "k >= 1000")
    assert 0 < len(cand) < len(snap.files), "stats pruning should drop files"
    got = sorted(r["k"] for r in t.scan("k >= 1000").collect())
    assert got == [k for k in range(1000, 1100) if k % 10 != 0]
    # equality flavor composes the same way
    t2 = cat.create_table("db.sp2", "k bigint, v string")
    t2.append(spark.range(0, 100).selectExpr("id as k", "'a' as v"))
    t2.set_property("write.delete.mode", "merge-on-read")
    t2.set_property("write.delete.equality-columns", "k")
    t2.delete("k < 10")
    got2 = sorted(r["k"] for r in t2.scan("k < 20").collect())
    assert got2 == list(range(10, 20))


def test_merge_prunes_disjoint_target_files(cat, spark):
    """MERGE must carry over (by reference, no rewrite) every target file
    whose key min/max cannot overlap the source's key bounds — O(overlap)
    cost, not O(table)."""
    t = cat.create_table("db.mp", "k bigint, v string")
    t.append(spark.range(0, 100).selectExpr("id as k", "'lo' as v"))
    t.append(spark.range(1000, 1100).selectExpr("id as k", "'hi' as v"))
    hi_files = {
        f.path
        for f in t.meta.snapshot().files
        if f.stats.get("k") and f.stats["k"][0] >= 1000
    }
    assert hi_files, "expected footer stats on k"
    src = spark.range(0, 50).selectExpr("id as k", "'upd' as v")
    t.merge(src, on="k")
    snap = t.meta.snapshot()
    after = {f.path for f in snap.files}
    assert hi_files <= after, "disjoint-range files were rewritten"
    assert snap.summary["untouched-files"] >= len(hi_files)
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(rows) == 200
    assert rows[0] == "upd" and rows[49] == "upd"
    assert rows[99] == "lo" and rows[1000] == "hi"
    # full-sync mode must NOT prune (every target row re-checked)
    t.merge(src, on="k", when_not_matched_by_source="delete")
    assert sorted(r["k"] for r in t.read().collect()) == list(range(50))


def test_merge_prunes_target_files_by_partition_value(cat, spark):
    """MERGE prunes with the same file pruner, and the same literal form,
    as DELETE and UPDATE: on a month(d)-partitioned table a one-row source
    rewrites only the files of its own month."""
    import datetime as dt

    ddl = "d date, v string"
    t = cat.create_table("db.mpart", ddl, partition_by=["month(d)"])
    days = [dt.date(2024, m, day) for m in (1, 2, 3) for day in (5, 20)]
    t.append(spark.createDataFrame([(d, "old") for d in days], ddl))
    by_month = {}
    for f in t.meta.snapshot().files:
        by_month.setdefault(f.partition["d_month"], set()).add(f.path)
    src = spark.createDataFrame([(dt.date(2024, 2, 5), "upd")], ddl)
    t.merge(src, on="d")
    snap = t.meta.snapshot()
    kept = by_month["2024-01"] | by_month["2024-03"]
    assert kept <= {f.path for f in snap.files}
    assert snap.summary["untouched-files"] == len(kept)
    assert not by_month["2024-02"] & {f.path for f in snap.files}
    rows = {r["d"]: r["v"] for r in t.read().collect()}
    assert rows == {d: ("upd" if d == dt.date(2024, 2, 5) else "old") for d in days}


def test_merge_timestamp_key_pruning_ignores_python_local_zone(cat, spark, monkeypatch):
    """Partition values of day(ts) are written in the session zone (UTC);
    the MERGE key hull must be compared in that zone too. Collected as
    Python datetimes the bounds would shift into the driver process's
    local zone, prune the matched row's file and turn the update into a
    second row."""
    import time

    t = cat.create_table("db.mts", "ts timestamp, v string", partition_by=["day(ts)"])
    t.append(spark.sql(
        "SELECT * FROM VALUES (timestamp'2024-01-01 03:00:00', 'old'),"
        " (timestamp'2024-01-05 03:00:00', 'old') AS s(ts, v)"
    ))
    monkeypatch.setenv("TZ", "America/Los_Angeles")
    time.tzset()
    try:
        t.merge(spark.sql("SELECT timestamp'2024-01-01 03:00:00' AS ts, 'upd' AS v"), on="ts")
    finally:
        monkeypatch.undo()
        time.tzset()
    assert t.meta.snapshot().summary["untouched-files"] == 1
    rows = sorted(tuple(r) for r in t.read().selectExpr("CAST(ts AS STRING)", "v").collect())
    assert rows == [("2024-01-01 03:00:00", "upd"), ("2024-01-05 03:00:00", "old")]


def test_catalog_listings(cat, spark):
    cat.create_table("db.orders", ORDERS_DDL)
    cat.create_table("db.events", "event_id bigint, payload string")
    cat.create_table("analytics.daily", "day date, cnt bigint")
    assert {r["namespace"] for r in cat.list_namespaces().collect()} == {"db", "analytics"}
    assert {r["table_name"] for r in cat.list_tables("db").collect()} == {"orders", "events"}
    meta = cat.table_metadata("db.orders")
    assert meta["schema"]["order_id"] == "bigint"
    assert meta["current_snapshot_id"] is None


def test_concurrent_commit_conflict_detected(cat, spark):
    """Two writers racing for the same version: the loser must get
    CommitConflictError (optimistic CAS), never silently clobber."""
    import pytest
    from tutorial_iceberg_spark.lakehouse import metadata as M

    t = cat.create_table("db.conflict", ORDERS_DDL)
    t.append(seed_df(spark))
    # two writers read the same state; A commits first, stale B must lose
    md_a = M.read_metadata(t.location)
    md_b = M.read_metadata(t.location)
    M.commit_metadata(t.location, md_a)
    with pytest.raises(M.CommitConflictError):
        M.commit_metadata(t.location, md_b)


def test_orphan_version_file_recovered(cat, spark):
    """A writer that crashes after committing v{N+1} but BEFORE flipping
    version-hint.text must not wedge the table: the version file is the
    durable commit (hint is advisory), so readers resolve to N+1 and the
    next writer builds on it instead of retrying N+1 forever."""
    from tutorial_iceberg_spark.lakehouse import metadata as M

    t = cat.create_table("db.orphan", ORDERS_DDL)
    t.append(seed_df(spark))
    v = M.current_version(t.location)
    # simulate the crash: commit v+1 normally, then roll the hint back to v
    M.commit_metadata(t.location, M.read_metadata(t.location))
    with open(M._hint_path(t.location), "w") as f:
        f.write(str(v))
    assert M.current_version(t.location) == v + 1  # probes past stale hint
    t.append(seed_df(spark))  # must commit v+2, not wedge on v+1
    assert M.current_version(t.location) == v + 2
    assert t.read().count() == 2 * seed_df(spark).count()


def test_append_rebases_on_conflict(cat, spark):
    """A commit that loses the version CAS (stale version read -> O_EXCL
    failure) must rebase and retry; both writers' rows survive."""
    from tutorial_iceberg_spark.lakehouse import metadata as M

    t = cat.create_table("db.rebase", ORDERS_DDL)
    t.append(seed_df(spark))

    real_version = M.current_version
    stale = {"armed": True}

    def stale_once(location):
        v = real_version(location)
        if stale["armed"]:
            stale["armed"] = False
            return v - 1  # simulate reading the hint just before a winner flipped it
        return v

    t2 = type(t).load(spark, t.location)
    M.current_version = stale_once  # armed AFTER load: append's own metadata
    try:                            # read is the one that goes stale
        t2.append(seed_df(spark, rows=[(10, 104, "webcam", "60.00", "2024-04-01")]))
    finally:
        M.current_version = real_version
    assert not stale["armed"], "stale read never consumed - race not exercised"
    rows = {r["order_id"] for r in t.read().collect()}
    assert 10 in rows and 1 in rows
    # exactly one new snapshot on top of the seed append
    assert t.meta.current_snapshot_id == 2


def test_incremental_read_returns_only_appended(cat, spark):
    t = cat.create_table("db.inc", ORDERS_DDL)
    t.append(seed_df(spark, rows=ROWS[:2]))
    first = t.meta.current_snapshot_id
    t.append(seed_df(spark, rows=ROWS[2:3]))
    t.append(seed_df(spark, rows=ROWS[3:4]))
    inc = {r["order_id"] for r in t.incremental_read(first).collect()}
    assert inc == {3, 4}
    # bounded range: only the middle append
    mid = t.meta.snapshots[1].snapshot_id
    inc2 = {r["order_id"] for r in t.incremental_read(first, mid).collect()}
    assert inc2 == {3}
    # empty range
    assert t.incremental_read(t.meta.current_snapshot_id).count() == 0


def test_incremental_read_plans_only_changed_manifests(cat, spark):
    """incremental_read diffs each append against its parent by the
    manifests that CHANGED, so a range of n single-manifest appends reads
    n manifests however many the head snapshot references."""
    from tutorial_iceberg_spark.lakehouse import metadata as M

    t = cat.create_table("db.incplan", "k bigint, v string")
    for i in range(8):
        t.append(spark.createDataFrame([(i, f"v{i}")], "k bigint, v string"))
    sids = [s.snapshot_id for s in t.meta.snapshots]
    assert len(t.manifest_groups()) == 8
    for n in (1, 5):
        M._manifest_cache.clear()
        reads0 = M.manifest_file_reads
        df = t.incremental_read(sids[-1 - n])
        assert M.manifest_file_reads - reads0 == n
        assert sorted(r["k"] for r in df.collect()) == list(range(8 - n, 8))


def test_incremental_read_rejects_non_append_range(cat, spark):
    t = cat.create_table("db.inc2", ORDERS_DDL)
    t.append(seed_df(spark))
    first = t.meta.current_snapshot_id
    t.delete("order_id = 2")
    with pytest.raises(ValueError, match="non-append"):
        t.incremental_read(first)
    # a `from` id that never existed now hits the expired-boundary
    # pre-check (r11 CDC honesty) rather than the ancestor walk
    with pytest.raises(ValueError, match="expired"):
        t.incremental_read(999)
    # the ancestor walk still guards live-but-unrelated ids: a branch
    # head that is not on `to`'s parent chain
    t.create_branch("side", snapshot_id=first)
    t.append_to_branch("side", seed_df(spark, rows=[(77, 107, "hub", "9.99", "2024-05-01")]))
    side_head = t.branches()["side"]
    with pytest.raises(ValueError, match="not an ancestor"):
        t.incremental_read(side_head)


def test_identity_partition_pruning_never_drops_decimal_rows(cat, spark):
    """ADVICE r1: identity pruning compared str(literal) against the Hive
    dir string — '25.5' vs '25.50' wrongly pruned the matching file, so a
    DELETE on a decimal-partitioned column silently skipped rows. Identity
    pruning must now decline on decimal columns (no pruning -> correct)."""
    t = cat.create_table("db.decpart", ORDERS_DDL, partition_by=["amount"])
    t.append(seed_df(spark))
    # predicate literal 25.50 -> parsed float 25.5; dir value is '25.50'
    assert t.scan("amount = 25.50").count() == 1
    t.delete("amount = 25.50")
    assert {r["order_id"] for r in t.read().collect()} == {1, 3, 4}


def test_identity_partition_pruning_int_and_string(cat, spark):
    """Identity pruning stays ACTIVE where it is provably safe: int and
    plain-string columns. Verify both correctness and that pruning actually
    reduces the candidate file set (the at-scale point)."""
    from tutorial_iceberg_spark.lakehouse import metadata as M

    t = cat.create_table("db.idpart", ORDERS_DDL, partition_by=["customer_id"])
    t.append(seed_df(spark))
    md = t.meta
    snap = md.snapshot()
    cands = t._candidates(md, snap, "customer_id = 102")
    assert len(cands) < len(snap.files)  # pruned
    assert t.scan("customer_id = 102").count() == 1
    t.delete("customer_id = 101")
    assert {r["order_id"] for r in t.read().collect()} == {2, 3}


def test_rename_column_validation(cat, spark):
    """ADVICE r1: renaming a nonexistent column must raise (not silently
    no-op), and renaming onto an existing name must raise (not corrupt the
    schema with duplicates)."""
    t = cat.create_table("db.ren", ORDERS_DDL)
    t.append(seed_df(spark))
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "amount2")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("amount", "order_date")
    t.rename_column("amount", "price")  # the legitimate rename still works
    assert "price" in t.read().columns


def test_branch_isolation_and_publish(cat, spark):
    """Branch writes must not leak into main until fast_forward; publish
    flips main to the branch head; drop removes only the ref."""
    t = cat.create_table("db.wap", ORDERS_DDL)
    t.append(seed_df(spark))
    n0 = t.read().count()
    t.create_branch("stage")
    t.append_to_branch("stage", seed_df(spark))
    assert t.read().count() == n0  # main isolated
    assert t.read_branch("stage").count() == 2 * n0
    t.fast_forward("stage")
    assert t.read().count() == 2 * n0
    t.drop_branch("stage")
    assert t.branches() == {}
    with pytest.raises(ValueError, match="no branch"):
        t.read_branch("stage")


def test_branch_fast_forward_refuses_divergence(cat, spark):
    """If main advances after the branch forked, publishing the branch
    would drop main's commit — fast_forward must refuse."""
    t = cat.create_table("db.wapdiv", ORDERS_DDL)
    t.append(seed_df(spark))
    t.create_branch("stage")
    t.append_to_branch("stage", seed_df(spark))
    t.append(seed_df(spark))  # main moves on: diverged
    with pytest.raises(ValueError, match="diverged"):
        t.fast_forward("stage")


def test_merge_branch_replays_append_delta_onto_moved_main(cat, spark):
    """merge_branch publishes a DIVERGED branch (the case fast_forward
    refuses): the branch's append-only delta lands on current main as one
    'merge' snapshot; nothing from either line is lost; branch snapshots
    and time travel across the merge stay intact."""
    t = cat.create_table("db.bm", "k bigint, tag string")

    def batch(tag, n=2):
        return spark.createDataFrame(
            [(i, f"{tag}-{i}") for i in range(n)], "k bigint, tag string"
        )

    t.append(batch("seed"))
    t.create_branch("ingest")
    t.append_to_branch("ingest", batch("br1"))
    t.append_to_branch("ingest", batch("br2"))
    t.append(batch("main1"))  # diverged
    with pytest.raises(ValueError, match="diverged"):
        t.fast_forward("ingest")
    pre_merge = t.meta.current_snapshot_id
    t.merge_branch("ingest")
    tags = sorted(r["tag"] for r in t.read().collect())
    assert tags == sorted(
        f"{p}-{i}" for p in ("seed", "br1", "br2", "main1") for i in range(2)
    )
    md = t.meta
    snap = md.snapshot()
    assert snap.operation == "merge"
    assert snap.summary["merged-branch"] == "ingest"
    assert snap.summary["merged-snapshots"] == 2
    # metadata-only publish: every merged file is carried BY REFERENCE
    # from the branch snapshots — zero data files written or rewritten,
    # so the op is O(delta manifest) at any table size
    pre = {f.path for s_ in md.snapshots if s_.snapshot_id != snap.snapshot_id for f in s_.files}
    assert {f.path for f in snap.files} <= pre
    assert snap.parent_id == pre_merge  # merged ONTO main, not onto branch
    # pre-merge main state is still time-travelable
    assert t.read(snapshot_id=pre_merge).count() == 4
    # branch ref untouched; a second merge of the same branch is the
    # caller's bug, not silent duplication — the delta is already an
    # ancestor set of main... it would re-add the same FILES, so callers
    # drop the branch after publishing; assert drop works
    t.drop_branch("ingest")


def test_merge_branch_fast_forwards_when_main_never_moved(cat, spark):
    t = cat.create_table("db.bmff", "k bigint, tag string")
    t.append(spark.createDataFrame([(1, "a")], "k bigint, tag string"))
    t.create_branch("stage")
    t.append_to_branch(
        "stage", spark.createDataFrame([(2, "b")], "k bigint, tag string")
    )
    t.merge_branch("stage")
    assert sorted(r["tag"] for r in t.read().collect()) == ["a", "b"]
    # degenerated to fast_forward: main points AT the branch head
    md = t.meta
    assert md.current_snapshot_id == md.refs["stage"]


def test_merge_branch_refuses_non_append_delta(cat, spark):
    """A branch delta containing a delete/replace was computed against
    the branch's view of rows main may have changed — replaying it could
    drop or resurrect main-side rows. merge_branch must refuse with
    MergeConflictError and main must be untouched."""
    from tutorial_iceberg_spark.lakehouse.table import MergeConflictError

    t = cat.create_table("db.bmconf", "k bigint, tag string")
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, tag string")
    )
    t.create_branch("stage")
    t.append_to_branch(
        "stage", spark.createDataFrame([(3, "c")], "k bigint, tag string")
    )
    # a CoW delete ON THE BRANCH puts a 'delete' snapshot in the delta
    md = t.meta
    head = md.snapshot(md.refs["stage"])
    kept = t._read_snapshot(md, head, head.files).filter("k <> 1")
    files = t._write_files(t._align(kept, md.schema()), md)
    t._new_snapshot(md, "delete", files, [], {"where": "k = 1"}, ref="stage")
    t.append(spark.createDataFrame([(4, "d")], "k bigint, tag string"))
    before = sorted(r["tag"] for r in t.read().collect())
    with pytest.raises(MergeConflictError, match="non-append"):
        t.merge_branch("stage")
    assert sorted(r["tag"] for r in t.read().collect()) == before


def test_branch_create_validation(cat, spark):
    t = cat.create_table("db.wapval", ORDERS_DDL)
    with pytest.raises(ValueError, match="existing snapshot"):
        t.create_branch("empty")  # no snapshot yet
    t.append(seed_df(spark))
    t.create_branch("b1")
    with pytest.raises(ValueError, match="already exists"):
        t.create_branch("b1")


def test_sorted_compaction_prunes_key_ranges(cat, spark):
    """After compact(sort_by=[key]), per-file min/max stats must prune a
    key-range scan to a strict subset of files, while unsorted compaction
    leaves every file spanning the full range."""
    t = cat.create_table("db.sortcomp", ORDERS_DDL)
    for i in range(3):
        t.append(seed_df(spark))
    t.compact(target_files=2, sort_by=["order_id"])
    md = t.meta
    snap = md.snapshot()
    assert len(snap.files) >= 2
    cands = t._candidates(md, snap, "order_id <= 1")
    assert len(cands) < len(snap.files)
    # row-identity preserved
    assert t.read().count() == 3 * seed_df(spark).count()


def test_rest_catalog_roundtrip(cat, spark):
    """S11 made real: serve the warehouse over the Iceberg REST endpoints
    and drive it with the reference client's three calls
    (listNamespaces/listTables/getTableMetadata, README.md:1036-1088)."""
    import urllib.error

    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
    )

    t = cat.create_table("db.rest_orders", ORDERS_DDL)
    t.append(seed_df(spark))
    cat.create_table("analytics.daily", ORDERS_DDL)
    with RestCatalogServer(cat) as srv:
        client = RestCatalogClient(srv.base_url)
        assert "warehouse" in client.config()["overrides"]
        assert set(client.list_namespaces()) >= {"db", "analytics"}
        assert "rest_orders" in client.list_tables("db")
        md = client.get_table_metadata("db", "rest_orders")
        assert md["name"] == "db.rest_orders"
        assert md["current_snapshot_id"] == 1
        assert "order_id" in md["schema"]
        # 404s, not crashes, for unknown routes/objects
        for path in ("/v1/namespaces/nope/tables",
                     "/v1/namespaces/db/tables/nope",
                     "/v1/bogus"):
            try:
                client._get(path)
                raise AssertionError(f"expected 404 for {path}")
            except urllib.error.HTTPError as e:
                assert e.code == 404


def test_rest_catalog_write_paths(cat, spark):
    """S11 write surface (r12 verdict Next #8): create namespace + table
    over HTTP (metadata-only, no Spark), optimistic property commits with
    Iceberg-spec requirements, 409 on a failed requirement AND on a lost
    CAS (two racing commits -> exactly one winner), drop table."""
    import urllib.error

    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
    )

    with RestCatalogServer(cat) as srv:
        client = RestCatalogClient(srv.base_url)
        client.create_namespace("ops")
        assert "ops" in client.list_namespaces()
        client.create_table(
            "ops",
            "ledger",
            [
                {"name": "k", "type": "bigint", "required": True},
                {"name": "tag", "type": "string"},
            ],
            properties={"owner": "rest"},
        )
        assert "ledger" in client.list_tables("ops")
        md = client.get_table_metadata("ops", "ledger")
        assert md["schema"] == {"k": "bigint", "tag": "string"}
        # the REST-created table is a full citizen: the Python API can
        # append to it and the snapshot shows over HTTP
        t = cat.load_table("ops.ledger")
        t.append(spark.createDataFrame([(1, "a")], "k bigint, tag string"))
        assert client.get_table_metadata("ops", "ledger")["current_snapshot_id"] == 1
        # duplicate create -> 409
        try:
            client.create_table("ops", "ledger", [{"name": "k", "type": "bigint"}])
            raise AssertionError("expected 409 for duplicate create")
        except urllib.error.HTTPError as e:
            assert e.code == 409
        # optimistic commit: requirement passes, properties land atomically
        client.commit_table(
            "ops",
            "ledger",
            updates=[{"action": "set-properties", "updates": {"batch": "7"}}],
            requirements=[
                {"type": "assert-ref-snapshot-id", "snapshot-id": 1}
            ],
        )
        assert cat.load_table("ops.ledger").meta.properties["batch"] == "7"
        # stale requirement -> 409, nothing applied
        try:
            client.commit_table(
                "ops",
                "ledger",
                updates=[{"action": "set-properties", "updates": {"batch": "8"}}],
                requirements=[
                    {"type": "assert-ref-snapshot-id", "snapshot-id": 99}
                ],
            )
            raise AssertionError("expected 409 for stale requirement")
        except urllib.error.HTTPError as e:
            assert e.code == 409
        assert cat.load_table("ops.ledger").meta.properties["batch"] == "7"
        # remove-properties + uuid requirement
        uuid_ = cat.load_table("ops.ledger").meta.table_uuid
        client.commit_table(
            "ops",
            "ledger",
            updates=[{"action": "remove-properties", "removals": ["batch"]}],
            requirements=[{"type": "assert-table-uuid", "uuid": uuid_}],
        )
        assert "batch" not in cat.load_table("ops.ledger").meta.properties
        # racing commits through HTTP: the CAS arbitrates — with N
        # concurrent writers each retrying on 409, every update lands
        import threading

        errors: list[Exception] = []

        def writer(i: int) -> None:
            for attempt in range(20):
                try:
                    client.commit_table(
                        "ops",
                        "ledger",
                        updates=[{
                            "action": "set-properties",
                            "updates": {f"w{i}": str(attempt)},
                        }],
                    )
                    return
                except urllib.error.HTTPError as e:
                    if e.code != 409:
                        errors.append(e)
                        return
            errors.append(RuntimeError(f"writer {i} starved"))

        ths = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
        for th in ths:
            th.start()
        for th in ths:
            th.join()
        assert not errors, errors
        props = cat.load_table("ops.ledger").meta.properties
        assert all(f"w{i}" in props for i in range(4))
        # drop over HTTP
        client.drop_table("ops", "ledger")
        assert "ledger" not in client.list_tables("ops")


def test_zorder_compaction_prunes_both_dimensions(cat, spark):
    """Z-order clustering must make min/max stats selective on BOTH keys:
    a range scan on either column prunes to a strict subset of files (a
    lexicographic sort can only do this for its leading column)."""
    import pyspark.sql.functions as SF

    t = cat.create_table("db.zcomp", ORDERS_DDL)
    # 400 rows over a 20x20 grid: customer_id cycles 0-19, order_id is the
    # row number (so the two keys are independent dimensions). Decimal
    # columns carry no footer stats in the manifest (see _write_files), so
    # both Z keys are ints here.
    base = spark.range(400).select(
        SF.col("id").alias("order_id"),
        (SF.col("id") % 20).alias("customer_id"),
        SF.lit("p").alias("product_name"),
        SF.lit("10.00").cast("decimal(10,2)").alias("amount"),
        SF.lit("2024-01-01").cast("date").alias("order_date"),
    )
    t.append(base)
    t.compact(target_files=4, zorder_by=["customer_id", "order_id"])
    md = t.meta
    snap = md.snapshot()
    assert len(snap.files) >= 3
    c1 = t._candidates(md, snap, "customer_id <= 2")
    c2 = t._candidates(md, snap, "order_id <= 40")
    assert len(c1) < len(snap.files), (len(c1), len(snap.files))
    assert len(c2) < len(snap.files), (len(c2), len(snap.files))
    assert t.read().count() == 400
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.compact(sort_by=["order_id"], zorder_by=["amount"])


def test_merge_not_matched_by_source_delete(cat, spark):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE: the target becomes an exact
    mirror of the source keys (full-sync semantics)."""
    t = cat.create_table("db.sync", ORDERS_DDL)
    t.append(seed_df(spark))
    src = seed_df(spark).filter(F.col("order_id").isin(1, 2)).withColumn(
        "amount", F.col("amount") * 10
    )
    t.merge(src, on="order_id", when_not_matched_by_source="delete")
    rows = {r["order_id"]: float(r["amount"]) for r in t.read().collect()}
    assert set(rows) == {1, 2}
    assert rows[1] == 12000.0  # updated from source


def test_merge_matched_condition_keeps_unarmed_target_rows(cat, spark):
    t = cat.create_table("db.cond", ORDERS_DDL)
    t.append(seed_df(spark))
    src = seed_df(spark).withColumn("amount", F.col("amount") * 2)
    t.merge(
        src,
        on="order_id",
        matched_condition="customer_id = 101",
        when_not_matched="none",
    )
    rows = {r["order_id"]: float(r["amount"]) for r in t.read().collect()}
    assert rows[1] == 2400.0 and rows[4] == 700.0  # armed (cust 101)
    assert rows[2] == 25.5 and rows[3] == 75.0  # unarmed: target kept


def test_tags_pin_snapshots_against_expiry(cat, spark):
    """A tagged snapshot (and a branch head) must survive expire_snapshots
    and stay readable; untagged history is collected."""
    t = cat.create_table("db.tagged", ORDERS_DDL)
    t.append(seed_df(spark))  # snap 1
    t.create_tag("v1")
    t.append(seed_df(spark))  # snap 2
    t.append(seed_df(spark))  # snap 3
    t.expire_snapshots(keep_last=1)
    assert t.read_tag("v1").count() == len(ROWS)  # pinned + readable
    ids = {s.snapshot_id for s in t.meta.snapshots}
    assert 1 in ids and 3 in ids and 2 not in ids
    with pytest.raises(ValueError, match="already exists"):
        t.create_tag("v1")
    t.drop_tag("v1")
    with pytest.raises(ValueError, match="no tag"):
        t.read_tag("v1")


def test_tag_pinned_through_gc(cat, spark):
    """The lake_tag_pinned_read invariant, moved out of the query builder
    (ADVICE r6): after DELETE + expire_snapshots(keep_last=1), main must
    show the mutation while the tag reproduces the full pre-delete state."""
    t = cat.create_table("db.tag_gc", ORDERS_DDL)
    t.append(seed_df(spark))
    n0 = t.read().count()
    t.create_tag("v1")
    t.delete("order_id % 2 = 0")
    t.expire_snapshots(keep_last=1)
    assert t.read().count() < n0
    assert t.read_tag("v1").count() == n0


def test_concurrent_appends_all_commit(cat, spark):
    """8 writers race the same table from threads: optimistic CAS + rebase
    must land ALL of them — every snapshot commits exactly once, the final
    state is the union, and version history is linear with no gaps."""
    from concurrent.futures import ThreadPoolExecutor

    from tutorial_iceberg_spark.lakehouse import metadata as M

    t = cat.create_table("db.race", ORDERS_DDL)
    n_writers = 8

    def write(i: int) -> None:
        rows = [(100 + i, 200 + i, f"w{i}", "10.00", "2024-06-01")]
        t.append(seed_df(spark, rows))

    with ThreadPoolExecutor(max_workers=n_writers) as ex:
        list(ex.map(write, range(n_writers)))  # raises if any writer failed

    assert t.read().count() == n_writers
    assert {r["order_id"] for r in t.read().collect()} == {
        100 + i for i in range(n_writers)
    }
    md = t.meta
    assert len(md.snapshots) == n_writers
    # linear history: every snapshot's parent is its predecessor
    by_id = {s.snapshot_id: s for s in md.snapshots}
    cur = md.current_snapshot_id
    seen = 0
    while cur is not None:
        seen += 1
        cur = by_id[cur].parent_id
    assert seen == n_writers
    # version files are contiguous (no wasted/orphan versions beyond CAS)
    assert M.current_version(t.location) == md.loaded_version


def test_zorder_handles_null_keys(cat, spark):
    """NULL key values must land in bucket 0, not null the z-address (and
    an all-NULL key column must not crash the min/max model fit)."""
    import pyspark.sql.functions as SF

    t = cat.create_table("db.znull", ORDERS_DDL)
    base = spark.range(40).select(
        SF.col("id").alias("order_id"),
        SF.when(SF.col("id") % 5 == 0, None).otherwise(SF.col("id") % 7)
        .alias("customer_id"),
        SF.lit(None).cast("string").alias("product_name"),  # all-NULL
        SF.lit("10.00").cast("decimal(10,2)").alias("amount"),
        SF.lit("2024-01-01").cast("date").alias("order_date"),
    )
    t.append(base)
    t.compact(target_files=2, zorder_by=["customer_id", "order_id"])
    assert t.read().count() == 40
    assert t.read().filter(SF.col("customer_id").isNull()).count() == 8


def test_xxh64_long_matches_spark(cat, spark):
    """The planner's python XXH64 must be bit-identical to Spark's
    xxhash64 on bigint values — pruning soundness depends on it."""
    from hypothesis import strategies as st

    from tutorial_iceberg_spark.lakehouse.transforms import xxh64_long

    vals = [0, 1, -1, 42, 2**63 - 1, -(2**63)] + [
        st.integers(-(2**63), 2**63 - 1).example() for _ in range(20)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x bigint")
    got = {r["x"]: r["h"] for r in df.select(
        "x", F.xxhash64("x").alias("h")).collect()}
    for v in vals:
        assert xxh64_long(v) == got[v], v


def test_bucket_partition_pruning_equality_only(cat, spark):
    """bucket[N] partitions prune equality scans (planner hash == writer
    hash) and never prune range scans; DELETE through bucket pruning stays
    row-exact."""
    t = cat.create_table("db.bucketed", ORDERS_DDL, partition_by=["bucket(4, order_id)"])
    t.append(seed_df(spark))
    md = t.meta
    snap = md.snapshot()
    assert len(snap.files) >= 2  # rows spread over >1 bucket
    cands = t._candidates(md, snap, "order_id = 1")
    assert len(cands) < len(snap.files)  # equality prunes
    # range predicates never flow through the bucket transform (a hash
    # bucket has no order); the files kept here are stats-pruned only and
    # the range scan stays row-exact
    assert t.scan("order_id > 1").count() == 3
    assert t.scan("order_id = 1").count() == 1
    t.delete("order_id = 1")  # correctness through the pruned path
    assert sorted(r["order_id"] for r in t.read().collect()) == [2, 3, 4]


# ---------------------------------------------------------------------------
# ADVICE r5 regression gates
# ---------------------------------------------------------------------------


def test_mor_paths_survive_reserved_column_names(cat, spark):
    """A user schema that names its columns file_path/pos must not make the
    MoR coordinate write paths ambiguous: coordinates ride the reserved
    __fp/__pos names until user columns are dropped."""
    t = cat.create_table("db.rsvd", "file_path string, pos bigint, v string")
    t.append(
        spark.range(0, 6, 1, 1).selectExpr(
            "concat('f', id) as file_path", "id as pos", "'x' as v"
        )
    )
    t.set_property("write.delete.mode", "merge-on-read")
    t.set_property("write.delete.flavor", "position")
    t.delete("pos = 2")
    assert sorted(r["pos"] for r in t.read().collect()) == [0, 1, 3, 4, 5]
    # deletion-vector flavor over the survivors (fresh table: DV fast path
    # requires no pending delete files)
    t2 = cat.create_table("db.rsvd2", "file_path string, pos bigint, v string")
    t2.append(
        spark.range(0, 6, 1, 1).selectExpr(
            "concat('f', id) as file_path", "id as pos", "'x' as v"
        )
    )
    t2.set_property("write.delete.mode", "merge-on-read")
    t2.set_property("write.delete.flavor", "vector")
    t2.delete("pos >= 4")
    assert sorted(r["pos"] for r in t2.read().collect()) == [0, 1, 2, 3]
    # MoR UPDATE with the reserved names
    t3 = cat.create_table("db.rsvd3", "file_path string, pos bigint, v string")
    t3.append(
        spark.range(0, 4, 1, 1).selectExpr(
            "concat('f', id) as file_path", "id as pos", "'x' as v"
        )
    )
    t3.set_property("write.update.mode", "merge-on-read")
    t3.update("pos = 1", {"v": "'updated'"})
    got = {r["pos"]: r["v"] for r in t3.read().collect()}
    assert got == {0: "x", 1: "updated", 2: "x", 3: "x"}


def test_noop_mor_write_keeps_fast_paths(cat, spark):
    """A MoR update/delete matching ZERO rows must not register an empty
    delete file: snap.delete_files stays empty, so the next MoR write
    still takes the O(matched-rows) fast path instead of degrading to a
    full cow-materialize forever."""
    t = cat.create_table("db.noop", ORDERS_DDL)
    t.append(seed_df(spark))
    t.set_property("write.update.mode", "merge-on-read")
    t.set_property("write.delete.mode", "merge-on-read")
    t.set_property("write.delete.flavor", "position")
    files_before = {f.path for f in t.meta.snapshot().files}

    t.update("order_id = 999", {"amount": "amount * 2"})  # matches nothing
    snap = t.meta.snapshot()
    assert not snap.delete_files  # no empty delete file registered
    assert snap.summary.get("matched") == 0
    t.delete("order_id = 999")  # zero-match MoR position delete
    assert not t.meta.snapshot().delete_files
    # equality + vector flavors behave the same
    t.set_property("write.delete.flavor", "vector")
    t.delete("order_id = 999")
    assert not t.meta.snapshot().delete_files
    t.set_property("write.delete.flavor", "equality")
    t.set_property("write.delete.equality-columns", "order_id")
    t.delete("order_id = 999")
    assert not t.meta.snapshot().delete_files

    # the fast path is still available: a real MoR update appends + deletes
    # by position instead of rewriting, proving no downgrade happened
    t.update("order_id = 1", {"amount": "amount * 2"})
    snap = t.meta.snapshot()
    assert snap.summary.get("mode") == "merge-on-read"
    assert files_before <= {f.path for f in snap.files}  # carried over
    rows = {r["order_id"]: float(r["amount"]) for r in t.read().collect()}
    assert rows[1] == 2400.0 and rows[2] == 25.5


def test_deletion_vector_bitmap_is_offset_trimmed(cat, spark):
    """Deleting one high-position row must store a bitmap of O(span)
    words, not O(position): a single delete at row ~1e6 in one file keeps
    the delete parquet's word array at length 1."""
    t = cat.create_table("db.sparse", "k bigint, v string")
    n = 1_000_001
    t.append(spark.range(0, n, 1, 1).selectExpr("id as k", "'x' as v"))
    t.set_property("write.delete.mode", "merge-on-read")
    t.set_property("write.delete.flavor", "vector")
    t.delete(f"k = {n - 1}")  # single sorted file: position == k
    dfl = t.meta.snapshot().delete_files
    assert dfl and all(d.content == "vector" for d in dfl)
    dv = spark.read.parquet(*[t._abs(d.path) for d in dfl]).collect()
    assert len(dv) == 1
    row = dv[0]
    assert len(row["words"]) == 1  # trimmed: one word, not ~15,625
    assert row["offset"] == (n - 1) // 64
    assert row["cardinality"] == 1
    assert t.read().count() == n - 1
    assert t.scan(f"k = {n - 1}").count() == 0
    assert t.scan("k = 0").count() == 1  # positions below offset survive


# -- rewrite_manifests (round 9: metadata-side maintenance) ------------------


def test_manifest_ids_one_per_commit_and_carryover(cat, spark):
    """Each commit's fresh entries share ONE new manifest id; carried-over
    entries keep theirs (Iceberg reuses existing manifest files)."""
    t = cat.create_table("db.mf", ORDERS_DDL)
    t.append(seed_df(spark))
    t.append(seed_df(spark, [(10, 110, "cable", "5.00", "2024-04-01")]))
    groups = t.manifest_groups()
    assert len(groups) == 2
    snap1 = t.meta.snapshot(1)
    first_ids = {f.manifest_id for f in snap1.files}
    assert len(first_ids) == 1
    # the second snapshot carries snapshot-1 entries under their old id
    head_ids = {f.manifest_id for f in t.meta.snapshot().files}
    assert first_ids < head_ids


def test_rewrite_manifests_zero_data_io_and_history(cat, spark):
    """rewrite_manifests regroups entries without touching data files;
    time travel to the pre-rewrite snapshot still sees the old grouping."""
    t = cat.create_table("db.mfrw", ORDERS_DDL)
    for i in range(4):
        t.append(seed_df(spark, [(i, 100 + i, "x", "1.00", "2024-01-01")]))
    pre = t.meta.current_snapshot_id
    paths_before = {f.path for f in t.meta.snapshot().files}
    rows_before = sorted(tuple(r) for r in t.read().collect())
    assert len(t.manifest_groups()) == 4
    t.rewrite_manifests(target_manifests=2)
    assert {f.path for f in t.meta.snapshot().files} == paths_before
    assert len(t.manifest_groups()) == 2
    assert sorted(tuple(r) for r in t.read().collect()) == rows_before
    # history intact: the pre-rewrite snapshot still plans 4 manifests
    assert len(t.manifest_groups(t.meta.snapshot(pre))) == 4
    s = t.meta.snapshot()
    assert s.operation == "replace-manifests"
    assert s.summary["manifests-before"] == 4


def test_manifest_pruning_skips_clustered_manifests(cat, spark):
    """After a partition-clustered rewrite, a partition predicate plans a
    strict subset of manifests — and the pruned read stays row-correct."""
    t = cat.create_table(
        "db.mfprune", ORDERS_DDL, partition_by=["month(order_date)"]
    )
    months = ["2024-01-15", "2024-02-15", "2024-03-15", "2024-04-15"]
    for r in range(3):  # 3 interleaved appends, each spanning all months
        t.append(
            seed_df(
                spark,
                [
                    (r * 10 + i, 100 + i, "m", "1.00", d)
                    for i, d in enumerate(months)
                ],
            )
        )
    pred = "order_date >= DATE '2024-03-01' AND order_date < DATE '2024-04-01'"
    touched, total = t.plan_manifests(pred)
    assert (touched, total) == (3, 3)  # every manifest spans every month
    t.rewrite_manifests(target_manifests=4)
    touched2, total2 = t.plan_manifests(pred)
    assert total2 == 4 and touched2 < total2
    got = sorted(r["order_id"] for r in t.scan(pred).collect())
    assert got == [2, 12, 22]  # pruning is never load-bearing: rows exact


def test_manifest_agg_stats_decimal_strings_not_lexicographic():
    """ADVICE r9 (medium): footer stats pass through _json_safe, which
    stores Decimal as str — aggregating those with raw min()/max() is
    lexicographic (min('100.00','99.00') == '100.00'), inverting the
    manifest-level bound and pruning a manifest whose member files match.
    The aggregate must be taken under the same value order
    stats_may_match compares with, so the manifest check stays a strict
    relaxation of the per-file check."""
    from tutorial_iceberg_spark.lakehouse import metadata as M
    from tutorial_iceberg_spark.lakehouse import transforms as T
    from tutorial_iceberg_spark.lakehouse.table import LakeTable

    md = M.TableMetadata(
        table_uuid="u",
        name="t",
        location="/nowhere",
        schemas=[
            M.Schema(
                schema_id=0,
                fields=[
                    M.Field(id=1, name="id", type="bigint"),
                    M.Field(id=2, name="price", type="decimal(10,2)"),
                    M.Field(id=3, name="label", type="string"),
                ],
            )
        ],
        current_schema_id=0,
        partition_specs=[M.PartitionSpec(spec_id=0, fields=[])],
        current_spec_id=0,
        snapshots=[],
        current_snapshot_id=None,
        properties={},
        last_field_id=3,
        last_snapshot_id=0,
    )

    def df(path, price_lo, price_hi):
        return M.DataFile(
            path=path,
            rows=10,
            bytes=1,
            schema_id=0,
            spec_id=0,
            stats={
                "price": [price_lo, price_hi],  # _json_safe(Decimal) -> str
                "id": [1, 100],
                "label": ["alpha", "omega"],
            },
        )

    group = [df("a", "99.00", "99.90"), df("b", "100.00", "250.00")]
    # price 99.5 lives inside file a; the lexicographic aggregate
    # ['100.00', '99.90'] coerces to [100.0, 99.9] and wrongly prunes it
    summary = M.manifest_summary(md, group)

    def may_match(pred):
        return LakeTable._summary_may_match(md, summary, T.parse_conjuncts(pred))

    keep = may_match("price = 99.5")
    assert keep, "manifest with a matching file must not be pruned"
    # the aggregate still prunes what the per-file checks all prune
    assert not may_match("price > 300")
    assert not may_match("price < 98")
    # string columns keep their (correct) lexicographic aggregate
    assert not may_match("label = 'zzz'")
    assert may_match("label = 'delta'")


def test_cas_retry_restamps_manifest_ids(cat, spark, monkeypatch):
    """ADVICE r9 (low): a conflicted commit attempt has already stamped
    the new DataFiles' manifest_id from the STALE counter; the rebased
    retry must restamp them, or two different commits' entries silently
    share one manifest group (skewing plan_manifests counts)."""
    from tutorial_iceberg_spark.lakehouse import metadata as M

    t = cat.create_table("db.casretry", ORDERS_DDL)
    t.append(seed_df(spark))
    t2 = LakeTable(spark, t.location)
    real_commit = M.commit_metadata
    fired = {"done": False}

    def racing_commit(location, md):
        if not fired["done"]:
            fired["done"] = True
            # a concurrent winner lands between this writer's metadata
            # load and its CAS -> the CAS below must conflict
            t2.append(
                seed_df(spark, [(99, 999, "winner", "9.99", "2024-05-05")])
            )
        return real_commit(location, md)

    monkeypatch.setattr(M, "commit_metadata", racing_commit)
    t.append(seed_df(spark, [(50, 500, "loser", "5.00", "2024-06-06")]))
    assert fired["done"]

    snap = t.meta.snapshot()
    by_commit = {}  # product_name marker -> manifest ids of its files
    for f in snap.files:
        names = f.stats.get("product_name")
        marker = names[0] if names else "?"
        by_commit.setdefault(marker, set()).add(f.manifest_id)
    # winner's and the retried loser's entries live in DISTINCT manifests
    assert by_commit["winner"].isdisjoint(by_commit["loser"]), by_commit
    # and three commits -> three manifest groups
    assert len({f.manifest_id for f in snap.files}) == 3


def test_drop_column_semantics(cat, spark):
    """DROP COLUMN is metadata-only, never resurrects via same-name
    re-add (field ids are not reused), and refuses the unsafe cases:
    current-spec partition source, equality-delete key, last column."""
    t = cat.create_table(
        "db.dropcol", ORDERS_DDL, partition_by=["month(order_date)"]
    )
    t.append(seed_df(spark))
    files_before = {f.path for f in t.meta.snapshot().files}

    t.drop_column("product_name")
    assert "product_name" not in t.read().columns
    # metadata-only: zero data IO
    assert {f.path for f in t.meta.snapshot().files} == files_before
    # same-name re-add gets a NEW field id: old values must NOT resurrect
    t.add_column("product_name", "string", default="redacted")
    vals = {r["product_name"] for r in t.read().collect()}
    assert vals == {"redacted"}
    # time travel (current-schema read, consistent with rename semantics)
    first = t.meta.snapshots[0].snapshot_id
    assert t.read(snapshot_id=first).count() == len(ROWS)

    # refusals
    with pytest.raises(ValueError, match="partition source"):
        t.drop_column("order_date")
    with pytest.raises(ValueError, match="no column"):
        t.drop_column("ghost")
    t2 = cat.create_table("db.dropcol2", "k bigint")
    t2.append(spark.createDataFrame([(1,), (2,)], "k bigint"))
    with pytest.raises(ValueError, match="only column"):
        t2.drop_column("k")
    # equality-delete key: MoR delete file joins the read frame on the
    # column name, so dropping it must refuse until those expire
    t3 = cat.create_table("db.dropcol3", ORDERS_DDL)
    t3.append(seed_df(spark))
    t3.set_property("write.delete.mode", "merge-on-read")
    t3.delete("customer_id = 101")  # delete file keys on order_id (field 1)
    with pytest.raises(ValueError, match="equality"):
        t3.drop_column("order_id")
    t3.drop_column("customer_id")  # not a delete key: drop is fine
    assert "customer_id" not in t3.read().columns


def test_promote_column_semantics(cat, spark):
    """Type promotion (r10 verdict Next #4): metadata-only widening —
    old int32/float32 files read back as bigint/double with zero data
    IO; narrowing and cross-family changes refuse; time travel still
    reads pre-promotion snapshots."""
    t = cat.create_table(
        "db.promote",
        "k int, price float, amount decimal(10,2), tag string",
    )
    from decimal import Decimal

    t.append(
        spark.createDataFrame(
            [(1, 1.5, Decimal("10.00"), "a"), (2, 2.5, Decimal("20.00"), "b")],
            "k int, price float, amount decimal(10,2), tag string",
        )
    )
    files_before = {f.path for f in t.meta.snapshot().files}
    t.promote_column("k", "bigint")
    t.promote_column("price", "double")
    t.promote_column("amount", "decimal(16,2)")
    # metadata-only: same files, new read types
    assert {f.path for f in t.meta.snapshot().files} == files_before
    got = t.read()
    types = dict(got.dtypes)
    assert types["k"] == "bigint" and types["price"] == "double"
    assert types["amount"] == "decimal(16,2)"
    rows = {r["k"]: r for r in got.collect()}
    assert rows[1]["price"] == 1.5 and str(rows[2]["amount"]) == "20.00"
    # field id is KEPT (promotion is not drop+add)
    by_name = {f.name: f.id for f in t.meta.schema().fields}
    old_ids = {f.name: f.id for f in t.meta.schema(0).fields}
    assert by_name["k"] == old_ids["k"]
    # new appends land wide; both generations union cleanly
    t.append(
        spark.createDataFrame(
            [(3_000_000_000, 3.5, Decimal("30.00"), "c")],
            "k bigint, price double, amount decimal(16,2), tag string",
        )
    )
    assert t.read().count() == 3
    assert {r["k"] for r in t.read().collect()} == {1, 2, 3_000_000_000}
    # time travel to the pre-promotion snapshot still works
    first = t.meta.snapshots[0].snapshot_id
    assert t.read(snapshot_id=first).count() == 2

    # refusals: narrowing, cross-family, scale change, same type, ghost
    for name, bad in (
        ("k", "int"),  # same after promotion? k is bigint now -> narrowing
        ("price", "float"),
        ("tag", "bigint"),
        ("amount", "decimal(16,4)"),
        ("amount", "decimal(12,2)"),
        ("k", "bigint"),  # already bigint
    ):
        with pytest.raises(ValueError):
            t.promote_column(name, bad)
    with pytest.raises(ValueError, match="no column"):
        t.promote_column("ghost", "bigint")


def test_promote_bucket_source_keeps_prepromotion_rows(cat, spark):
    """ADVICE r11 (high): promoting an int bucket[N]-source column to
    bigint must NOT flip bucket pruning onto pre-promotion files — the
    writer hashed them with Spark's int32 xxhash64 encoding, which
    differs from hashLong, so a planner using the CURRENT type would
    compute the wrong bucket and silently prune matching files. The gate
    has to key on each file's WRITTEN-time type (md.schema(f.schema_id)),
    making the promotion safe for reads AND for the DML paths that ride
    _candidates (delete/update)."""
    t = cat.create_table(
        "db.promobucket", "k int, v string", partition_by=["bucket(4, k)"]
    )
    keys = list(range(1, 17))
    t.append(
        spark.createDataFrame([(k, f"v{k}") for k in keys], "k int, v string")
    )
    n_files = len(t.meta.snapshot().files)
    assert n_files >= 2  # rows spread across buckets
    t.promote_column("k", "bigint")
    # every pre-promotion row must still be reachable by equality scan
    for k in keys:
        got = t.scan(f"k = {k}").collect()
        assert [r["v"] for r in got] == [f"v{k}"], f"k={k} vanished"
    # post-promotion files ARE written under bigint and must still prune
    t.append(
        spark.createDataFrame([(100 + k, f"w{k}") for k in keys], "k bigint, v string")
    )
    md = t.meta
    snap = md.snapshot()
    new_files = [f for f in snap.files if f.schema_id == md.current_schema_id]
    assert new_files, "expected post-promotion files under the new schema"
    cands = t._candidates(md, snap, "k = 101")
    assert len(cands) < len(snap.files)  # bucket pruning live for new files
    assert [r["v"] for r in t.scan("k = 101").collect()] == ["w1"]
    # DML through _candidates stays row-exact across the boundary
    t.delete("k = 3")
    assert t.scan("k = 3").count() == 0
    assert t.read().count() == 2 * len(keys) - 1


def test_changelog_across_expired_boundary_fails_loudly(cat, spark):
    """CDC failure honesty (r10 verdict Next #8): a consumer resuming
    from an EXPIRED snapshot must get a loud error from every changelog
    surface — never an empty read that diffs into 'everything is an
    INSERT'."""
    from tutorial_iceberg_spark.lakehouse.queries import snapshot_changelog

    t = cat.create_table("db.cdc_expire", ORDERS_DDL)
    t.append(seed_df(spark))
    first = t.meta.snapshot().snapshot_id
    t.append(seed_df(spark, rows=[(9, 109, "webcam", "89.99", "2024-04-01")]))
    t.append(seed_df(spark, rows=[(10, 110, "dock", "49.99", "2024-04-02")]))
    t.expire_snapshots(older_than_ms=2**62, keep_last=2)  # expires `first`
    assert t.meta.snapshot(first) is None, "fixture must actually expire"
    with pytest.raises(ValueError, match="expired"):
        t.read(snapshot_id=first)
    with pytest.raises(ValueError, match="expired"):
        t.incremental_read(first)
    with pytest.raises(ValueError, match="expired"):
        snapshot_changelog(t, first, ["order_id"]).collect()
    # live boundary still works
    live = t.meta.snapshots[0].snapshot_id
    assert t.incremental_read(live).count() == 1


def test_empty_part_files_stay_out_of_manifest(cat, spark):
    """A write task with no rows makes Spark emit an empty schema-carrier
    part file; zero-row files carry no column stats so they can never be
    pruned — the 100x narrow-merge probe measured one being rewritten by
    every later merge. They must not enter the manifest (reads lose
    nothing: they hold no rows)."""
    t = cat.create_table("db.emptyparts", ORDERS_DDL)
    # 3 rows over 8 partitions -> at least 5 empty write tasks
    t.append(seed_df(spark, rows=ROWS[:3]).repartition(8))
    snap = t.meta.snapshot()
    assert snap.files, "non-empty append must produce files"
    assert all(f.rows > 0 for f in snap.files), [
        (f.path, f.rows) for f in snap.files
    ]
    assert t.read().count() == 3
    # every manifest entry carries key stats -> the merge planner can
    # bound-check ALL files (no permanent unknown-stats candidates)
    assert all("order_id" in f.stats for f in snap.files)


def test_merge_branch_leaves_branch_history_grouping_intact(cat, spark):
    """ADVICE r13 (low): merge_branch used to restamp manifest_id on
    DataFile objects ALIASED into the branch's historical snapshots in
    the same TableMetadata — the committed metadata then rewrote the
    branch history's manifest grouping (time-travel/branch reads of
    those snapshots planned under the wrong units). Entries must be
    copied before restamping."""
    t = cat.create_table("db.bmalias", "k bigint, tag string")
    t.append(spark.createDataFrame([(1, "seed")], "k bigint, tag string"))
    t.create_branch("ingest")
    t.append_to_branch(
        "ingest", spark.createDataFrame([(2, "br")], "k bigint, tag string")
    )
    t.append(spark.createDataFrame([(3, "main")], "k bigint, tag string"))
    md_before = t.meta
    head_id = md_before.refs["ingest"]
    grouping_before = {
        f.path: f.manifest_id for f in md_before.snapshot(head_id).files
    }
    t.merge_branch("ingest")
    md_after = t.meta
    # the branch head snapshot's COMMITTED grouping is byte-identical
    grouping_after = {
        f.path: f.manifest_id for f in md_after.snapshot(head_id).files
    }
    assert grouping_after == grouping_before
    # and the merge snapshot's own entries got a FRESH manifest id
    merge_snap = md_after.snapshot()
    assert merge_snap.operation == "merge"
    merged_paths = {
        f.path for f in merge_snap.files
    } - {f.path for f in md_after.snapshot(merge_snap.parent_id).files}
    merge_ids = {
        f.manifest_id for f in merge_snap.files if f.path in merged_paths
    }
    assert merge_ids and merge_ids.isdisjoint(set(grouping_before.values()))


def test_orphan_sweep_protects_pending_prepare_files(cat, spark):
    """ADVICE r13 (low): files referenced by a pending 2PC prepared
    version must never be orphan candidates — a txn whose stage-to-decide
    span exceeds grace_s would lose its data files yet still commit."""
    a = cat.create_table("db.orphtx", "k bigint, v string")
    a.append(spark.createDataFrame([(1, "x")], "k bigint, v string"))
    t = cat.transaction()
    t.append(
        "db.orphtx", spark.createDataFrame([(2, "y")], "k bigint, v string")
    )
    claimed = t._prepare_once()
    from tutorial_iceberg_spark.lakehouse import metadata as M_

    loc, v = claimed[0]
    pend = M_.read_metadata_version(loc, v)
    staged = {f.path for s in pend.snapshots for f in s.files}
    assert staged  # the prepare references its staged files
    # age every data file far past any grace window
    for root, _dirs, names in os.walk(a.location):
        for n in names:
            if n.endswith(".parquet"):
                os.utime(os.path.join(root, n), (1, 1))
    removed = a.remove_orphan_files(grace_s=0.0)
    # pending prepare's files survive a zero-grace sweep (only true
    # orphans — e.g. empty schema-carrier part files excluded from the
    # manifest — may go)
    assert staged.isdisjoint(removed), (staged, removed)
    # txn still commits cleanly and reads back whole
    t._decide(claimed)
    assert sorted(r["k"] for r in a.read().collect()) == [1, 2]


def test_rest_rejects_path_traversal_and_maps_create_race_to_409(
    cat, spark, monkeypatch
):
    """ADVICE r13 (medium+low): request-supplied namespace/table names
    must be validated before joining into warehouse paths (traversal ->
    400), and a create-create race whose loser fails the v1 CAS maps to
    409 (Iceberg AlreadyExistsException), not a generic 500."""
    import urllib.error

    from tutorial_iceberg_spark.lakehouse import metadata as M_
    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
    )

    with RestCatalogServer(cat) as srv:
        client = RestCatalogClient(srv.base_url)
        client.create_namespace("safe")
        for bad_ns in (["../escape"], ["a/b"], [".."], ["/abs"], [""]):
            try:
                client.create_namespace(*bad_ns)
                raise AssertionError(f"expected 400 for namespace {bad_ns}")
            except urllib.error.HTTPError as e:
                assert e.code == 400, bad_ns
        for bad_tbl in ("../escape", "a/b", "..", "/abs"):
            try:
                client.create_table("safe", bad_tbl, [{"name": "k", "type": "bigint"}])
                raise AssertionError(f"expected 400 for table {bad_tbl!r}")
            except urllib.error.HTTPError as e:
                assert e.code == 400, bad_tbl
        # nothing escaped the warehouse
        parent = os.path.dirname(cat.warehouse)
        assert not os.path.exists(os.path.join(parent, "escape"))
        # create-create race: rival claims v1 between the exists-check
        # and the loser's CAS -> 409
        orig = M_.commit_metadata

        def racing(loc, md, pending_txn=None):
            if loc.endswith("race_t") and not getattr(racing, "fired", False):
                racing.fired = True
                rival = M_.new_table_metadata(
                    "safe.race_t", loc, [M_.Field(1, "k", "bigint")]
                )
                orig(loc, rival)
            return orig(loc, md, pending_txn)

        monkeypatch.setattr(M_, "commit_metadata", racing)
        try:
            client.create_table("safe", "race_t", [{"name": "k", "type": "bigint"}])
            raise AssertionError("expected 409 for racing create")
        except urllib.error.HTTPError as e:
            assert e.code == 409


def test_rest_append_front_door_races_rebase_on_409(cat, spark):
    """r14 verdict Next #5: snapshot commits THROUGH the catalog service.
    N threads rest_append concurrently; each 409 loser rebases its
    assert-ref-snapshot-id requirement and retries — every batch lands
    exactly once, and the server-side snapshots are byte-equivalent to
    native commits (read through the ordinary engine path)."""
    import threading

    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
        rest_append,
    )

    with RestCatalogServer(cat) as srv:
        client = RestCatalogClient(srv.base_url)
        client.create_namespace("fd")
        client.create_table(
            "fd", "t", [{"name": "k", "type": "bigint"}, {"name": "tag", "type": "string"}]
        )
        t = cat.load_table("fd.t")
        # stage all frames up front (Spark is not thread-friendly inside
        # the racing section on local mode)
        frames = [
            spark.createDataFrame([(i, f"w{i}")], "k bigint, tag string")
            for i in range(4)
        ]
        errors: list[Exception] = []

        def writer(i: int) -> None:
            try:
                rest_append(client, t, "fd", "t", frames[i], retries=20)
            except Exception as e:  # pragma: no cover - surfaced below
                errors.append(e)

        ths = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
        for th in ths:
            th.start()
        for th in ths:
            th.join()
        assert not errors, errors
        assert sorted(r["k"] for r in t.read().collect()) == [0, 1, 2, 3]
        md = t.meta
        assert len(md.snapshots) == 4
        assert all(s.summary.get("via") == "rest-catalog" for s in md.snapshots)


def test_rest_validates_names_on_commit_get_delete_routes(spark, tmp_path):
    """ADVICE r14 low: the r13 _safe_name fix covered only the create
    routes; commit-table/GET-table/DELETE-table joined raw URL
    components, so ns='..' reached any table-shaped directory outside
    the warehouse (e.g. a sibling scratch warehouse). All table routes
    must 400 on unsafe components and leave the outside table untouched."""
    import urllib.error

    from tutorial_iceberg_spark.lakehouse import metadata as M_
    from tutorial_iceberg_spark.lakehouse.catalog import LakeCatalog
    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
    )

    wh = os.path.join(str(tmp_path), "wh")
    os.makedirs(wh)
    cat2 = LakeCatalog(spark, wh)
    # a real table OUTSIDE the warehouse, exactly where ns='..' lands
    victim_loc = os.path.join(str(tmp_path), "victim")
    vmd = M_.new_table_metadata(
        "victim", victim_loc, [M_.Field(1, "k", "bigint")]
    )
    M_.commit_metadata(victim_loc, vmd)
    victim_v = M_.current_version(victim_loc)

    with RestCatalogServer(cat2) as srv:
        client = RestCatalogClient(srv.base_url)
        for method, path, body in (
            ("GET", "/v1/namespaces/../tables/victim", None),
            ("GET", "/v1/namespaces/../tables", None),
            (
                "POST",
                "/v1/namespaces/../tables/victim",
                {
                    "requirements": [],
                    "updates": [
                        {"action": "set-properties", "updates": {"pwned": "1"}}
                    ],
                },
            ),
            ("DELETE", "/v1/namespaces/../tables/victim", None),
        ):
            try:
                if method == "GET":
                    client._get(path)
                else:
                    client._send(method, path, body)
                raise AssertionError(f"expected 400 for {method} {path}")
            except urllib.error.HTTPError as e:
                assert e.code == 400, (method, path, e.code)
    # the outside table is untouched: same version, no properties
    assert M_.current_version(victim_loc) == victim_v
    assert os.path.isdir(os.path.join(victim_loc, "metadata"))
    assert M_.read_metadata(victim_loc).properties == {}


def test_rest_overwrite_and_delete_files_front_door(cat, spark):
    """r14 verdict Next #3: row-level commits through the catalog
    service. rest_merge runs the local merge computation but the
    SERVICE constructs the overwrite snapshot; delete-files drops whole
    files; stale requirements and stale removed-paths both map to 409."""
    import urllib.error

    from tutorial_iceberg_spark.lakehouse import metadata as M_
    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
        rest_append,
        rest_merge,
    )

    with RestCatalogServer(cat) as srv:
        client = RestCatalogClient(srv.base_url)
        client.create_namespace("od")
        client.create_table(
            "od", "t", [{"name": "k", "type": "bigint"}, {"name": "v", "type": "string"}]
        )
        t = cat.load_table("od.t")
        rest_append(
            client, t, "od", "t",
            spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"),
        )
        rest_append(
            client, t, "od", "t",
            spark.createDataFrame([(3, "c")], "k bigint, v string"),
        )
        stale_sid = t.meta.current_snapshot_id
        # MERGE through the front door: update k=2, insert k=4
        rest_merge(
            client, t, "od", "t",
            spark.createDataFrame([(2, "B"), (4, "d")], "k bigint, v string"),
            on="k",
        )
        assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [
            (1, "a"), (2, "B"), (3, "c"), (4, "d"),
        ]
        md = t.meta
        assert md.snapshot().summary.get("via") == "rest-catalog"
        assert md.snapshot().summary.get("op") == "overwrite-files"
        assert md.snapshot().operation == "overwrite"
        # stale assert-ref-snapshot-id -> 409
        try:
            client.commit_table(
                "od", "t",
                updates=[{"action": "delete-files", "removed_by_manifest": {}}],
                requirements=[
                    {"type": "assert-ref-snapshot-id", "snapshot-id": stale_sid}
                ],
            )
            raise AssertionError("expected 409 for stale requirement")
        except urllib.error.HTTPError as e:
            assert e.code == 409
        # removed path not in the current snapshot -> 409 (stale view)
        try:
            client.commit_table(
                "od", "t",
                updates=[{
                    "action": "delete-files",
                    "removed_by_manifest": {
                        str(md.snapshot().files[0].manifest_id):
                            ["data/does-not-exist.parquet"],
                    },
                }],
            )
            raise AssertionError("expected 409 for stale removed path")
        except urllib.error.HTTPError as e:
            assert e.code == 409
        # delete-files happy path: append a dedicated file for k=5, then
        # drop exactly that file. (The r16 single-join merge writes its
        # output as one coalesced file, so the merge result no longer
        # guarantees a k=3-only file — the fixture now creates the
        # whole-file granularity this action needs instead of relying on
        # the merge's physical layout.)
        rest_append(
            client, t, "od", "t",
            spark.createDataFrame([(5, "e")], "k bigint, v string"),
        )
        md = t.meta
        doomed: dict[str, list[str]] = {}
        for f in md.snapshot().files:
            if str(f.stats.get("k", ["", ""])[0]) == "5":
                doomed.setdefault(str(f.manifest_id), []).append(f.path)
        assert doomed
        client.commit_table(
            "od", "t",
            updates=[{"action": "delete-files", "removed_by_manifest": doomed}],
            requirements=[{
                "type": "assert-ref-snapshot-id",
                "snapshot-id": md.current_snapshot_id,
            }],
        )
        assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [
            (1, "a"), (2, "B"), (3, "c"), (4, "d"),
        ]
        assert t.meta.snapshot().operation == "delete"


def test_rest_merge_rebases_on_midflight_409(cat, spark, monkeypatch):
    """r14 verdict Next #3's race clause: a rival commit lands between
    rest_merge's plan and its POST — the first overwrite attempt 409s
    (requirement fails server-side), rest_merge re-plans on fresh state
    and the retry wins. Nothing from the losing attempt leaks into the
    table."""
    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
        rest_append,
        rest_merge,
    )

    with RestCatalogServer(cat) as srv:
        client = RestCatalogClient(srv.base_url)
        client.create_namespace("rc")
        client.create_table(
            "rc", "t", [{"name": "k", "type": "bigint"}, {"name": "v", "type": "string"}]
        )
        t = cat.load_table("rc.t")
        rest_append(
            client, t, "rc", "t",
            spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"),
        )
        rival = spark.createDataFrame([(5, "e")], "k bigint, v string")
        orig_commit = client.commit_table
        attempts = {"overwrite": 0}

        def racing(ns, tbl, updates, requirements=None):
            if updates and updates[0].get("action") == "overwrite-files":
                attempts["overwrite"] += 1
                if attempts["overwrite"] == 1:
                    # rival lands AFTER the merge planned, BEFORE its POST
                    rest_append(client, t, "rc", "t", rival)
            return orig_commit(ns, tbl, updates, requirements)

        monkeypatch.setattr(client, "commit_table", racing)
        rest_merge(
            client, t, "rc", "t",
            spark.createDataFrame([(2, "B"), (4, "d")], "k bigint, v string"),
            on="k",
        )
        assert attempts["overwrite"] == 2  # first 409'd, retry won
        assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [
            (1, "a"), (2, "B"), (4, "d"), (5, "e"),
        ]


def test_hour_evolution_time_travel_and_pruning(cat, spark):
    """The lake_hour_partition_evolution invariants, moved out of the
    query builder (r14 verdict Next #5, same discipline as the r6
    tag-pinned move): (a) time travel to the pre-evolution snapshot
    reproduces the spec-0 state across the spec change; (b) an
    hour-range scan prunes BOTH spec generations to a strict subset."""
    rows = [
        (i, f"2024-01-{1 + i % 12:02d} {i % 24:02d}:30:00", float(i))
        for i in range(200)
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts_s string, value double"
    ).selectExpr("event_id", "CAST(ts_s AS timestamp_ntz) AS ts", "value")
    t = cat.create_table(
        "db.hour_evo_gate", "event_id bigint, ts timestamp_ntz, value double"
    )
    early = ev.filter("ts < TIMESTAMP '2024-01-07 00:00:00'")
    t.append(early)
    pre_evolution = t.meta.current_snapshot_id
    t.add_partition_field("hour(ts)")
    t.append(ev.filter("ts >= TIMESTAMP '2024-01-07 00:00:00'"))
    # (a) time travel across the spec change
    assert t.read(snapshot_id=pre_evolution).count() == early.count()
    # (b) both generations prune to a strict subset
    from tutorial_iceberg_spark.lakehouse import metadata as M
    pred = (
        "ts >= TIMESTAMP '2024-01-07 03:00:00' "
        "AND ts < TIMESTAMP '2024-01-07 15:00:00'"
    )
    md = t.meta
    snap = md.snapshot()
    cands = t._candidates(md, snap, pred)
    assert 0 < len(cands) < M.entry_count(snap.files)
    got = sorted(r["event_id"] for r in t.scan(pred).collect())
    want = sorted(r["event_id"] for r in ev.filter(pred).collect())
    assert got == want


def test_datasource_prunes_files(cat, spark):
    """r14 verdict Next #7 plan gate: the tis_lake Python Data Source
    must plan exactly the pruned file set. Checked twice: (1) the
    reader's partitions() output directly (unit level, since Spark runs
    planning in a separate worker process); (2) behaviorally through
    real Spark — every file OUTSIDE the pruned plan is deleted from
    disk and the filtered query still answers correctly, so a pruned
    file is provably never opened."""
    import datetime

    from pyspark.sql.types import StructType
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from tutorial_iceberg_spark.lakehouse import metadata as M
    from tutorial_iceberg_spark.lakehouse.datasource import (
        LakeDataSource,
        _LakeReader,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(LakeDataSource)
    t = cat.create_table(
        "db.ds_gate", "k bigint, d date, v string", partition_by=["month(d)"]
    )
    rows = [(i, f"2024-0{1 + i % 4}-10", f"v{i}") for i in range(120)]
    df = spark.createDataFrame(rows, "k bigint, d string, v string").selectExpr(
        "k", "CAST(d AS date) AS d", "v"
    )
    t.append(df)
    # (1) unit plan gate: reader partitions == pruned candidate set
    schema = StructType.fromDDL("k bigint, d date, v string")
    rdr = _LakeReader(schema, {"path": t.location})
    rdr.pushFilters([
        GreaterThanOrEqual(("d",), datetime.date(2024, 3, 1)),
        LessThan(("d",), datetime.date(2024, 4, 1)),
    ])
    parts = rdr.partitions()
    total = M.entry_count(t.meta.snapshot().files)
    assert 0 < len(parts) < total, (len(parts), total)
    planned = {p.abs_path for p in parts}
    # (2) behavioral: delete everything outside the plan; query answers
    pred = "d >= DATE '2024-03-01' AND d < DATE '2024-04-01'"
    want = sorted(r["k"] for r in df.filter(pred).collect())
    for f in t.meta.snapshot().files:
        ap = os.path.join(t.location, f.path)
        if ap not in planned:
            os.unlink(ap)
    out = spark.read.format("tis_lake").load(t.location).filter(pred)
    assert sorted(r["k"] for r in out.collect()) == want
    # and the source refuses MoR snapshots honestly
    t2 = cat.create_table("db.ds_mor", "k bigint, v string")
    t2.append(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    t2.set_property("write.delete.mode", "merge-on-read")
    t2.delete("k = 1")
    try:
        spark.read.format("tis_lake").load(t2.location).collect()
        raise AssertionError("expected MoR refusal")
    except Exception as e:
        assert "merge-on-read" in str(e)


def test_datasource_infile_filter_pushdown(cat, spark):
    """r16 optimization gate: pushed comparisons reach INSIDE surviving
    files — _read_slice hands them to the pyarrow reader (row-group
    pruning + vectorized row filtering), so a file kept alive by one
    matching row no longer decodes every row. Result-neutral by
    construction (Spark re-evaluates all filters above the scan); this
    pins (1) the slice actually carries resolved filters, (2) the worker
    read returns exactly the predicate-matching subset, (3) a slice with
    MoR deletes skips in-file filtering (positions must not shift)."""
    import datetime

    from pyspark.sql.types import StructType
    from pyspark.sql.datasource import GreaterThanOrEqual

    from tutorial_iceberg_spark.lakehouse.datasource import (
        _LakeReader,
        _read_slice,
    )

    t = cat.create_table("db.ds_infile", "k bigint, d date, v string")
    rows = [(i, f"2024-0{1 + i % 4}-10", f"v{i}") for i in range(120)]
    df = spark.createDataFrame(rows, "k bigint, d string, v string").selectExpr(
        "k", "CAST(d AS date) AS d", "v"
    )
    t.append(df)
    schema = StructType.fromDDL("k bigint, d date, v string")
    rdr = _LakeReader(schema, {"path": t.location})
    rdr.pushFilters([GreaterThanOrEqual(("d",), datetime.date(2024, 3, 1))])
    parts = rdr.partitions()
    assert parts and all(p.filters for p in parts), "slices carry filters"
    got = sum(
        b.num_rows for p in parts for b in _read_slice(schema, p)
    )
    want = df.filter("d >= DATE '2024-03-01'").count()
    total = df.count()
    assert got == want < total, (got, want, total)
    # a slice with MoR deletes must NOT filter in-file (mask positions)
    import dataclasses

    p0 = dataclasses.replace(parts[0], deletes=[("pos", [0])])
    full_minus_one = sum(b.num_rows for b in _read_slice(schema, p0))
    file_rows = sum(b.num_rows for b in _read_slice(schema, dataclasses.replace(parts[0], deletes=None, filters=None)))
    assert full_minus_one == file_rows - 1


def test_datasource_writer_contract(cat, spark):
    """tis_lake write path (r15): append + overwrite land through the
    rec-driven CAS with footer stats; empty tasks ship no manifest
    entry; partitioned tables and misaligned frames are refused."""
    from tutorial_iceberg_spark.lakehouse.datasource import LakeDataSource

    spark.dataSource.register(LakeDataSource)
    t = cat.create_table("db.ds_write_gate", "k bigint, v string")
    t.append(spark.createDataFrame([(1, "a")], "k bigint, v string"))
    # many partitions, most empty: zero-row tasks must leave no entry
    df = spark.createDataFrame(
        [(2, "b"), (3, "c")], "k bigint, v string"
    ).repartition(8)
    df.write.format("tis_lake").mode("append").save(t.location)
    md = t.meta
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3]
    assert md.snapshot().summary.get("via") == "datasource"
    assert all(f.rows > 0 for f in md.snapshot().files)
    # footer stats present on the DS-written entries -> pruning works
    ds_files = [f for f in md.snapshot().files if "ds-" in f.path]
    assert ds_files and all("k" in f.stats for f in ds_files)
    # overwrite replaces the table in one snapshot
    spark.createDataFrame([(9, "z")], "k bigint, v string").write.format(
        "tis_lake"
    ).mode("overwrite").save(t.location)
    assert [r["k"] for r in t.read().collect()] == [9]
    assert t.meta.snapshot().operation == "overwrite"
    # refusals: partitioned table; misaligned frame
    tp = cat.create_table(
        "db.ds_write_part", "k bigint, d date", partition_by=["month(d)"]
    )
    try:
        spark.createDataFrame(
            [(1, "2024-01-01")], "k bigint, d string"
        ).selectExpr("k", "CAST(d AS date) AS d").write.format(
            "tis_lake"
        ).mode("append").save(tp.location)
        raise AssertionError("expected partitioned-table refusal")
    except Exception as e:
        assert "partitioned" in str(e)
    try:
        spark.createDataFrame([(1,)], "wrong bigint").write.format(
            "tis_lake"
        ).mode("append").save(t.location)
        raise AssertionError("expected schema refusal")
    except Exception as e:
        assert "columns" in str(e)


def test_datasource_writer_rebases_on_cas_conflict(cat, spark, monkeypatch):
    """A rival native append lands between the DS writer's metadata read
    and its CAS — the commit loop must rebase, restamp, and land both
    writers' rows exactly once."""
    from pyspark.sql.types import StructType

    from tutorial_iceberg_spark.lakehouse import metadata as M
    from tutorial_iceberg_spark.lakehouse.datasource import _LakeWriter

    t = cat.create_table("db.ds_cas_race", "k bigint, v bigint")
    t.append(spark.createDataFrame([(1, 10)], "k bigint, v bigint"))
    w = _LakeWriter(
        StructType.fromDDL("k bigint, v bigint"), {"path": t.location}, False
    )
    import pyarrow as pa

    msg = w.write(iter([pa.record_batch({"k": [2], "v": [20]})]))
    rival_df = spark.createDataFrame([(9, 90)], "k bigint, v bigint")
    orig = M.commit_metadata
    fired = {}

    def racing(loc, md, pending_txn=None):
        if loc == t.location and "r" not in fired:
            fired["r"] = True
            t.append(rival_df)  # rival wins the slot first
        return orig(loc, md, pending_txn)

    monkeypatch.setattr(M, "commit_metadata", racing)
    w.commit([msg])
    monkeypatch.undo()
    assert fired
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 9]
    # exactly one DS snapshot, exactly one manifest entry for it
    snaps = t.meta.snapshots
    assert [s.summary.get("via") for s in snaps].count("datasource") == 1


def test_datasource_writer_refuses_mistyped_frame(cat, spark):
    """ADVICE r15 (medium): the tis_lake writer must compare TYPES, not
    just names — a name-matching frame of the wrong type would stage
    parquet whose physical types diverge from the table schema and fail
    (or miscast) far from the writing job. Spelling synonyms (long vs
    bigint) must still pass."""
    from tutorial_iceberg_spark.lakehouse.datasource import (
        LakeDataSource,
        _norm_type,
    )

    spark.dataSource.register(LakeDataSource)
    t = cat.create_table("db.ds_type_gate", "k bigint, v double")
    try:
        spark.createDataFrame([(1, "oops")], "k bigint, v string").write.format(
            "tis_lake"
        ).mode("append").save(t.location)
        raise AssertionError("expected type refusal")
    except Exception as e:
        assert "types" in str(e) and "v" in str(e)
    # the table stayed untouched by the refused write
    assert t.meta.snapshot() is None
    # correct types (and spelling synonyms) pass
    spark.createDataFrame([(1, 2.5)], "k long, v double").write.format(
        "tis_lake"
    ).mode("append").save(t.location)
    assert [(r["k"], r["v"]) for r in t.read().collect()] == [(1, 2.5)]
    assert _norm_type("long") == _norm_type("bigint")
    assert _norm_type("array<integer>") == _norm_type("array<int>")
    assert _norm_type("decimal") == _norm_type("decimal(10, 0)")
    assert _norm_type("int") != _norm_type("bigint")


def test_datasource_writer_stamps_write_time_schema_id(cat, spark):
    """ADVICE r15 (low): entries must carry the schema id the files were
    WRITTEN under (captured at writer init), not whatever
    current_schema_id says at commit time — a rename/evolution landing
    mid-write would otherwise silently materialize read-time defaults
    instead of the written data."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    from tutorial_iceberg_spark.lakehouse.datasource import _LakeWriter

    t = cat.create_table("db.ds_schema_stamp", "k bigint, v double")
    t.append(spark.createDataFrame([(1, 1.0)], "k bigint, v double"))
    w = _LakeWriter(
        StructType.fromDDL("k bigint, v double"), {"path": t.location}, False
    )
    written_sid = t.meta.current_schema_id
    msg = w.write(iter([pa.record_batch({"k": [2], "v": [2.5]})]))
    t.rename_column("v", "w")  # evolution lands while the write job runs
    w.commit([msg])
    md = t.meta
    ds_entries = [f for f in md.snapshot().files if "ds-" in f.path]
    assert ds_entries and all(f.schema_id == written_sid for f in ds_entries)
    # field-id resolution finds the written data under the OLD name
    assert sorted((r["k"], r["w"]) for r in t.read().collect()) == [
        (1, 1.0), (2, 2.5),
    ]


def test_datasource_schema_pin_survives_concurrent_evolution(cat, spark):
    """ADVICE r15 (low): schema() and partitions() must plan against ONE
    metadata resolution — a rename committing between them used to make
    read() resolve columns against the newer schema and KeyError
    task-side. The pin rides the pickled DataSource instance."""
    from pyspark.sql.types import StructType

    from tutorial_iceberg_spark.lakehouse.datasource import LakeDataSource

    t = cat.create_table("db.ds_pin", "k bigint, v string")
    t.append(spark.createDataFrame([(1, "a")], "k bigint, v string"))
    ds = LakeDataSource({"path": t.location})
    ddl = ds.schema()  # pins (snapshot, schema) here
    t.rename_column("v", "w")  # evolution lands before planning
    rdr = ds.reader(StructType.fromDDL(ddl))
    parts = rdr.partitions()
    assert len(parts) == 1
    rows = []
    for batch in rdr.read(parts[0]):
        rows.extend(batch.to_pylist())
    assert rows == [{"k": 1, "v": "a"}]


def test_datasource_reads_mor_position_and_vector(cat, spark):
    """r15 verdict Next #3: position deletes and V3 deletion vectors are
    readable through spark.read.format('tis_lake') — resolved at
    planning, applied as an Arrow row mask — and compose with both the
    count(*) fast path and pushed-filter pruning. Equality deletes stay
    refused (covered in test_datasource_prunes_files)."""
    from tutorial_iceberg_spark.lakehouse.datasource import LakeDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(LakeDataSource)
    rows = [(i, float(i), f"v{i}") for i in range(20)]
    ddl = "k bigint, x double, v string"

    t = cat.create_table("db.ds_mor_pos_rd", ddl)
    t.append(spark.createDataFrame(rows, ddl))
    t.set_property("write.delete.mode", "merge-on-read")
    t.set_property("write.delete.flavor", "position")
    t.delete("k >= 15")
    out = spark.read.format("tis_lake").load(t.location)
    assert sorted(r["k"] for r in out.collect()) == list(range(15))
    assert out.count() == 15  # zero-column count(*) path applies the mask

    t2 = cat.create_table("db.ds_mor_dv_rd", ddl)
    t2.append(spark.createDataFrame(rows, ddl))
    t2.set_property("write.delete.mode", "merge-on-read")
    t2.set_property("write.delete.flavor", "vector")
    t2.delete("k IN (0, 3, 64)")  # 64: beyond the first bitmap word
    out2 = spark.read.format("tis_lake").load(t2.location)
    want = [i for i in range(20) if i not in (0, 3)]
    assert sorted(r["k"] for r in out2.collect()) == want
    # mask composes with a pushed filter (pruning never resurrects rows)
    got = sorted(
        r["k"] for r in out2.filter("x >= 2.0").collect()
    )
    assert got == [i for i in want if i >= 2]


def test_rest_merge_into_empty_table(cat, spark):
    """ADVICE r15 (low): an insert-only MERGE into a table with NO
    snapshot must land (as an append through the front door), not loop
    all 10 retries against the server's unconditional 409."""
    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
        rest_merge,
    )

    with RestCatalogServer(cat) as srv:
        client = RestCatalogClient(srv.base_url)
        client.create_namespace("em")
        client.create_table(
            "em", "t",
            [{"name": "k", "type": "bigint"}, {"name": "v", "type": "string"}],
        )
        t = cat.load_table("em.t")
        rest_merge(
            client, t, "em", "t",
            spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"),
            on="k",
        )
        assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [
            (1, "a"), (2, "b"),
        ]
        md = t.meta
        assert md.snapshot().summary.get("via") == "rest-catalog"
        assert md.snapshot().operation == "append"


def test_rest_row_level_commit_is_rec_driven(cat, spark):
    """r15 verdict Next #1: overwrite-files/delete-files named by
    manifest must parse ONLY the touched manifests server-side —
    untouched manifests carry by record, kept entries of the touched
    manifest survive. Gated by the manifest-entry read counter (same
    instrument as the warm-append zero-reads gate)."""
    from tutorial_iceberg_spark.lakehouse import metadata as M_
    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
    )

    with RestCatalogServer(cat) as srv:
        client = RestCatalogClient(srv.base_url)
        client.create_namespace("rd")
        client.create_table(
            "rd", "t",
            [{"name": "k", "type": "bigint"}, {"name": "v", "type": "string"}],
        )
        t = cat.load_table("rd.t")
        # one append with 2 files (the touched manifest must keep a
        # survivor), then several single-file appends (the untouched
        # manifests that must never be parsed)
        t.append(
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "k bigint, v string"
            ).repartition(2)
        )
        for i in range(3, 8):
            t.append(spark.createDataFrame([(i, f"v{i}")], "k bigint, v string"))
        md = t.meta
        snap = md.snapshot()
        n_manifests = len({f.manifest_id for f in snap.files})
        assert n_manifests >= 4
        doomed = next(
            f for f in snap.files if str(f.stats.get("k", ["", ""])[0]) == "1"
        )
        M_._manifest_cache.clear()
        reads0 = M_.manifest_file_reads
        client.commit_table(
            "rd", "t",
            updates=[{
                "action": "delete-files",
                "removed_by_manifest": {str(doomed.manifest_id): [doomed.path]},
            }],
            requirements=[{
                "type": "assert-ref-snapshot-id",
                "snapshot-id": md.current_snapshot_id,
            }],
        )
        server_reads = M_.manifest_file_reads - reads0
        # exactly the ONE touched manifest, never the whole table
        assert server_reads == 1, server_reads
        assert sorted(r["k"] for r in t.read().collect()) == [2, 3, 4, 5, 6, 7]
        assert t.meta.snapshot().operation == "delete"
        # stale claims 409 in the rec path too: wrong manifest id, and
        # a path missing from its named manifest
        import urllib.error

        md2 = t.meta
        for bad in (
            {"999": ["data/nope.parquet"]},
            {str(doomed.manifest_id): [doomed.path]},  # already removed
        ):
            try:
                client.commit_table(
                    "rd", "t",
                    updates=[{"action": "delete-files", "removed_by_manifest": bad}],
                )
                raise AssertionError("expected 409 for stale rec claim")
            except urllib.error.HTTPError as e:
                assert e.code == 409


def test_rest_row_level_commit_needs_committed_list_records(cat, spark):
    """delete-files/overwrite-files name removed files by the current
    snapshot's list records only: a request without
    ``removed_by_manifest`` is malformed, and one that follows another
    snapshot update in the same commit (a snapshot with no list on disk
    yet) is refused — both 400, and the table is left as it was."""
    import urllib.error

    from tutorial_iceberg_spark.lakehouse import metadata as M_
    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
    )

    with RestCatalogServer(cat) as srv:
        client = RestCatalogClient(srv.base_url)
        client.create_namespace("rl")
        client.create_table(
            "rl", "t",
            [{"name": "k", "type": "bigint"}, {"name": "v", "type": "string"}],
        )
        t = cat.load_table("rl.t")
        t.append(spark.createDataFrame([(1, "a")], "k bigint, v string"))
        before = t.meta.current_snapshot_id
        md = t.meta
        staged = M_.write_manifest(
            M_.metadata_dir(t.location), 0,
            t._write_files(
                t._align(
                    spark.createDataFrame([(2, "b")], "k bigint, v string"),
                    md.schema(),
                ),
                md,
            ),
        )
        for updates in (
            [{"action": "delete-files", "removed_paths": []}],
            [
                {"action": "append-files", "manifest": staged},
                {"action": "delete-files", "removed_by_manifest": {}},
            ],
        ):
            try:
                client.commit_table("rl", "t", updates=updates)
                raise AssertionError("expected 400")
            except urllib.error.HTTPError as e:
                assert e.code == 400
        assert t.meta.current_snapshot_id == before
        assert [r["k"] for r in t.read().collect()] == [1]


def test_datasource_writer_rest_409_rebase(cat, spark, monkeypatch):
    """r15 verdict Next #6 race clause: a rival native append lands
    between the REST-routed DS writer's metadata read and its POST — the
    first commit-table 409s (stale assert-ref), the writer re-reads and
    retries the SAME staged manifest, and both writers' rows land
    exactly once."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    from tutorial_iceberg_spark.lakehouse.datasource import _LakeWriter
    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
    )

    with RestCatalogServer(cat) as srv:
        client = RestCatalogClient(srv.base_url)
        client.create_namespace("dsr")
        client.create_table(
            "dsr", "t",
            [{"name": "k", "type": "bigint"}, {"name": "v", "type": "bigint"}],
        )
        t = cat.load_table("dsr.t")
        t.append(spark.createDataFrame([(1, 10)], "k bigint, v bigint"))
        w = _LakeWriter(
            StructType.fromDDL("k bigint, v bigint"),
            {
                "path": t.location,
                "catalog_uri": srv.base_url,
                "namespace": "dsr",
                "table": "t",
            },
            False,
        )
        msg = w.write(iter([pa.record_batch({"k": [2], "v": [20]})]))
        orig = RestCatalogClient.commit_table
        fired = {}

        def racing(self, ns, tbl, updates, requirements=None):
            if "r" not in fired and any(
                u.get("action") == "append-files" for u in updates
            ):
                fired["r"] = True
                t.append(  # rival lands after the writer read metadata
                    spark.createDataFrame([(9, 90)], "k bigint, v bigint")
                )
            return orig(self, ns, tbl, updates, requirements)

        monkeypatch.setattr(RestCatalogClient, "commit_table", racing)
        w.commit([msg])
        monkeypatch.undo()
        assert fired
        assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 9]
        # the DS snapshot was constructed by the SERVICE
        assert t.meta.snapshot().summary.get("via") == "rest-catalog"
        # option validation: catalog_uri without namespace/table refuses
        try:
            _LakeWriter(
                StructType.fromDDL("k bigint, v bigint"),
                {"path": t.location, "catalog_uri": srv.base_url},
                False,
            )
            raise AssertionError("expected option refusal")
        except ValueError as e:
            assert "namespace" in str(e)
        # overwrite through the front door refuses with guidance
        try:
            _LakeWriter(
                StructType.fromDDL("k bigint, v bigint"),
                {
                    "path": t.location,
                    "catalog_uri": srv.base_url,
                    "namespace": "dsr",
                    "table": "t",
                },
                True,
            )
            raise AssertionError("expected overwrite refusal")
        except ValueError as e:
            assert "rest_merge" in str(e)


def test_txn_and_merge_branch_carry_main_by_manifest_record(cat, spark):
    """A transaction append and a merge_branch commit carry main's files
    by manifest-list record like append does: the commit parses no
    carried manifest (the transaction) or only the branch's changed one
    (merge_branch), however many manifests main references."""
    from tutorial_iceberg_spark.lakehouse import metadata as M

    def one(k):
        return spark.createDataFrame([(k, f"v{k}")], "k bigint, v string")

    t = cat.create_table("db.reccarry", "k bigint, v string")
    for i in range(12):
        t.append(one(i))
    assert len(t.manifest_groups()) == 12
    txn = cat.transaction()
    txn.append("db.reccarry", one(100))
    M._manifest_cache.clear()
    reads0 = M.manifest_file_reads
    txn.commit()
    assert M.manifest_file_reads - reads0 == 0
    assert t.read().count() == 13

    t.create_branch("side")
    t.append_to_branch("side", one(200))
    t.append(one(300))  # main moves: the merge cannot fast-forward
    M._manifest_cache.clear()
    reads0 = M.manifest_file_reads
    t.merge_branch("side")
    assert M.manifest_file_reads - reads0 <= 1  # the branch's new manifest
    assert t.meta.snapshot().operation == "merge"
    assert sorted(r["k"] for r in t.read().collect()) == list(range(12)) + [100, 200, 300]


def test_datasource_timestamp_stats_prune_keeps_boundary_rows(cat, spark):
    """The tis_lake writer's pyarrow footer stats store a timestamp
    column's bounds UTC-aware ('... +00:00'); scan and DELETE on the
    boundary instant must match the unpruned read."""
    from tutorial_iceberg_spark.lakehouse.datasource import LakeDataSource

    spark.dataSource.register(LakeDataSource)
    t = cat.create_table("db.ds_ts_prune", "k bigint, ts timestamp")
    spark.createDataFrame(
        [(1, "2024-01-01 03:00:00"), (2, "2024-01-01 05:00:00")],
        "k bigint, ts string",
    ).selectExpr("k", "CAST(ts AS timestamp) AS ts").coalesce(1).write.format(
        "tis_lake"
    ).mode("append").save(t.location)
    [f] = t.meta.snapshot().files
    assert f.stats["ts"][0].endswith("+00:00")  # the aware footer stat
    for pred in (
        "ts <= TIMESTAMP '2024-01-01 03:00:00'",
        "ts = TIMESTAMP '2024-01-01 03:00:00'",
        "ts >= TIMESTAMP '2024-01-01 05:00:00'",
    ):
        want = sorted(r["k"] for r in t.read().filter(pred).collect())
        assert want and sorted(r["k"] for r in t.scan(pred).collect()) == want, pred
    t.delete("ts = TIMESTAMP '2024-01-01 03:00:00'")
    assert [r["k"] for r in t.read().collect()] == [2]
