"""REAL-thread concurrency stress for the commit machinery.

tests/test_transaction.py proves the multi-table protocol by stepping
through interleavings BY HAND (phase-by-phase, single thread). These
tests run actual racing threads — N writers CAS-contending on the same
version slots, multi-table transactions claiming overlapping table sets
in OPPOSITE orders, and an expired-txn resolver reaping live
transactions mid-flight — and assert the only invariants that matter at
a 1000-writer deployment:

- single-table: every append that RETURNED is durable exactly once; the
  version chain has no holes; nothing a failed append staged is visible.
- multi-table: a transaction's tables commit together or not at all —
  no reader, at ANY poll instant, ever observes table A's new state
  alongside table B's old one for the same txid; committer-reported
  outcomes match on-disk state exactly.

The emulation's CAS is os.link create-if-absent on a shared local FS, so
local threads exercise the identical race surface a multi-process or
multi-executor deployment would (the kernel arbitrates link() the same
way either way). Reference scope: the tutorial's catalog week stops at
single-table commits (README.md:1049-1068); this stresses the layer
above it.
"""

from __future__ import annotations

import os
import tempfile
import threading

import pytest

from tutorial_iceberg_spark.lakehouse import metadata as M
from tutorial_iceberg_spark.lakehouse.catalog import LakeCatalog
from tutorial_iceberg_spark.lakehouse.transaction import (
    LakeTransaction,
    TransactionAborted,
)


@pytest.fixture()
def cat(spark):
    with tempfile.TemporaryDirectory() as wh:
        yield LakeCatalog(spark, wh)


def _version_chain(table) -> list[int]:
    mdir = M.metadata_dir(table.location)
    return sorted(
        int(n[1:].split(".")[0])
        for n in os.listdir(mdir)
        if n.startswith("v") and n.endswith(".metadata.json")
    )


def _snapshot_txids(table) -> set:
    md = table.meta
    return {
        s.summary["txn"] for s in md.snapshots if s.summary.get("txn")
    }


def test_threaded_single_table_appends_lose_nothing(cat, spark):
    """12 appends from 6 racing threads on ONE table: all 12 rows land
    exactly once and the version chain is contiguous (every CAS loser
    rebased onto the winner instead of clobbering or skipping a slot)."""
    cat.create_table("db.race", "k bigint, tag string")
    n_threads, per_thread = 6, 2
    errors: list[Exception] = []

    def writer(i: int) -> None:
        t = cat.load_table("db.race")  # own handle: no shared state
        for j in range(per_thread):
            tag = f"w{i}-{j}"
            try:
                t.append(
                    spark.createDataFrame(
                        [(i * 100 + j, tag)], "k bigint, tag string"
                    )
                )
            except Exception as e:  # pragma: no cover - failure detail
                errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(i,)) for i in range(n_threads)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, f"appends failed under contention: {errors!r}"

    t = cat.load_table("db.race")
    tags = [r["tag"] for r in t.read().collect()]
    assert sorted(tags) == sorted(
        f"w{i}-{j}" for i in range(n_threads) for j in range(per_thread)
    ), "a committed append lost rows or duplicated them"
    chain = _version_chain(t)
    # v1 = create, then one version per append: contiguous, no holes
    assert chain == list(range(1, n_threads * per_thread + 2))
    # every snapshot's manifest group is distinct (the restamp-on-rebase
    # contract: two commits must never share a manifest id)
    md = t.meta
    seen_manifests: set = set()
    for s in md.snapshots:
        ids = {f.manifest_id for f in s.files} - seen_manifests
        seen_manifests |= {f.manifest_id for f in s.files}
        assert ids or not s.files


def test_threaded_multi_table_txns_commit_atomically(cat, spark):
    """8 transactions race over the SAME two tables, half claiming them
    in (a, b) order and half in (b, a) — the classic deadlock/partial-
    application shape. A polling reader watches metadata the whole time.

    Invariants: (1) the poller, reading a THEN b, never finds a txid in
    a that is missing from the later b read (commit is one atomic flip,
    so visibility can only grow between the two reads); (2) after the
    dust settles, committed txids are in BOTH tables and aborted txids
    in NEITHER; (3) what the committer threads report matches disk."""
    a = cat.create_table("db.txa", "k bigint, tag string")
    b = cat.create_table("db.txb", "k bigint, tag string")
    n_txns = 8
    outcomes: dict[str, str] = {}
    txids: dict[int, str] = {}
    lock = threading.Lock()
    done = threading.Event()
    poll_violations: list[str] = []

    def committer(i: int) -> None:
        order = ["db.txa", "db.txb"] if i % 2 == 0 else ["db.txb", "db.txa"]
        txn = cat.transaction()
        with lock:
            txids[i] = txn.txid
        df = spark.createDataFrame([(i, f"txn-{i}")], "k bigint, tag string")
        try:
            for ident in order:
                txn.append(ident, df)
            txn.commit()
            out = "committed"
        except TransactionAborted:
            out = "aborted"
        with lock:
            outcomes[txn.txid] = out

    def poller() -> None:
        while not done.is_set():
            in_a = _snapshot_txids(a)
            in_b = _snapshot_txids(b)
            missing = in_a - in_b
            if missing:
                poll_violations.append(
                    f"txids visible in txa but not in the LATER txb read: "
                    f"{sorted(missing)}"
                )
                return

    threads = [
        threading.Thread(target=committer, args=(i,)) for i in range(n_txns)
    ]
    watcher = threading.Thread(target=poller)
    watcher.start()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    done.set()
    watcher.join()

    assert not poll_violations, poll_violations
    committed = {t for t, o in outcomes.items() if o == "committed"}
    aborted = {t for t, o in outcomes.items() if o == "aborted"}
    assert committed | aborted == set(txids.values())
    # under 10 rebase retries and this contention level at least one
    # transaction must get through; all 8 usually do
    assert committed, "every transaction aborted — rebase-retry is broken"

    in_a, in_b = _snapshot_txids(a), _snapshot_txids(b)
    assert in_a == committed and in_b == committed, (
        "disk state disagrees with committer-reported outcomes: "
        f"a={sorted(in_a)} b={sorted(in_b)} committed={sorted(committed)}"
    )
    tags_a = sorted(r["tag"] for r in a.read().collect())
    tags_b = sorted(r["tag"] for r in b.read().collect())
    assert tags_a == tags_b, "data rows split a transaction across tables"
    id_by_tx = {v: k for k, v in txids.items()}
    assert tags_a == sorted(f"txn-{id_by_tx[t]}" for t in committed)
    # no pending markers survive the storm; every leftover decision
    # record is an ABORTED attempt (winning committed records are gone
    # via finalize; a committed txn may leave aborted records from its
    # burned intermediate attempts), and every aborted txn left its
    # durable outcome on disk
    assert a.meta.pending_txn is None and b.meta.pending_txn is None
    txns_dir = os.path.join(cat.warehouse, "_txns")
    leftover = os.listdir(txns_dir)
    for n in leftover:
        assert M.txn_decision(os.path.join(txns_dir, n)) == "aborted", n
    leftover_txids = {n.split(".a")[0] for n in leftover}
    assert aborted <= leftover_txids, (sorted(leftover_txids), sorted(aborted))
    assert leftover_txids <= set(txids.values())
    # owners settled their burned claims at conflict time, so one sweep
    # (with the safety floor lowered post-quiescence) collects everything
    old_floor = LakeTransaction.GC_MIN_AGE
    LakeTransaction.GC_MIN_AGE = 0.0
    try:
        LakeTransaction.resolve_expired(cat.warehouse, grace_sec=0.0)
    finally:
        LakeTransaction.GC_MIN_AGE = old_floor
    assert not os.listdir(txns_dir)


def test_resolver_racing_live_committers_never_splits_a_txn(cat, spark):
    """A zero-grace resolve_expired() reaps LIVE transactions while four
    committers run — the harshest decision race (every prepare is
    instantly eligible for abort). First-creator-wins must hold: each
    transaction lands on exactly one outcome, commits it fully on both
    tables or on neither, and the committer's exception matches disk."""
    a = cat.create_table("db.txa", "k bigint, tag string")
    b = cat.create_table("db.txb", "k bigint, tag string")
    outcomes: dict[int, str] = {}
    lock = threading.Lock()
    done = threading.Event()

    def committer(i: int) -> None:
        txn = cat.transaction()
        df = spark.createDataFrame([(i, f"txn-{i}")], "k bigint, tag string")
        try:
            txn.append("db.txa", df)
            txn.append("db.txb", df)
            txn.commit()
            out = "committed"
        except TransactionAborted:
            out = "aborted"
        with lock:
            outcomes[i] = out

    reaper_errors: list[Exception] = []

    def reaper() -> None:
        # resolve_expired must survive claims being settled/finalized
        # mid-scan by their live owners (content changes under the walk)
        while not done.is_set():
            try:
                LakeTransaction.resolve_expired(cat.warehouse, grace_sec=0.0)
            except Exception as e:  # pragma: no cover - failure detail
                reaper_errors.append(e)
                return

    threads = [threading.Thread(target=committer, args=(i,)) for i in range(4)]
    rp = threading.Thread(target=reaper)
    rp.start()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    done.set()
    rp.join()
    assert not reaper_errors, f"resolver crashed mid-race: {reaper_errors!r}"
    # one final sweep so any undecided leftovers resolve before checking
    LakeTransaction.resolve_expired(cat.warehouse, grace_sec=0.0)

    committed = {i for i, o in outcomes.items() if o == "committed"}
    tags_a = {r["tag"] for r in a.read().collect()}
    tags_b = {r["tag"] for r in b.read().collect()}
    assert tags_a == tags_b, "resolver split a transaction across tables"
    assert tags_a == {f"txn-{i}" for i in committed}, (
        "disk state disagrees with committer outcomes under reaping: "
        f"disk={sorted(tags_a)} committed={sorted(committed)}"
    )
    # both tables writable again afterwards (no stuck claimed slots)
    a.append(spark.createDataFrame([(99, "after")], "k bigint, tag string"))
    assert "after" in {r["tag"] for r in a.read().collect()}


def test_hint_flip_storm_has_no_shared_temp_collision(cat, spark):
    """Pure-metadata commit storm: 16 threads x 15 commits on one table,
    every winner flipping the advisory hint concurrently. The hint flip
    must use a UNIQUE temp name per call — with a shared temp path,
    writer B's os.replace consumes the file writer A is about to rename,
    and A raises FileNotFoundError AFTER its commit durably succeeded
    (caught live by the round-12 commit-herd probe at 8 committers;
    SCALE_PROBE.md, probes/r12/probe_txn_contention.json). No Spark rows:
    this storms the metadata layer alone, so collisions are frequent."""
    t = cat.create_table("db.hint", "k bigint")
    n_threads, per_thread = 16, 15
    errors: list[Exception] = []

    def committer() -> None:
        for _ in range(per_thread):
            while True:
                md = M.read_metadata(t.location)
                try:
                    M.commit_metadata(t.location, md)
                    break
                except M.CommitConflictError:
                    continue
                except Exception as e:  # pragma: no cover - failure detail
                    errors.append(e)
                    return

    threads = [threading.Thread(target=committer) for _ in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, f"a successful commit raised: {errors!r}"
    assert M.current_version(t.location) == 1 + n_threads * per_thread
    # the hint file itself must be a clean integer (never torn/missing)
    with open(M._hint_path(t.location)) as f:
        assert 1 <= int(f.read().strip()) <= 1 + n_threads * per_thread


def test_txn_rebases_under_live_single_table_traffic(cat, spark):
    """A multi-table transaction commits while a plain single-table
    writer hammers one of its tables: the txn rebase-retries onto the
    live traffic (or aborts honestly), single appends never lose rows,
    and the shared table's version chain stays contiguous."""
    a = cat.create_table("db.txa", "k bigint, tag string")
    b = cat.create_table("db.txb", "k bigint, tag string")
    single_errors: list[Exception] = []

    def single_writer() -> None:
        t = cat.load_table("db.txa")
        for j in range(5):
            try:
                t.append(
                    spark.createDataFrame(
                        [(j, f"single-{j}")], "k bigint, tag string"
                    )
                )
            except Exception as e:  # pragma: no cover
                single_errors.append(e)

    sw = threading.Thread(target=single_writer)
    sw.start()
    txn = cat.transaction()
    df = spark.createDataFrame([(100, "txn")], "k bigint, tag string")
    txn.append("db.txa", df)
    txn.append("db.txb", df)
    txn_out = "committed"
    try:
        txn.commit()
    except TransactionAborted:
        txn_out = "aborted"
    sw.join()

    assert not single_errors, f"single appends failed: {single_errors!r}"
    tags_a = {r["tag"] for r in a.read().collect()}
    assert {f"single-{j}" for j in range(5)} <= tags_a
    if txn_out == "committed":
        assert "txn" in tags_a
        assert {r["tag"] for r in b.read().collect()} == {"txn"}
    else:
        assert "txn" not in tags_a
        assert b.read().count() == 0
    chain = _version_chain(a)
    assert chain == list(range(1, len(chain) + 1)), (
        f"holes in the shared table's version chain: {chain}"
    )


def _rival_on_first_replace(cat, spark, action):
    """commit_metadata wrapper: the first commit staging a 'replace'
    snapshot (compact's) first lets a rival writer win the slot."""
    orig = M.commit_metadata
    fired = {"done": False}

    def wrapper(location, md, pending_txn=None):
        snap = md.snapshot()
        if (
            not fired["done"]
            and snap is not None
            and snap.operation == "replace"
        ):
            fired["done"] = True
            action()
        return orig(location, md, pending_txn=pending_txn)

    return wrapper, orig


def test_compact_rebases_over_concurrent_append(cat, spark):
    """rewrite_data_files racing ingest — the permanent condition at
    scale. A conflict whose winner was a PURE APPEND must rebase: the
    appended file is carried untouched next to the rewrite outputs, and
    no rows are lost on either side."""
    t = cat.create_table("db.cmp", "k bigint, tag string")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, tag string"))

    def rival_append():
        cat.load_table("db.cmp").append(
            spark.createDataFrame([(3, "c")], "k bigint, tag string")
        )

    wrapper, orig = _rival_on_first_replace(cat, spark, rival_append)
    M.commit_metadata = wrapper
    try:
        t.compact(target_files=2, sort_by=["k"])
    finally:
        M.commit_metadata = orig
    rows = sorted((r["k"], r["tag"]) for r in t.read().collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")], "a row was lost"
    snap = t.meta.snapshot()
    assert snap.summary.get("rebased-over-appends") == 1
    assert snap.operation == "replace"


def test_compact_refuses_rebase_when_inputs_were_rewritten(cat, spark):
    """If the conflicting winner TOUCHED the rewrite's input files (a
    CoW delete here), rebasing would clobber its change — compact must
    raise instead, leaving the winner's state intact."""
    t = cat.create_table("db.cmp2", "k bigint, tag string")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, tag string"))

    def rival_cow_delete():
        cat.load_table("db.cmp2").delete("k = 1")

    wrapper, orig = _rival_on_first_replace(cat, spark, rival_cow_delete)
    M.commit_metadata = wrapper
    try:
        with pytest.raises(M.CommitConflictError):
            t.compact(target_files=2)
    finally:
        M.commit_metadata = orig
    # the winner's delete stands; nothing of the stale rewrite is visible
    assert sorted(r["k"] for r in t.read().collect()) == [2]


def test_compact_refuses_rebase_over_concurrent_mor_delete(cat, spark):
    """A concurrent MoR delete adds a delete file whose rows the stale
    rewrite has already materialized back in — rebasing would resurrect
    them. Must raise; the delete file keeps applying."""
    t = cat.create_table(
        "db.cmp3",
        "k bigint, tag string",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, tag string"))

    def rival_mor_delete():
        cat.load_table("db.cmp3").delete("k = 1")

    wrapper, orig = _rival_on_first_replace(cat, spark, rival_mor_delete)
    M.commit_metadata = wrapper
    try:
        with pytest.raises(M.CommitConflictError):
            t.compact(target_files=2)
    finally:
        M.commit_metadata = orig
    assert sorted(r["k"] for r in t.read().collect()) == [2]


def test_compact_refuses_rebase_over_concurrent_schema_change(cat, spark):
    """A metadata-only winner (ADD COLUMN) must also abort the rewrite:
    the outputs were written/aligned under the read-time schema, and a
    rebased 'replace' snapshot would stamp them with the winner's new
    schema_id. Must raise; the caller re-runs compaction on fresh state."""
    t = cat.create_table("db.cmp4", "k bigint, tag string")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, tag string"))

    def rival_add_column():
        cat.load_table("db.cmp4").add_column("extra", "bigint")

    wrapper, orig = _rival_on_first_replace(cat, spark, rival_add_column)
    M.commit_metadata = wrapper
    try:
        with pytest.raises(M.CommitConflictError):
            t.compact(target_files=2)
    finally:
        M.commit_metadata = orig
    # the winner's schema stands and the data is untouched
    md = t.meta
    assert "extra" in md.schema().names()
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]


def test_compact_never_duplicates_rows_against_racing_appends(cat, spark):
    """Compaction looping against live appenders — the r13 ADVICE race:
    compact() used to read table state TWICE (one load for `inputs`, a
    second via read()), so an append landing between the loads put its
    files in the rewrite output AND outside `inputs`, and the rebase then
    carried them a second time — silent row duplication. With the
    single-load fix, every row lands exactly once no matter how the
    interleavings fall."""
    t = cat.create_table("db.cmpdup", "k bigint, tag string")
    t.append(spark.createDataFrame([(0, "seed")], "k bigint, tag string"))
    n_appenders, per_thread = 3, 4
    errors: list[Exception] = []

    def appender(i: int) -> None:
        h = cat.load_table("db.cmpdup")
        for j in range(per_thread):
            try:
                h.append(
                    spark.createDataFrame(
                        [(i * 100 + j, f"a{i}-{j}")], "k bigint, tag string"
                    )
                )
            except Exception as e:  # pragma: no cover - failure detail
                errors.append(e)

    def compactor() -> None:
        h = cat.load_table("db.cmpdup")
        for _ in range(4):
            try:
                h.compact(target_files=2)
            except M.CommitConflictError:
                pass  # non-append winner or exhaustion: honest refusal

    ths = [
        threading.Thread(target=appender, args=(i,)) for i in range(n_appenders)
    ] + [threading.Thread(target=compactor)]
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    assert not errors, f"appends failed: {errors!r}"

    tags = [r["tag"] for r in t.read().collect()]
    expected = sorted(
        [f"a{i}-{j}" for i in range(n_appenders) for j in range(per_thread)]
        + ["seed"]
    )
    assert sorted(tags) == expected, (
        "compaction duplicated or lost rows against racing appends: "
        f"got {len(tags)} rows, expected {len(expected)}"
    )


def test_lakesql_call_rewrite_racing_insert(cat, spark):
    """Verdict r12 Next #7: drive the operational pair end-to-end through
    the SQL router — CALL rewrite_data_files racing INSERT INTO — so the
    rebase path is exercised at the surface users actually hit, not just
    the Python API."""
    from tutorial_iceberg_spark.lakehouse.sql import LakeSQL

    lsql = LakeSQL(spark, cat)
    lsql.sql("CREATE TABLE demo.db.ops (k BIGINT, tag STRING) USING iceberg")
    lsql.sql("INSERT INTO demo.db.ops VALUES (0, 'seed')")
    errors: list[Exception] = []

    def inserter(i: int) -> None:
        for j in range(3):
            try:
                lsql.sql(
                    f"INSERT INTO demo.db.ops VALUES ({i * 10 + j}, 's{i}-{j}')"
                )
            except Exception as e:  # pragma: no cover - failure detail
                errors.append(e)

    def maintainer() -> None:
        for _ in range(3):
            try:
                lsql.sql(
                    "CALL demo.system.rewrite_data_files('db.ops', 'sort', 'k')"
                )
            except M.CommitConflictError:
                pass  # honest refusal; operator re-runs on fresh state

    ths = [threading.Thread(target=inserter, args=(i,)) for i in range(2)] + [
        threading.Thread(target=maintainer)
    ]
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    assert not errors, f"SQL inserts failed under maintenance: {errors!r}"
    rows = lsql.sql("SELECT tag FROM demo.db.ops").collect()
    expected = sorted([f"s{i}-{j}" for i in range(2) for j in range(3)] + ["seed"])
    assert sorted(r["tag"] for r in rows) == expected


def test_expire_snapshots_racing_appends_never_loses_rows(cat, spark):
    """Maintenance expiry looping against live appenders (the r13
    commit-before-delete fix under real threads): every appended row
    must survive — a lost CAS must rebase the keep-set onto the winner's
    state instead of deleting files a kept snapshot references."""
    t = cat.create_table("db.expstress", "k bigint, tag string")
    t.append(spark.createDataFrame([(0, "seed")], "k bigint, tag string"))
    n_appenders, per_thread = 3, 3
    errors: list[Exception] = []

    def appender(i: int) -> None:
        h = cat.load_table("db.expstress")
        for j in range(per_thread):
            try:
                h.append(
                    spark.createDataFrame(
                        [(i * 100 + j, f"e{i}-{j}")], "k bigint, tag string"
                    )
                )
            except Exception as e:  # pragma: no cover - failure detail
                errors.append(e)

    def expirer() -> None:
        h = cat.load_table("db.expstress")
        for _ in range(5):
            try:
                h.expire_snapshots(keep_last=1)
            except M.CommitConflictError:
                pass  # exhausted against the append storm: fine, rerun

    ths = [
        threading.Thread(target=appender, args=(i,)) for i in range(n_appenders)
    ] + [threading.Thread(target=expirer)]
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    assert not errors, f"appends failed under expiry: {errors!r}"
    tags = sorted(r["tag"] for r in t.read().collect())
    assert tags == sorted(
        [f"e{i}-{j}" for i in range(n_appenders) for j in range(per_thread)]
        + ["seed"]
    ), "expiry deleted files a kept snapshot references"
    # and the current snapshot's files all exist on disk
    md = t.meta
    assert all(os.path.exists(t._abs(f.path)) for f in md.snapshot().files)
