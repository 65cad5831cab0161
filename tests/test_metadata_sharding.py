"""Sharded (format-2) metadata: commit IO is O(delta), not O(table).

r13 verdict Next #1: the previous format inlined every retained
snapshot's FULL file list into every ``v{N}.metadata.json`` — at 100 TB
(~10^6 files) that is a multi-GB driver-side write per commit. Format 2
moves each manifest's entries into an immutable content-addressed
sidecar (``metadata/manifest-{sha1}.json``) written once and carried by
reference, like real Iceberg's manifest lists (README.md:921-1028).

Invariants under test:
- a commit's metadata write volume scales with the DELTA (new files +
  snapshot headers), not with how many files the table already has;
- sidecars are immutable, content-addressed, shared across snapshots,
  and never rewritten by carries;
- every version file names one manifest list per snapshot, and every
  list record carries a nonzero manifest id and a write-time summary that
  equals the summary recomputed from the manifest's own entries;
- expiry/orphan maintenance collects dead sidecars without touching
  live or pending ones (the no-unlink discipline only covers VERSION
  files — manifests are content-addressed and never re-claimed by path,
  so the TOCTOU class cannot return through them).
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from tutorial_iceberg_spark.lakehouse import metadata as M
from tutorial_iceberg_spark.lakehouse.catalog import LakeCatalog


@pytest.fixture()
def cat(spark):
    with tempfile.TemporaryDirectory() as wh:
        yield LakeCatalog(spark, wh)


def _mdir_bytes(mdir: str) -> dict[str, int]:
    return {
        n: os.path.getsize(os.path.join(mdir, n))
        for n in os.listdir(mdir)
        if n != "version-hint.text"
    }


def _write_volume(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of metadata files CREATED by the step (all metadata files
    are immutable once linked, so created == written)."""
    return sum(size for n, size in after.items() if n not in before)


def _fake_files(md: M.TableMetadata, n: int, start: int) -> list[M.DataFile]:
    return [
        M.DataFile(
            path=f"data/fake/{start + i:08d}.parquet",
            rows=100,
            bytes=10_000,
            schema_id=md.current_schema_id,
            spec_id=md.current_spec_id,
            stats={"k": [str(start + i), str(start + i + 99)]},
        )
        for i in range(n)
    ]


def _append_commit(location: str, batch: int) -> None:
    """Metadata-only append of ``batch`` fake entries (no Spark IO): the
    same snapshot/commit path LakeTable.append drives."""
    md = M.read_metadata(location)
    cur = md.snapshot()
    base = list(cur.files) if cur else []
    new = _fake_files(md, batch, len(base))
    md.last_snapshot_id += 1
    md.last_manifest_id += 1
    for f in new:
        f.manifest_id = md.last_manifest_id
    md.snapshots.append(
        M.Snapshot(
            snapshot_id=md.last_snapshot_id,
            parent_id=md.current_snapshot_id,
            timestamp_ms=M.now_ms(),
            operation="append",
            schema_id=md.current_schema_id,
            spec_id=md.current_spec_id,
            added=base + new,
        )
    )
    md.current_snapshot_id = md.last_snapshot_id
    M.commit_metadata(location, md)


def _mk_meta_table(wh: str, name: str) -> str:
    loc = os.path.join(wh, "db", name)
    md = M.new_table_metadata(name, loc, [M.Field(1, "k", "bigint")])
    M.commit_metadata(loc, md)
    return loc


def test_commit_write_volume_is_o_delta_not_o_table(cat):
    """The headline property: committing the SAME batch onto a table
    with 50x more files must not write proportionally more metadata."""
    small = _mk_meta_table(cat.warehouse, "meta_small")
    _append_commit(small, 20)  # 20 files total
    big = _mk_meta_table(cat.warehouse, "meta_big")
    _append_commit(big, 1000)  # 1000 files total

    results = {}
    for loc in (small, big):
        mdir = M.metadata_dir(loc)
        before = _mdir_bytes(mdir)
        _append_commit(loc, 20)
        results[loc] = _write_volume(before, _mdir_bytes(mdir))
    # pre-sharding the big table's commit rewrote its full 1000-entry
    # list (~50x the small table's); sharded, both write one 20-entry
    # manifest + a snapshot header (the big header carries a couple more
    # manifest refs — allow 2x, not 50x)
    assert results[big] < results[small] * 2, results
    # and the carried 1000-entry manifest was referenced, not rewritten:
    # one new manifest per append commit (plus per-commit manifest lists)
    mdir = M.metadata_dir(big)
    manifests = [
        n for n in os.listdir(mdir)
        if n.startswith("manifest-") and not n.startswith("manifest-list-")
    ]
    assert len(manifests) == 2  # one per append commit


def test_carried_manifests_shared_across_snapshots_by_reference(cat):
    loc = _mk_meta_table(cat.warehouse, "meta_share")
    for _ in range(5):
        _append_commit(loc, 10)
    mdir = M.metadata_dir(loc)
    v = M.current_version(loc)
    with open(os.path.join(mdir, f"v{v}.metadata.json")) as f:
        d = json.load(f)
    assert d["format_version"] == 2
    snaps = d["snapshots"]
    # the version JSON names ONE manifest list per snapshot; the lists
    # name the manifests — snapshot k references k manifests, and
    # earlier manifests appear in later lists under the SAME ref
    # (carried by reference)
    lists = [M._load_manifest_list(mdir, s["manifest_list"]) for s in snaps]
    assert [len(recs) for recs in lists] == [1, 2, 3, 4, 5]
    first_ref = lists[0][0]["ref"]
    assert all(any(r["ref"] == first_ref for r in recs) for recs in lists)
    # exactly 5 manifest sidecars for 5 commits (no rewrite amplification)
    assert sum(
        n.startswith("manifest-") and not n.startswith("manifest-list-")
        for n in os.listdir(mdir)
    ) == 5
    # entries round-trip exactly
    md = M.read_metadata(loc)
    assert len(md.snapshot().files) == 50
    assert md.snapshot().files[0].stats["k"] == ["0", "99"]


def test_manifest_sidecars_are_content_addressed_and_immutable(cat):
    loc = _mk_meta_table(cat.warehouse, "meta_addr")
    _append_commit(loc, 7)
    mdir = M.metadata_dir(loc)
    (fname,) = [
        n for n in os.listdir(mdir)
        if n.startswith("manifest-") and not n.startswith("manifest-list-")
    ]
    import hashlib

    with open(os.path.join(mdir, fname)) as f:
        payload = f.read()
    assert fname == f"manifest-{hashlib.sha1(payload.encode()).hexdigest()}.json"
    # re-writing the identical group is a no-op (same name, one file)
    md = M.read_metadata(loc)
    snap = md.snapshot()
    ref = M.write_manifest(mdir, snap.files[0].manifest_id, list(snap.files))
    assert ref == fname
    assert sum(
        n.startswith("manifest-") and not n.startswith("manifest-list-")
        for n in os.listdir(mdir)
    ) == 1


def test_expire_collects_exclusive_manifests_keeps_shared(cat, spark):
    t = cat.create_table("db.meta_exp", "k bigint, v string")
    for i in range(4):
        t.append(spark.createDataFrame([(i, "x")], "k bigint, v string"))
    mdir = M.metadata_dir(t.location)

    def _manifests():
        return {
            n for n in os.listdir(mdir)
            if n.startswith("manifest-") and not n.startswith("manifest-list-")
        }

    before = _manifests()
    assert len(before) == 4
    deleted = t.expire_snapshots(keep_last=1)
    # the kept (latest) snapshot references ALL 4 manifests (appends
    # carry prior files), so none may be collected...
    assert _manifests() == before
    assert not any("/manifest-" in p and "manifest-list-" not in p for p in deleted)
    # ...but expired snapshots' manifest LISTS are exclusive and go
    assert any("manifest-list-" in p for p in deleted)
    # after compaction replaces the data files, expiry drops the old
    # manifests too
    t.compact(target_files=1)
    t.expire_snapshots(keep_last=1)
    after2 = _manifests()
    assert len(after2) == 1 and after2.isdisjoint(before)
    assert t.read().count() == 4


def test_orphan_sweep_collects_dead_manifests_not_live_or_pending(cat, spark):
    a = cat.create_table("db.meta_orph", "k bigint, v string")
    a.append(spark.createDataFrame([(1, "x")], "k bigint, v string"))
    mdir = M.metadata_dir(a.location)
    # a dead sidecar nothing references (e.g. stranded by a crash
    # between sidecar write and version link)
    dead = M.write_manifest(
        mdir, 99, _fake_files(a.meta, 3, 0)
    )
    # a pending 2PC prepare's sidecar IS referenced (by the claim above
    # current) and must survive even past grace
    t = cat.transaction()
    t.append("db.meta_orph", spark.createDataFrame([(2, "y")], "k bigint, v string"))
    claimed = t._prepare_once()
    pend_manifests = {
        n for n in os.listdir(mdir) if n.startswith("manifest-")
    } - {dead}  # includes manifest lists — both kinds must survive
    for n in os.listdir(mdir):
        os.utime(os.path.join(mdir, n), (1, 1))
    removed = a.remove_orphan_files(grace_s=0.0)
    assert os.path.join("metadata", dead) in removed
    live = {n for n in os.listdir(mdir) if n.startswith("manifest-")}
    assert pend_manifests <= live
    t._decide(claimed)
    assert sorted(r["k"] for r in a.read().collect()) == [1, 2]


def test_manifest_summaries_prune_equivalently_to_dynamic(cat):
    """Two-tier planning (r14): manifest-list recs carry a write-time
    pruning summary; it must equal the summary recomputed from the
    manifest's own entries and prune exactly like it, and scan
    candidates must never drop a per-file match. Randomized across
    stats ranges and ops."""
    import random

    from tutorial_iceberg_spark.lakehouse.table import LakeTable

    rng = random.Random(42)
    loc = _mk_meta_table(cat.warehouse, "meta_summ")
    # commits with disjoint-ish k ranges so pruning has teeth
    for c in range(6):
        md = M.read_metadata(loc)
        cur = md.snapshot()
        base = list(cur.files) if cur else []
        lo = c * 1000
        new = [
            M.DataFile(
                path=f"data/s/{c:02d}-{i:04d}.parquet",
                rows=10,
                bytes=1000,
                schema_id=md.current_schema_id,
                spec_id=md.current_spec_id,
                partition={},
                stats={"k": [str(lo + i * 10), str(lo + i * 10 + 9)]},
                manifest_id=0,
            )
            for i in range(rng.randint(3, 8))
        ]
        t = LakeTable(None, loc)
        t._new_snapshot(md, "append", base + new)
    t = LakeTable(None, loc)
    md = t.meta
    snap = md.snapshot()
    recs = t._snapshot_manifest_recs(md, snap)
    assert recs and all("summary" in r for r in recs.values())
    mdir = M.metadata_dir(loc)
    recomputed = {
        mid: M.manifest_summary(md, M._load_manifest(mdir, r["ref"]))
        for mid, r in recs.items()
    }
    assert all(recs[mid]["summary"] == s for mid, s in recomputed.items())
    checked = 0
    for pred in (
        "k = 1500", "k < 50", "k >= 5900", "k > 2000 AND k < 2500",
        "k = 999999", "k <= 0",
    ):
        from tutorial_iceberg_spark.lakehouse import transforms as T

        conjuncts = T.parse_conjuncts(pred)
        for mid, rec in recs.items():
            fresh = t._summary_may_match(md, recomputed[mid], conjuncts)
            summ = t._summary_may_match(md, rec["summary"], conjuncts)
            # full manifests: the two checks must agree exactly
            assert summ == fresh, (pred, mid, summ, fresh)
            checked += 1
        # and the end-to-end candidate set matches the per-file truth
        cands = {f.path for f in t._candidates(md, snap, pred)}
        brute = {
            f.path
            for f in snap.files
            if all(
                T.stats_may_match(f.stats.get("k"), op, val)
                for _, op, val in conjuncts
            )
        }
        assert brute <= cands  # pruning may keep extra, never drop a match
    assert checked >= 30
    # selective predicate actually prunes whole manifests via summaries
    touched, total = t.plan_manifests("k < 50")
    assert touched < total


def test_summary_survives_rename_and_skips_new_columns(cat, spark):
    """Field-id keying: renaming a column keeps its bounds usable; a
    column added after the summary exists never prunes (no bound)."""
    t = cat.create_table("db.meta_ren", "k bigint, v string")
    t.append(
        spark.createDataFrame([(i, "x") for i in range(10)], "k bigint, v string")
    )
    t.append(
        spark.createDataFrame(
            [(i, "y") for i in range(1000, 1010)], "k bigint, v string"
        )
    )
    touched, total = t.plan_manifests("k >= 1000")
    assert (touched, total) == (1, 2)
    t.rename_column("k", "key")
    touched, total = t.plan_manifests("key >= 1000")
    assert (touched, total) == (1, 2)
    t.add_column("extra", "bigint", default=5)
    touched, total = t.plan_manifests("extra = 5")
    assert touched == total  # no bound for the new field: never prunes
    assert t.scan("key >= 1000").count() == 10


def test_snapshot_files_is_a_plain_list_of_its_manifests_entries(cat):
    """A snapshot read from disk carries its manifest-list records, and
    ``files`` is a plain list of exactly those manifests' entries, in
    record order — counted from the records without loading them."""
    loc = _mk_meta_table(cat.warehouse, "meta_lazy")
    _append_commit(loc, 5)
    _append_commit(loc, 3)
    snap = M.read_metadata(loc).snapshot()
    assert snap.file_count == 8 and snap.row_count == 800
    mdir = M.metadata_dir(loc)
    want = [f for r in snap.manifests for f in M._load_manifest(mdir, r["ref"])]
    assert type(snap.files) is list
    assert snap.files == want and len(want) == 8
    assert snap.files is snap.files  # loaded once


def test_concurrent_first_reads_of_files_share_one_list(cat):
    """Racing first readers of an unloaded snapshot all get the same
    complete list (a reader must never see a half-built one)."""
    import sys
    import threading

    loc = _mk_meta_table(cat.warehouse, "meta_race")
    _append_commit(loc, 5)
    _append_commit(loc, 3)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(20):
            snap = M.read_metadata(loc).snapshot()
            got: list = []
            threads = [
                threading.Thread(target=lambda: got.append(snap.files))
                for _ in range(8)
            ]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=30)
            assert not any(th.is_alive() for th in threads)
            assert len(got) == 8
            assert all(g is got[0] for g in got) and len(got[0]) == 8
    finally:
        sys.setswitchinterval(old)


def test_pruned_scan_never_loads_pruned_manifest_entries(cat):
    """The lazy two-tier payoff: a summary-pruned scan must read ONLY
    the surviving manifests' entry files from disk."""
    from tutorial_iceberg_spark.lakehouse.table import LakeTable

    loc = _mk_meta_table(cat.warehouse, "meta_lazyio")
    for c in range(8):
        md = M.read_metadata(loc)
        cur = md.snapshot()
        base = list(cur.files) if cur else []
        new = [
            M.DataFile(
                path=f"data/z/{c:02d}-{i:02d}.parquet",
                rows=10,
                bytes=1000,
                schema_id=md.current_schema_id,
                spec_id=md.current_spec_id,
                stats={"k": [str(c * 100 + i), str(c * 100 + i)]},
                manifest_id=0,
            )
            for i in range(4)
        ]
        t = LakeTable(None, loc)
        t._new_snapshot(md, "append", base + new)
    # drop any cached entries so loads are observable, then scan cold
    M._manifest_cache.clear()
    M.__dict__["_manifest_cache_entries"] = 0
    t = LakeTable(None, loc)
    md = t.meta
    snap = md.snapshot()
    before = M.manifest_file_reads
    cands = t._candidates(md, snap, "k = 302")  # only commit 3's manifest
    loads = M.manifest_file_reads - before
    assert [f.path for f in cands] == ["data/z/03-02.parquet"]
    assert loads == 1, loads  # 7 of 8 manifests never parsed
    # planning alone is zero-entry-IO
    before = M.manifest_file_reads
    touched, total = t.plan_manifests("k = 302")
    assert (touched, total) == (1, 8)
    assert M.manifest_file_reads == before


def test_lazy_load_failure_is_retryable_without_duplication(cat):
    """A mid-materialization failure (a manifest a racing expiry
    collected) must leave the lazy list EMPTY so a retry reloads from
    scratch — the pre-fix staging bug duplicated already-extended
    manifests on retry."""
    loc = _mk_meta_table(cat.warehouse, "meta_lazyfail")
    _append_commit(loc, 4)
    _append_commit(loc, 4)
    M._manifest_cache.clear()
    md = M.read_metadata(loc)
    snap = md.snapshot()
    # delete the SECOND manifest out from under the unloaded snapshot
    mdir = M.metadata_dir(loc)
    second_ref = snap.manifests[1]["ref"]
    victim = os.path.join(mdir, second_ref)
    os.rename(victim, victim + ".hidden")
    with pytest.raises(OSError):
        len(snap.files)
    os.rename(victim + ".hidden", victim)
    assert len(snap.files) == 8  # retry succeeds with NO duplication
    assert len({f.path for f in snap.files}) == 8


def test_rollback_plus_delete_never_resurrects_via_ref_collision(cat, spark):
    """r14 review (CONFIRMED repro): two snapshots carrying DIFFERENT
    same-size subsets of one manifest must serialize distinct manifests.
    The (manifest_id, count)-keyed reuse collided here: append {a,b,c},
    delete c (carries {a,b}), rollback, delete b (carries {a,c}) — the
    second snapshot silently round-tripped as {a,b}: deleted row
    resurrected, surviving row vanished."""
    t = cat.create_table("db.refcol", "k bigint, tag string")
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k bigint, tag string"
        ).repartition(3, "k")
    )
    first = t.meta.current_snapshot_id
    t.delete("tag = 'c'")
    assert sorted(r["tag"] for r in t.read().collect()) == ["a", "b"]
    t.rollback_to(first)
    assert sorted(r["tag"] for r in t.read().collect()) == ["a", "b", "c"]
    t.delete("tag = 'b'")
    # fresh loads all the way down (no in-process object reuse)
    t2 = cat.load_table("db.refcol")
    assert sorted(r["tag"] for r in t2.read().collect()) == ["a", "c"]
    # and time travel still shows each historical state faithfully
    md = t2.meta
    by_op = [
        sorted(r["tag"] for r in t2.read(snapshot_id=s.snapshot_id).collect())
        for s in md.snapshots
    ]
    assert ["a", "b"] in by_op and ["a", "c"] in by_op


def test_warm_append_loads_zero_manifest_entry_files(cat, spark, monkeypatch):
    """r14 verdict Next #1 (rec-driven append): a warm append carries the
    parent's manifests via its manifest-list records, so NO manifest
    entry file is opened anywhere on the append path — not restamping,
    not the merge policy's sizing, not serialization (counts/rows come
    from the recs). Commit wall is O(new files), not O(current files)."""
    t = cat.create_table("db.warmrec", "k bigint, v string")
    for i in range(3):
        t.append(
            spark.createDataFrame([(i, f"v{i}")], "k bigint, v string")
        )
    calls: list[str] = []
    orig = M._load_manifest

    def counting(mdir, ref):
        calls.append(ref)
        return orig(mdir, ref)

    monkeypatch.setattr(M, "_load_manifest", counting)
    t.append(spark.createDataFrame([(99, "warm")], "k bigint, v string"))
    assert calls == [], f"warm append loaded manifest entries: {calls}"
    monkeypatch.undo()
    # and the committed snapshot is exactly right, carried refs included
    assert sorted(r["k"] for r in t.read().collect()) == [0, 1, 2, 99]
    md = t.meta
    recs = M._load_manifest_list(
        M.metadata_dir(t.location),
        md.manifest_list_refs[md.current_snapshot_id],
    )
    assert sum(r["count"] for r in recs) == 4


def test_commit_survives_racing_expiry_of_historical_manifest(cat, spark):
    """ADVICE r14 medium: the serializer's ``len(s.files)`` materialized
    EVERY retained snapshot's entries on EVERY commit — O(table) read IO
    per commit, and an uncaught FileNotFoundError when a racing
    expire_snapshots collected a historical snapshot's manifest between
    this writer's metadata load and its commit. With entry_count the
    commit touches no historical manifest at all."""
    t = cat.create_table("db.histgone", "k bigint, v string")
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    )
    t.delete("k = 1")  # snapshot 2 rewrites the group: snap1's manifest
    # is now referenced by snapshot 1 ONLY
    mdir = M.metadata_dir(t.location)
    md = M.read_metadata(t.location)  # the pre-expiry-loaded view
    s1, s2 = md.snapshots[0], md.snapshots[1]
    refs = {
        s.snapshot_id: {
            r["ref"]
            for r in M._load_manifest_list(
                mdir, md.manifest_list_refs[s.snapshot_id]
            )
        }
        for s in (s1, s2)
    }
    exclusive = refs[s1.snapshot_id] - refs[s2.snapshot_id]
    assert exclusive, "expected a snapshot-1-only manifest"
    # the racing expiry: historical manifest gone from disk AND cache
    for ref in exclusive:
        os.unlink(os.path.join(mdir, ref))
    with M._manifest_cache_lock:
        M._manifest_cache.clear()
        M._manifest_cache_entries = 0
    # committing from the stale view must succeed (the old code raised
    # FileNotFoundError inside _to_json's len(s.files))
    t2 = cat.load_table("db.histgone")
    t2.append(spark.createDataFrame([(3, "c")], "k bigint, v string"))
    assert sorted(r["k"] for r in t2.read().collect()) == [2, 3]


def test_orphan_sweep_skips_minimal_tombstone_pending_slot(cat, spark):
    """ADVICE r14 low: if a resolver settles a claim to a minimal
    tombstone between remove_orphan_files' _version_state probe and its
    read_metadata_version, _from_json raises KeyError('schemas') — the
    sweep must skip the slot like any other aborted one, not crash."""
    t = cat.create_table("db.orphtomb", "k bigint, v string")
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    )
    md = M.read_metadata(t.location)
    mdir = M.metadata_dir(t.location)
    # a slot that probes "pending" (decision record absent) but whose
    # body is a minimal tombstone: read_metadata_version -> KeyError
    slot = os.path.join(mdir, f"v{md.loaded_version + 1}.metadata.json")
    with open(slot, "w") as f:
        json.dump(
            {
                "format_version": M.FORMAT_VERSION,
                "pending_txn": os.path.join(mdir, "no-such-decision.json"),
            },
            f,
        )
    removed = t.remove_orphan_files(grace_s=3600.0)  # must not raise
    assert removed == []
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]


def test_merge_clusters_by_partition_keeps_pruning_without_maintenance(cat):
    """r14 verdict Next #2: the commit-time manifest merge must cluster
    its output groups by partition value. Pre-clustering, a merged
    manifest spanned every partition the merged appends touched, so
    after K interleaved-partition appends summary pruning only
    recovered via rewrite_manifests. Now the touched-manifest count
    right after the appends must sit within a few fresh (unmerged)
    manifests of the fully-maintained layout."""
    from tutorial_iceberg_spark.lakehouse.table import LakeTable

    loc = os.path.join(cat.warehouse, "db", "clustgate")
    md = M.new_table_metadata(
        "clustgate", loc, [M.Field(1, "k", "bigint"), M.Field(2, "p", "bigint")]
    )
    md.partition_specs = [
        M.PartitionSpec(
            spec_id=0,
            fields=[
                M.PartitionField(
                    source="p", source_id=2, transform="identity", name="p"
                )
            ],
        )
    ]
    M.commit_metadata(loc, md)
    t = LakeTable(None, loc)
    for i in range(50):  # single-partition appends, interleaved over 8
        pi = i % 8
        cur_md = M.read_metadata(loc)
        cur = cur_md.snapshot()
        new = [
            M.DataFile(
                path=f"data/p={pi}/{i:04d}_{j:04d}.parquet",
                rows=100,
                bytes=1_000_000,
                schema_id=cur_md.current_schema_id,
                spec_id=cur_md.current_spec_id,
                partition={"p": str(pi)},
                stats={"k": [str(i * 40 + j), str(i * 40 + j + 99)]},
            )
            for j in range(40)
        ]
        carried, files = t._carried_plus(cur, new)
        t._new_snapshot(cur_md, "append", files, carried=carried)
    touched, total = t.plan_manifests("p = 3")
    # meaningful pruning with NO maintenance call: at most ~1/8 of the
    # clustered manifests plus the handful of fresh unmerged ones
    assert touched <= total * 0.3, (touched, total)
    t.rewrite_manifests(target_manifests=8)
    touched_rw, total_rw = t.plan_manifests("p = 3")
    assert touched <= touched_rw + 3, (touched, touched_rw)
    # grouping is metadata-only: the entry set is byte-identical
    md2 = M.read_metadata(loc)
    assert M.entry_count(md2.snapshot().files) == 2000


def test_every_write_verb_writes_only_stamped_summarized_lists(cat, spark):
    """The metadata layer reads exactly one shape, so every write verb
    must produce it: each snapshot of each version file names a manifest
    list, and every record of every list has a nonzero manifest id and a
    write-time summary. Runs each verb once on one table — row-level,
    maintenance, branch, transaction, REST and streaming-sink commits."""
    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
        rest_append,
        rest_merge,
    )
    from tutorial_iceberg_spark.streaming.events_stream import (
        make_idempotent_ingest,
    )

    ddl = "k bigint, v string"

    def rows(*ks):
        return spark.createDataFrame([(k, f"v{k}") for k in ks], ddl)

    t = cat.create_table("db.verbs", ddl)
    t.append(rows(*range(10)))
    t.merge(spark.createDataFrame([(1, "one"), (10, "v10")], ddl), on="k")
    t.delete("k = 2")  # copy-on-write
    t.set_property("write.delete.mode", "merge-on-read")
    for k, flavor in ((3, "equality"), (4, "position"), (5, "vector")):
        t.set_property("write.delete.flavor", flavor)
        t.delete(f"k = {k}")
        t.compact(target_files=1)
    t.set_property("write.update.mode", "merge-on-read")
    t.update("k = 6", {"v": "'six'"})
    t.compact(target_files=1)
    t.rewrite_manifests(target_manifests=2)
    t.create_branch("ff")
    t.append_to_branch("ff", rows(11))
    t.fast_forward("ff")
    t.create_branch("dv")
    t.append_to_branch("dv", rows(12))
    t.append(rows(13))
    t.merge_branch("dv")
    txn = cat.transaction()
    txn.append("db.verbs", rows(14))
    txn.commit()
    with RestCatalogServer(cat) as srv:
        client = RestCatalogClient(srv.base_url)
        rest_append(client, t, "db", "verbs", rows(15))
        rest_merge(
            client, t, "db", "verbs",
            spark.createDataFrame([(7, "seven"), (16, "v16")], ddl), on="k",
        )
    src = os.path.join(cat.warehouse, "_stream_src")
    rows(17, 18).write.parquet(src)
    chk = os.path.join(cat.warehouse, "_stream_chk")
    (
        spark.readStream.schema(ddl)
        .parquet(src)
        .writeStream.foreachBatch(make_idempotent_ingest(t))
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    mdir = M.metadata_dir(t.location)

    def check_metadata_dir():
        names = sorted(os.listdir(mdir))
        lists = [n for n in names if n.startswith("manifest-list-")]
        versions = [n for n in names if n.endswith(".metadata.json")]
        assert lists and len(versions) > 20
        for n in lists:
            with open(os.path.join(mdir, n)) as f:
                for rec in json.load(f):
                    assert rec["manifest_id"] > 0 and "summary" in rec, (n, rec)
        for n in versions:
            with open(os.path.join(mdir, n)) as f:
                snaps = json.load(f)["snapshots"]
            assert all("manifest_list" in s for s in snaps), n

    # before expiry too: it collects the lists of the snapshots it drops
    check_metadata_dir()
    t.expire_snapshots(keep_last=3)
    check_metadata_dir()
    assert sorted(r["k"] for r in t.read().collect()) == [
        0, 1, *range(6, 19)
    ]
