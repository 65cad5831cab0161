"""Metadata-scale probe (r14 verdict Next #2): is commit IO O(delta)?

Synthesizes metadata-only tables (no Spark, no data IO — the probe
measures the COMMIT PATH: manifest sidecars + version JSON) at a ladder
of table sizes, then measures the metadata bytes written and wall time
of one more identical append commit at each size. Pre-sharding (format
1) both grew linearly with the table's retained file entries; sharded
(format 2) both must stay flat.

Also ladders SNAPSHOT count at fixed file count: the version JSON holds
one header + manifest-ref list per retained snapshot, so commit bytes
grow O(retained snapshots * avg manifests) — bounded by snapshot
retention, never by file count. The probe records both axes so the
bound is explicit, plus the resolver-side cost: current_version() wall
with 10^3 burned slots before and after the hint advances (verdict
Next #3's measurement).

Usage: python tools/meta_probe.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tutorial_iceberg_spark.lakehouse import metadata as M  # noqa: E402
from tutorial_iceberg_spark.lakehouse.table import LakeTable  # noqa: E402


def _mk(wh: str, name: str) -> str:
    loc = os.path.join(wh, "db", name)
    M.commit_metadata(loc, M.new_table_metadata(name, loc, [M.Field(1, "k", "bigint")]))
    return loc


def _fake(md: M.TableMetadata, n: int, start: int) -> list[M.DataFile]:
    return [
        M.DataFile(
            path=f"data/fake/{start + i:09d}.parquet",
            rows=1000,
            bytes=64_000_000,
            schema_id=md.current_schema_id,
            spec_id=md.current_spec_id,
            stats={"k": [str(start + i), str(start + i + 999)]},
        )
        for i in range(n)
    ]


def _append(loc: str, batch: int, keep_last: int | None = None) -> None:
    """Metadata-only append through the REAL engine commit path
    (LakeTable._new_snapshot — includes commit-time manifest merging),
    with fake manifest entries standing in for written parquet files.
    ``keep_last`` emulates snapshot-retention expiry inline."""
    t = LakeTable.__new__(LakeTable)  # metadata ops never touch Spark
    t.spark = None
    t.location = loc
    md = M.read_metadata(loc)
    cur = md.snapshot()
    # rec-driven carry (r15): same path LakeTable.append drives — the
    # parent's entries ride along as manifest-list records, so the
    # probe measures the O(new files) commit, never a materialization
    new = _fake(md, batch, M.entry_count(cur.files) if cur else 0)
    if keep_last is not None and len(md.snapshots) >= keep_last:
        md.snapshots = md.snapshots[-(keep_last - 1):]
    t._new_snapshot(md, "append", t._carried_plus(md, cur, new))


def _mdir_state(mdir: str) -> dict[str, int]:
    return {
        n: os.path.getsize(os.path.join(mdir, n))
        for n in os.listdir(mdir)
        if n != "version-hint.text"
    }


def _write_volume(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of metadata files CREATED by a step (metadata files are
    immutable once linked, so created == written)."""
    return sum(size for n, size in after.items() if n not in before)


def measure_commit(loc: str, batch: int) -> dict:
    mdir = M.metadata_dir(loc)
    before = _mdir_state(mdir)
    t0 = time.perf_counter()
    _append(loc, batch, keep_last=20)
    wall = time.perf_counter() - t0
    after = _mdir_state(mdir)
    written = sum(s for n, s in after.items() if n not in before)
    return {"commit_bytes_written": written, "commit_wall_s": round(wall, 4)}


def probe_file_scale() -> list[dict]:
    """Fixed snapshot retention (20), laddered FILE count: commit cost
    must be flat in table size."""
    out = []
    for total in (1_000, 5_000, 10_000, 30_000, 100_000):
        with tempfile.TemporaryDirectory() as wh:
            loc = _mk(wh, f"t{total}")
            # build up in 100-file batches under retention 20
            done = 0
            while done < total:
                _append(loc, min(100, total - done), keep_last=20)
                done += min(100, total - done)
            m = measure_commit(loc, 100)
            md = M.read_metadata(loc)
            m.update(
                table_files=len(md.snapshot().files),
                retained_snapshots=len(md.snapshots),
                version_json_bytes=os.path.getsize(
                    os.path.join(
                        M.metadata_dir(loc), f"v{md.loaded_version}.metadata.json"
                    )
                ),
            )
            out.append(m)
            print("file-scale:", m, flush=True)
    return out


def probe_snapshot_scale() -> list[dict]:
    """Fixed file count per commit, laddered RETAINED snapshots: commit
    bytes grow with retention (headers + ref lists), the documented
    bound."""
    out = []
    for keep in (5, 20, 80):
        with tempfile.TemporaryDirectory() as wh:
            loc = _mk(wh, f"s{keep}")
            for _ in range(keep + 10):
                _append(loc, 50, keep_last=keep)
            m = measure_commit(loc, 50)
            md = M.read_metadata(loc)
            m.update(retained_snapshots=len(md.snapshots), table_files=len(md.snapshot().files))
            out.append(m)
            print("snapshot-scale:", m, flush=True)
    return out


def probe_burned_slots() -> dict:
    """10^3 burned slots: resolution cost before the hint advances
    (one-time linear probe) and after (O(1) amortized)."""
    with tempfile.TemporaryDirectory() as wh:
        loc = _mk(wh, "burn")
        _append(loc, 10)
        md = M.read_metadata(loc)
        base_v = md.loaded_version
        mdir = M.metadata_dir(loc)
        # burn 1000 slots the way aborted prepares do: settled sentinel
        for i in range(1, 1001):
            with open(os.path.join(mdir, f"v{base_v + i}.metadata.json"), "w") as f:
                json.dump({"format_version": 2, "pending_txn": M.ABORTED_SENTINEL}, f)
        t0 = time.perf_counter()
        v_cold = M.current_version(loc)
        cold = time.perf_counter() - t0
        # a visible commit above the burn field advances the hint
        md = M.read_metadata(loc)
        assert md.loaded_version == v_cold == base_v
        _append(loc, 10)
        t0 = time.perf_counter()
        for _ in range(100):
            v_warm = M.current_version(loc)
        warm = (time.perf_counter() - t0) / 100
        assert v_warm == base_v + 1001
        return {
            "burned_slots": 1000,
            "resolve_cold_s": round(cold, 4),
            "resolve_after_hint_advance_s": round(warm, 6),
        }


def probe_plan_cost() -> dict:
    """Two-tier planning (r14): per-scan planning cost from the
    write-time manifest summaries on a 30k-file table —
    O(manifests x conjuncts), no manifest entry read — plus one cold
    read + plan + scan-candidate pass."""
    with tempfile.TemporaryDirectory() as wh:
        loc = _mk(wh, "plan")
        done = 0
        while done < 30_000:
            _append(loc, 100, keep_last=20)
            done += 100
        t = LakeTable.__new__(LakeTable)
        t.spark = None
        t.location = loc
        pred = "k < 500"
        # cold two-tier read: metadata load + summary planning + scan
        # candidates, counting manifest ENTRY files actually parsed
        M._manifest_cache.clear()
        reads0 = M.manifest_file_reads
        t0 = time.perf_counter()
        md_cold = t.meta
        snap_cold = md_cold.snapshot()
        plan_cold = t.plan_manifests(pred, snap_cold)
        cands = t._candidates(md_cold, snap_cold, pred)
        cold_s = time.perf_counter() - t0
        cold_reads = M.manifest_file_reads - reads0
        t0 = time.perf_counter()
        for _ in range(20):
            touched, total = t.plan_manifests(pred)
        summary_s = (time.perf_counter() - t0) / 20
        return {
            "table_files": 30_000,
            "manifests": total,
            "touched": touched,
            "plan_s_summary": round(summary_s, 5),
            "cold_read_plan_scan_s": round(cold_s, 4),
            "cold_manifest_entry_files_parsed": cold_reads,
            "cold_scan_candidate_files": len(cands),
            "cold_plan": list(plan_cold),
        }


def probe_million() -> dict:
    """The 100-TB regime directly: a table with 10^6 manifest entries
    (the scale the r13 verdict's gap analysis cited — at 100 TB with
    ~100 MB files, the manifest holds ~10^6 entries). Built by writing
    20 x 50k-entry manifests directly (the state 10^4 append commits
    would converge to under merging), then measures ONE append commit
    and ONE cold summary-pruned scan."""
    with tempfile.TemporaryDirectory() as wh:
        loc = _mk(wh, "million")
        md = M.read_metadata(loc)
        mdir = M.metadata_dir(loc)
        files: list[M.DataFile] = []
        t0 = time.perf_counter()
        for g in range(20):
            md.last_manifest_id += 1
            entries = _fake(md, 50_000, g * 50_000)
            for f in entries:
                f.manifest_id = md.last_manifest_id
            files.extend(entries)
        md.last_snapshot_id += 1
        md.snapshots.append(
            M.Snapshot(
                snapshot_id=md.last_snapshot_id,
                parent_id=md.current_snapshot_id,
                timestamp_ms=M.now_ms(),
                operation="append",
                schema_id=md.current_schema_id,
                spec_id=md.current_spec_id,
                files=files,
            )
        )
        md.current_snapshot_id = md.last_snapshot_id
        M.commit_metadata(loc, md)
        build_s = time.perf_counter() - t0
        # ONE ordinary append commit on the 10^6-entry table. Rec-driven
        # (r15): COLD no longer differs from warm by a 10^6-entry parse
        # — the append path never opens a manifest entry file at all,
        # so both walls sit at the 1k-file ladder's number. The read
        # counter proves it: zero entry files parsed by either commit.
        M._manifest_cache.clear()
        reads_before = M.manifest_file_reads
        before = _mdir_state(mdir)
        t0 = time.perf_counter()
        _append(loc, 100, keep_last=20)
        commit_s = time.perf_counter() - t0
        commit_bytes = _write_volume(before, _mdir_state(mdir))
        t0 = time.perf_counter()
        _append(loc, 100, keep_last=20)
        warm_commit_s = time.perf_counter() - t0
        commit_entry_reads = M.manifest_file_reads - reads_before
        # cold pruned scan: fresh process state simulated by cache clear
        M._manifest_cache.clear()
        t_obj = LakeTable.__new__(LakeTable)
        t_obj.spark = None
        t_obj.location = loc
        reads0 = M.manifest_file_reads
        t0 = time.perf_counter()
        md2 = t_obj.meta
        snap2 = md2.snapshot()
        cands = t_obj._candidates(md2, snap2, "k < 500")
        scan_s = time.perf_counter() - t0
        return {
            "table_files": 1_000_100,
            "build_s": round(build_s, 2),
            "commit_bytes_written": commit_bytes,
            "commit_wall_cold_s": round(commit_s, 3),
            "commit_wall_warm_s": round(warm_commit_s, 3),
            "commit_manifest_entry_files_parsed": commit_entry_reads,
            "cold_pruned_scan_s": round(scan_s, 4),
            "cold_manifest_entry_files_parsed": M.manifest_file_reads - reads0,
            "scan_candidate_files": len(cands),
        }


def _build_big(wh: str, name: str, total: int, groups: int = 20) -> str:
    """A table with ``total`` manifest entries across ``groups``
    manifests, written directly (the state appends converge to under
    merging) — the probe_million builder, parameterized."""
    loc = _mk(wh, name)
    md = M.read_metadata(loc)
    per = total // groups
    files: list[M.DataFile] = []
    for g in range(groups):
        md.last_manifest_id += 1
        entries = _fake(md, per, g * per)
        for f in entries:
            f.manifest_id = md.last_manifest_id
        files.extend(entries)
    md.last_snapshot_id += 1
    md.snapshots.append(
        M.Snapshot(
            snapshot_id=md.last_snapshot_id,
            parent_id=md.current_snapshot_id,
            timestamp_ms=M.now_ms(),
            operation="append",
            schema_id=md.current_schema_id,
            spec_id=md.current_spec_id,
            files=files,
        )
    )
    md.current_snapshot_id = md.last_snapshot_id
    M.commit_metadata(loc, md)
    return loc


def probe_rest_row_level() -> list[dict]:
    """r15 verdict Next #1 measurement: a row-level commit through the
    REST front door, named BY MANIFEST, must be O(touched manifests) —
    flat wall and flat entry reads as table size ladders 100k -> 10^6
    entries."""
    from tutorial_iceberg_spark.lakehouse.catalog import LakeCatalog
    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
    )

    out = []
    for total in (100_000, 1_000_000):
        with tempfile.TemporaryDirectory() as wh:
            # converged shape (20 manifests — what the commit-time merge
            # policy maintains): entry READS must stay flat (staged +
            # the one touched manifest); wall is bounded by the touched
            # manifest's entry count (loaded, subtracted, rewritten) —
            # recorded explicitly so the bound is visible, never by the
            # table's total entry count
            loc = _build_big(wh, "r", total)
            mdir = M.metadata_dir(loc)
            cat = LakeCatalog(None, wh)
            with RestCatalogServer(cat) as srv:
                client = RestCatalogClient(srv.base_url)
                md = M.read_metadata(loc)
                # rec-driven: replace 3 files of ONE touched manifest
                # (id 1 holds paths 0..per-1 by construction) with 2
                # staged files
                removed = [f"data/fake/{i:09d}.parquet" for i in range(3)]
                ref = M.write_manifest(mdir, 0, _fake(md, 2, 10_000_000))
                M._manifest_cache.clear()
                reads0 = M.manifest_file_reads
                t0 = time.perf_counter()
                client.commit_table(
                    "db", "r",
                    updates=[{
                        "action": "overwrite-files",
                        "manifest": ref,
                        "removed_by_manifest": {"1": removed},
                    }],
                    requirements=[{
                        "type": "assert-ref-snapshot-id",
                        "snapshot-id": md.current_snapshot_id,
                    }],
                )
                rec_wall = time.perf_counter() - t0
                rec_reads = M.manifest_file_reads - reads0
            m = {
                "table_files": total,
                "touched_manifest_entries": total // 20,
                "rec_commit_wall_s": round(rec_wall, 4),
                "rec_manifest_entry_files_parsed": rec_reads,
            }
            out.append(m)
            print("rest-row-level:", m, flush=True)
    return out


def main() -> None:
    result = {
        "probe": "meta_probe",
        "format_version": M.FORMAT_VERSION,
        "file_scale": probe_file_scale(),
        "snapshot_scale": probe_snapshot_scale(),
        "burned_slots": probe_burned_slots(),
        "plan_cost": probe_plan_cost(),
        "million": probe_million(),
        "rest_row_level": probe_rest_row_level(),
    }
    fs = result["file_scale"]
    result["flat_in_table_size"] = (
        fs[-1]["commit_bytes_written"] < fs[0]["commit_bytes_written"] * 2
        and fs[-1]["commit_wall_s"] < max(fs[0]["commit_wall_s"] * 5, 0.5)
    )
    out = sys.argv[1] if len(sys.argv) > 1 else None
    text = json.dumps(result, indent=1)
    print(text)
    if out:
        with open(out, "w") as f:
            f.write(text)


if __name__ == "__main__":
    main()
