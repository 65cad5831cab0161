"""Lakehouse table metadata: the Iceberg-semantics core, Spark-native.

The reference teaches Iceberg's metadata design (snapshots, manifests,
schema/partition evolution, time travel — README.md:921-1028) on a real
Iceberg 1.10 catalog. No Iceberg runtime jar exists in this environment
(SURVEY.md §7), so the engine reproduces the *semantics* on plain parquet +
versioned JSON metadata:

- ``v{N}.metadata.json`` files + a ``version-hint.text`` pointer, committed
  by atomic rename — the same single-writer commit protocol Iceberg's
  HadoopCatalog uses.
- Every snapshot carries its full data-file manifest with per-file row
  counts, partition values, and column min/max stats. Query planning reads
  ONLY this metadata — O(manifest) instead of O(directory listing), which is
  the file-listing-cost lesson of README.md:469-487.
- Schema fields carry immutable field IDs; data files record which schema
  they were written under. Renames are metadata-only (README.md:979) and
  adding a column with a default never rewrites data (README.md:1159-1166).
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import asdict, dataclass, field, fields
from typing import Any

from tutorial_iceberg_spark.scratch import env_number

# Format 2 (r14): snapshots carry manifest REFERENCES — each manifest's
# entries live in an immutable content-addressed sidecar file
# (metadata/manifest-{sha1}.json) written once and carried by reference
# forever after, so a commit writes O(new files) metadata bytes instead
# of re-serializing every retained snapshot's full file list (real
# Iceberg's manifest-list design, README.md:921-1028 — the one place the
# previous emulation's commit cost scaled with table size instead of
# delta size). This is the only shape the engine reads or writes: every
# snapshot names one manifest list, and every list record carries a
# nonzero manifest id plus its write-time pruning summary.
FORMAT_VERSION = 2


@dataclass
class Field:
    id: int
    name: str
    type: str  # Spark DDL type string, e.g. "bigint", "decimal(10,2)"
    nullable: bool = True
    # Iceberg-V3-style initial default: applied at READ time to files
    # written before the column existed (README.md:1159-1166, D7).
    initial_default: Any = None


@dataclass
class Schema:
    schema_id: int
    fields: list[Field]

    def ddl(self) -> str:
        return ", ".join(f"{f.name} {f.type}" for f in self.fields)

    def by_id(self) -> dict[int, Field]:
        return {f.id: f for f in self.fields}

    def names(self) -> list[str]:
        return [f.name for f in self.fields]


@dataclass
class PartitionField:
    source: str  # source column NAME at spec creation time
    source_id: int  # immutable field id of the source column
    transform: str  # identity | year | month | day | bucket[N] | truncate[W]
    name: str  # partition column name in the layout, e.g. "order_date_month"


@dataclass
class PartitionSpec:
    spec_id: int
    fields: list[PartitionField]


@dataclass
class DataFile:
    path: str  # relative to table root
    rows: int
    bytes: int
    schema_id: int
    spec_id: int
    partition: dict[str, str] = field(default_factory=dict)  # pcol -> value
    # column name (at write time) -> [min, max] as JSON-safe strings
    stats: dict[str, list] = field(default_factory=dict)
    # Which manifest file this entry lives in (Iceberg: a snapshot's
    # manifest list points at manifest files, each holding a batch of
    # entries; commits add ONE new manifest and carry prior ones over by
    # reference). 0 = not yet assigned; _new_snapshot stamps fresh
    # entries with the next manifest id. rewrite_manifests regroups
    # entries so planning can skip whole manifests (see table.py).
    manifest_id: int = 0


@dataclass
class DeleteFile:
    """Merge-on-read delete file (D15, README.md:1096-1121), any flavor
    Iceberg defines:

    - ``content="equality"``: rows matching these key values are invisible
      at read (``equality_columns`` names the keys).
    - ``content="position"``: rows at these (file_path, pos) coordinates
      are invisible at read (``equality_columns`` is empty).
    - ``content="vector"``: V3 deletion vectors — one bitmap of deleted
      positions per touched data file (README.md:1096-1110's
      "ビットマップ形式で削除情報を保持"), applied as a bit test at read."""

    path: str
    rows: int
    equality_columns: list[str]
    content: str = "equality"  # default keeps pre-position metadata readable


@dataclass
class Snapshot:
    """One table state. Its file set is what Iceberg's manifest list
    holds: ``manifests`` are the manifest-list records it carries by
    reference (each with its entry count, row total and pruning summary,
    sidecars under ``mdir``), and ``added`` are entries in none of them
    (a snapshot built in this process and not yet read back; empty for
    one read from disk). Counting needs no entry IO, and ``files`` loads
    the manifests' entries only on first access."""

    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    operation: str  # append | overwrite | delete | replace | rollback
    schema_id: int
    spec_id: int
    manifests: tuple[dict, ...] = ()
    added: list[DataFile] = field(default_factory=list)
    delete_files: list[DeleteFile] = field(default_factory=list)
    summary: dict[str, Any] = field(default_factory=dict)
    mdir: str = ""
    _files: list[DataFile] | None = field(
        default=None, init=False, repr=False, compare=False
    )

    @property
    def files(self) -> list[DataFile]:
        """Every entry: the manifests' entries, then ``added``. Loaded
        once, into a local first, so a failed load (a manifest a racing
        expiry collected) leaves nothing behind and a retry starts over."""
        if self._files is None:
            staged = [
                f for r in self.manifests for f in _load_manifest(self.mdir, r["ref"])
            ]
            staged.extend(self.added)
            with _snapshot_files_lock:
                if self._files is None:
                    self._files = staged
        return self._files

    @property
    def file_count(self) -> int:
        return sum(r["count"] for r in self.manifests) + len(self.added)

    @property
    def row_count(self) -> int:
        return sum(r["rows"] for r in self.manifests) + sum(f.rows for f in self.added)


# concurrent first readers of one snapshot's ``files`` all get one list
_snapshot_files_lock = threading.Lock()


@dataclass
class TableMetadata:
    table_uuid: str
    name: str
    location: str
    schemas: list[Schema]
    current_schema_id: int
    partition_specs: list[PartitionSpec]
    current_spec_id: int
    snapshots: list[Snapshot]
    current_snapshot_id: int | None
    properties: dict[str, str]
    last_field_id: int
    last_snapshot_id: int
    # Named branch refs: branch name -> head snapshot id. The implicit
    # "main" branch is current_snapshot_id. Branch snapshots live in the
    # same `snapshots` list — refs are just extra roots into the DAG.
    refs: dict[str, int] = field(default_factory=dict)
    # Immutable tag refs (Iceberg tags): name -> snapshot id. Unlike
    # branches, tags never advance; they pin a snapshot (and its files)
    # against expiry for audit/reproducibility ("the corpus v2.1 dataset").
    tags: dict[str, int] = field(default_factory=dict)
    # The metadata version this object was READ at (0 = not yet committed).
    # Commits are CAS'd against loaded_version, not the current hint: a
    # writer holding stale metadata must conflict, not silently clobber.
    loaded_version: int = 0
    # Monotone manifest-id counter (see DataFile.manifest_id); 0 until
    # the first snapshot stamps its entries.
    last_manifest_id: int = 0
    # Multi-table transaction gate: when set, this version file is a
    # PREPARED (2PC phase-1) commit and is visible only once the decision
    # record at this path says "committed" — see txn_decision /
    # _version_state. The literal ABORTED_SENTINEL marks a settled
    # aborted prepare (a burned slot, no record lookup needed). None
    # (the default, and every pre-txn metadata file) means an ordinary
    # immediately-visible commit.
    pending_txn: str | None = None

    def __post_init__(self) -> None:
        # NON-serialized bookkeeping (not dataclass fields, so asdict
        # skips them).
        # snapshot_id -> manifest-list sidecar filename (format 2's
        # second indirection: the version JSON names ONE list per
        # snapshot; the list names the manifests). Populated at load and
        # at serialize; snapshots are immutable once committed, so a
        # known list ref is carried without recomputation.
        self.manifest_list_refs: dict[int, str] = {}

    # -- convenience -------------------------------------------------
    def schema(self, schema_id: int | None = None) -> Schema:
        sid = self.current_schema_id if schema_id is None else schema_id
        return next(s for s in self.schemas if s.schema_id == sid)

    def spec(self, spec_id: int | None = None) -> PartitionSpec:
        sid = self.current_spec_id if spec_id is None else spec_id
        return next(s for s in self.partition_specs if s.spec_id == sid)

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot | None:
        sid = self.current_snapshot_id if snapshot_id is None else snapshot_id
        for s in self.snapshots:
            if s.snapshot_id == sid:
                return s
        return None

    def snapshot_as_of(self, ts_ms: int) -> Snapshot | None:
        """Latest snapshot at-or-before ts_ms (D10 TIMESTAMP AS OF)."""
        eligible = [s for s in self.snapshots if s.timestamp_ms <= ts_ms]
        return max(eligible, key=lambda s: s.timestamp_ms, default=None)


# ---------------------------------------------------------------------------
# (De)serialization + atomic commit protocol
# ---------------------------------------------------------------------------


_NUMERIC_SQL_TYPES = {
    "tinyint", "smallint", "int", "integer", "bigint", "long",
    "float", "real", "double",
}


def _stat_agg_key(v: Any, col_type: Any):
    """Coerce a footer stat into the value-ordered representation
    ``transforms.stats_may_match`` compares under, so aggregate
    (manifest-level) min/max is a strict relaxation of the per-file
    check. Decimal stats arrive as strings — raw min()/max() over those
    is lexicographic (min('100.00','99.00') == '100.00'), which INVERTS
    the bound and can prune a manifest whose member files match
    (ADVICE r10). Returns None when the value has no usable total order
    for this column type (caller drops the bound — pruning stays
    conservative). Lives here (not table.py) so write-time summary
    computation and read-time planning share one definition."""
    if v is None:
        return None
    t = str(col_type or "").lower()
    if t in _NUMERIC_SQL_TYPES or t.startswith("decimal"):
        if isinstance(v, bool):
            return None
        if isinstance(v, (int, float)):
            return float(v)
        try:  # Decimal stats arrive as str(v) via _json_safe
            return float(v)
        except (TypeError, ValueError):
            return None
    if t == "date" or t.startswith("timestamp"):
        # ISO-8601 strings (fixed field order, zero-padded) sort
        # lexicographically in chronological order
        return v if isinstance(v, str) else None
    if t == "string":
        return v if isinstance(v, str) else None
    return None  # binary hex, structs, unknown types: no aggregate bound


# At most this many distinct (spec, schema, partition-tuple) combos are
# inlined in a manifest summary; beyond it the summary stores None and
# planning falls back to the per-file partition check (conservative).
SUMMARY_PARTITION_CAP = 32


def manifest_summary(md: TableMetadata, entries: list[DataFile]) -> dict:
    """Write-time pruning summary for one manifest: per-FIELD-ID
    aggregate [min, max] under the ``_stat_agg_key`` value order (only
    for columns every member file bounds — else omitted, conservative)
    plus the distinct partition combos (capped). Field-id keying makes
    the summary survive renames; the type used is the write-time type,
    whose value order promotion (int ladder / float->double / decimal
    precision widening) never changes. Summaries are valid for any
    carried SUBSET of the manifest: a subset's true bounds are contained
    in the full bounds, so pruning with the full summary stays sound."""
    bounds: dict[str, list] = {}
    # memoized per schema generation: entries cluster into one or two
    # generations, and rebuilding by_id() per (field, entry) pair made
    # summarizing a merged 100k-entry manifest O(fields x entries x
    # schema) dict constructions (r14 review)
    by_id_cache: dict[int, dict[int, Field]] = {}
    for fld in md.schema().fields:
        agg = None
        complete = True
        for f in entries:
            written = by_id_cache.get(f.schema_id)
            if written is None:
                written = md.schema(f.schema_id).by_id()
                by_id_cache[f.schema_id] = written
            wf = written.get(fld.id)
            st = f.stats.get(wf.name) if wf is not None else None
            if st is None:
                complete = False
                break
            lo = _stat_agg_key(st[0], fld.type)
            hi = _stat_agg_key(st[1], fld.type)
            if lo is None or hi is None:
                complete = False
                break
            try:
                agg = (
                    [lo, hi]
                    if agg is None
                    else [min(agg[0], lo), max(agg[1], hi)]
                )
            except TypeError:  # mixed key types across files
                complete = False
                break
        if complete and agg is not None:
            bounds[str(fld.id)] = agg
    combos = {
        (f.spec_id, f.schema_id, tuple(sorted(f.partition.items())))
        for f in entries
    }
    parts = (
        [[sid, schid, [list(kv) for kv in pv]] for sid, schid, pv in sorted(combos)]
        if len(combos) <= SUMMARY_PARTITION_CAP
        else None
    )
    return {"b": bounds, "p": parts}


# ---- manifest sidecar files ------------------------------------------------
#
# manifest-{sha1}.json: {"manifest_id": N, "entries": [DataFile dicts]}.
# Content-addressed (the hash covers manifest_id + the full entry list in
# path order), written once via the same write-temp + atomic-link
# protocol as version files, and NEVER modified — so a process-wide cache
# can serve them forever, two writers producing identical content
# converge on one file, and deleting + re-creating the same content is
# cache-coherent by construction.

# cap is in ENTRIES, not manifests: one giant manifest shouldn't evict
# everything, and a thousand tiny ones shouldn't be unbounded. Each
# cached DataFile is roughly 0.5-1 KB of Python objects (path + stats
# dict + partition dict), so 2M entries bounds the cache near 1-2 GB —
# sized for a driver planning a handful of 10^6-file tables; tune down
# via TIS_MANIFEST_CACHE_ENTRIES for memory-tight deployments
# (r14 review: the previous 4M ceiling read as a leak in long-lived
# drivers).
_MANIFEST_CACHE_MAX_ENTRIES = env_number("TIS_MANIFEST_CACHE_ENTRIES", 2_000_000, int)
_manifest_cache: OrderedDict[str, tuple] = OrderedDict()
_manifest_cache_entries = 0
_manifest_cache_lock = threading.Lock()


def _manifest_payload(manifest_id: int, entries: list[DataFile]) -> str:
    return json.dumps(
        {
            "manifest_id": manifest_id,
            "entries": [asdict(f) for f in sorted(entries, key=lambda f: f.path)],
        },
        sort_keys=True,
        separators=(",", ":"),
    )


def write_manifest(mdir: str, manifest_id: int, entries: list[DataFile]) -> str:
    """Write (or find) the sidecar holding this entry group; returns its
    filename. Idempotent and race-free: the name is the content hash, so
    a concurrent writer of the same group links the same bytes and the
    loser's FileExistsError is success."""
    payload = _manifest_payload(manifest_id, entries)
    fname = f"manifest-{hashlib.sha1(payload.encode()).hexdigest()}.json"
    fpath = os.path.join(mdir, fname)
    if not os.path.exists(fpath):
        os.makedirs(mdir, exist_ok=True)
        tmp = os.path.join(mdir, f".tmp-manifest-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            f.write(payload)
        try:
            os.link(tmp, fpath)
        except FileExistsError:
            pass  # identical content already committed by a racer
        finally:
            os.unlink(tmp)
    return fname


def _load_manifest(mdir: str, fname: str) -> tuple:
    """Entries of one manifest sidecar, cached process-wide (immutable
    content-addressed files). Returns a shared tuple — callers must copy
    an entry before mutating it (every engine mutation site already
    does). Manifest-id-0 sidecars are NEVER shared: they are staged REST
    uploads (``append-files``/``overwrite-files``, rest_append and
    rest_merge write them unstamped), and _new_snapshot stamps id-0
    entries in place, so sharing them would corrupt the cache."""
    global _manifest_cache_entries
    fpath = os.path.join(mdir, fname)
    with _manifest_cache_lock:
        cached = _manifest_cache.get(fpath)
        if cached is not None:
            _manifest_cache.move_to_end(fpath)
    if cached is None:
        global manifest_file_reads
        manifest_file_reads += 1
        with open(fpath) as f:
            d = json.load(f)
        cached = tuple(DataFile(**e) for e in d["entries"])
        if d.get("manifest_id") == 0:
            return tuple(DataFile(**e.__dict__) for e in cached)
        with _manifest_cache_lock:
            if fpath not in _manifest_cache:
                _manifest_cache[fpath] = cached
                _manifest_cache_entries += len(cached)
                while _manifest_cache_entries > _MANIFEST_CACHE_MAX_ENTRIES:
                    _, old = _manifest_cache.popitem(last=False)
                    _manifest_cache_entries -= len(old)
    return cached


def write_manifest_list(mdir: str, recs: list[dict]) -> str:
    """Write (or find) the manifest-LIST sidecar naming one snapshot's
    manifests — same content-addressed write-once protocol as manifests.
    This is the indirection that keeps the version JSON O(retained
    snapshots): without it, every retained snapshot's full manifest-ref
    list re-serializes into every commit, which grows with total
    manifest count (measured 1 MB/commit at 30k files in the r14 probe
    before this existed)."""
    payload = json.dumps(recs, sort_keys=True, separators=(",", ":"))
    fname = f"manifest-list-{hashlib.sha1(payload.encode()).hexdigest()}.json"
    fpath = os.path.join(mdir, fname)
    if not os.path.exists(fpath):
        os.makedirs(mdir, exist_ok=True)
        tmp = os.path.join(mdir, f".tmp-mlist-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            f.write(payload)
        try:
            os.link(tmp, fpath)
        except FileExistsError:
            pass
        finally:
            os.unlink(tmp)
    return fname


_list_cache: OrderedDict[str, tuple] = OrderedDict()
_LIST_CACHE_MAX = 4096


def _load_manifest_list(mdir: str, fname: str) -> tuple:
    fpath = os.path.join(mdir, fname)
    with _manifest_cache_lock:
        cached = _list_cache.get(fpath)
        if cached is not None:
            _list_cache.move_to_end(fpath)
            return cached
    with open(fpath) as f:
        recs = tuple(json.load(f))
    with _manifest_cache_lock:
        _list_cache[fpath] = recs
        while len(_list_cache) > _LIST_CACHE_MAX:
            _list_cache.popitem(last=False)
    return recs


# Cache-miss counter for scale probes: how many manifest FILES were
# actually read from disk (a lazy scan over a pruned table should load
# only the surviving manifests).
manifest_file_reads = 0


def entry_count(files) -> int:
    """Number of entries in a snapshot's file list (``len(snap.files)``);
    ``Snapshot.file_count`` gives the same from the manifest-list records
    without loading any manifest."""
    return len(files)


def _group_by_manifest(entries) -> dict[int, list[DataFile]]:
    groups: dict[int, list[DataFile]] = {}
    for f in entries:
        groups.setdefault(f.manifest_id, []).append(f)
    return groups


def _manifest_rec(
    md: TableMetadata, mid: int, ref: str, entries: list[DataFile]
) -> dict:
    """The manifest-list record of one freshly written manifest: its id,
    sidecar ref, entry/row/byte totals and write-time pruning summary."""
    return {
        "manifest_id": mid,
        "ref": ref,
        "count": len(entries),
        "rows": sum(e.rows for e in entries),
        "bytes": sum(e.bytes for e in entries),
        "summary": manifest_summary(md, entries),
    }


def _to_json(md: TableMetadata, mdir: str) -> str:
    """Serialize table metadata (format 2): each snapshot's entry groups
    land in content-addressed manifest sidecars (written only if absent;
    groups carried from the parent are referenced by their parent's
    list record without touching their entries), each snapshot's
    manifest-ref list lands in a manifest-list sidecar, and the version
    JSON holds snapshot headers + one list ref each. The bytes a commit
    writes are therefore O(new entries + retained snapshot headers), not
    O(retained file entries)."""
    d: dict[str, Any] = {"format_version": FORMAT_VERSION}
    for fld in fields(TableMetadata):
        if fld.name == "snapshots":
            continue
        v = getattr(md, fld.name)
        if fld.name in ("schemas", "partition_specs"):
            v = [asdict(s) for s in v]
        d[fld.name] = v
    snaps_out = []
    for s in md.snapshots:
        list_ref = md.manifest_list_refs.get(s.snapshot_id)
        if list_ref is None:
            list_ref = _write_snapshot_list(md, mdir, s)
            md.manifest_list_refs[s.snapshot_id] = list_ref
        snaps_out.append(
            {
                "snapshot_id": s.snapshot_id,
                "parent_id": s.parent_id,
                "timestamp_ms": s.timestamp_ms,
                "operation": s.operation,
                "schema_id": s.schema_id,
                "spec_id": s.spec_id,
                "delete_files": [asdict(df) for df in s.delete_files],
                "summary": s.summary,
                "manifest_list": list_ref,
                "count": s.file_count,
            }
        )
    d["snapshots"] = snaps_out
    return json.dumps(d, indent=1)


def _write_snapshot_list(md: TableMetadata, mdir: str, s: Snapshot) -> str:
    """Write the manifest list of a snapshot not yet on disk; returns its
    filename.

    Carried-manifest reuse is keyed on the PARENT snapshot's own
    manifest-list record for the same manifest id — the only sound
    source. A new snapshot's mid-group is always a subset of its
    parent's (fresh entries get a NEW id, carries only drop members), so
    parent count == group count implies the same set. The earlier scheme
    keyed reuse on a metadata-global (manifest_id, count) map, which
    COLLIDES across non-chain histories: rollback_to then delete creates
    two different same-size subsets of one manifest, and the second
    snapshot silently serialized the first one's file list (r14 review,
    confirmed repro: a deleted file resurrected)."""
    parent_recs: dict[int, dict] = {}
    plref = (
        md.manifest_list_refs.get(s.parent_id) if s.parent_id is not None else None
    )
    if plref is not None:
        try:
            parent_recs = {
                r["manifest_id"]: r for r in _load_manifest_list(mdir, plref)
            }
        except OSError:
            parent_recs = {}
    # A carried record is reused as is (no entry read) when the parent
    # lists the identical record and no added entry shares its id; any
    # other carried record's entries join the added groups, which reuse
    # the parent's record for their id when the counts agree.
    added = list(s.added)
    added_ids = {f.manifest_id for f in added}
    carried = []
    for r in s.manifests:
        p = parent_recs.get(r["manifest_id"])
        if (
            p is not None
            and p["ref"] == r["ref"]
            and p["count"] == r["count"]
            and r["manifest_id"] not in added_ids
        ):
            carried.append(r)
        else:
            added.extend(_load_manifest(mdir, r["ref"]))
    fresh = _group_by_manifest(added)
    for mid in list(fresh):
        prec = parent_recs.get(mid)
        if prec is not None and prec["count"] == len(fresh[mid]):
            carried.append(prec)
            del fresh[mid]
    recs = carried + [
        _manifest_rec(md, mid, write_manifest(mdir, mid, g), g)
        for mid, g in fresh.items()
    ]
    recs.sort(key=lambda r: r["manifest_id"])
    return write_manifest_list(mdir, recs)


def _from_json(text: str, mdir: str) -> TableMetadata:
    d = json.loads(text)
    d.pop("format_version", None)
    d["schemas"] = [
        Schema(schema_id=s["schema_id"], fields=[Field(**f) for f in s["fields"]])
        for s in d["schemas"]
    ]
    d["partition_specs"] = [
        PartitionSpec(spec_id=s["spec_id"], fields=[PartitionField(**f) for f in s["fields"]])
        for s in d["partition_specs"]
    ]
    loaded_lists: dict[int, str] = {}
    snaps = []
    for s in d["snapshots"]:
        list_ref = s.pop("manifest_list")
        s.pop("count")
        loaded_lists[s["snapshot_id"]] = list_ref
        # entries stay on disk until ``files`` is read: counts and
        # summaries come from the list records, and a summary-pruned scan
        # loads only the surviving manifests
        snaps.append(
            Snapshot(
                **{
                    **s,
                    "manifests": _load_manifest_list(mdir, list_ref),
                    "mdir": mdir,
                    "delete_files": [DeleteFile(**f) for f in s["delete_files"]],
                }
            )
        )
    d["snapshots"] = snaps
    md = TableMetadata(**d)
    md.manifest_list_refs.update(loaded_lists)
    return md


def metadata_dir(location: str) -> str:
    return os.path.join(location, "metadata")


def _hint_path(location: str) -> str:
    return os.path.join(metadata_dir(location), "version-hint.text")


def flip_hint(location: str, v: int) -> None:
    """Advisory hint update via write-temp + atomic replace. The temp
    name must be UNIQUE PER CALL: concurrent committers flip the hint
    concurrently (each after winning its own version slot), and a shared
    temp name lets writer B's replace() consume the file writer A is
    about to replace — A's rename then raises FileNotFoundError AFTER
    its commit durably succeeded (found by the round-12 commit-herd
    probe at 8 threads; SCALE_PROBE.md, probes/r12/
    probe_txn_contention.json). Hint monotonicity doesn't matter for correctness either
    way: current_version only probes UPWARD from whatever the hint says."""
    tmp = _hint_path(location) + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        f.write(str(v))
    os.replace(tmp, _hint_path(location))


def txn_decision(decision_path: str) -> str | None:
    """The recorded outcome of a multi-table transaction: "committed",
    "aborted", or None while undecided. The record is a file whose FIRST
    creator wins (atomic link, see record_txn_decision) — commit and
    abort race to one name, so exactly one outcome ever exists."""
    try:
        with open(decision_path) as f:
            return f.read().strip()
    except FileNotFoundError:
        return None


def record_txn_decision(decision_path: str, decision: str) -> str:
    """Atomically record a transaction outcome; returns the WINNING
    decision (which may be the other one, if a racer got there first).
    Same link-of-fully-written-temp protocol as commit_metadata, so the
    record is never torn and create-if-absent is the race arbiter."""
    os.makedirs(os.path.dirname(decision_path), exist_ok=True)
    tmp = decision_path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(decision)
    try:
        os.link(tmp, decision_path)
        return decision
    except FileExistsError:
        return txn_decision(decision_path)  # the racer's outcome stands
    finally:
        os.unlink(tmp)


# A version file whose pending_txn is this literal (rather than a
# decision-record path) is a SETTLED aborted prepare: permanently
# invisible, self-describing, no record lookup needed. Settling lets the
# aborted decision record be garbage-collected without ever making the
# burned slot's state ambiguous.
ABORTED_SENTINEL = "aborted"


def _version_state(vpath: str) -> str:
    """Classify a version file: "visible" (ordinary commit, or a prepared
    txn whose decision record says committed), "aborted" (a BURNED slot —
    a prepare whose txn aborted; permanently invisible, permanently
    occupied, see commit_metadata), or "pending" (a prepare still in
    flight). Raises FileNotFoundError if the file is absent.

    The re-read loop closes two benign races: (1) finalize strips the
    pending marker then unlinks the decision record — a reader holding
    pre-strip bytes would find the record gone and misread a committed
    version as in-flight; (2) a resolver settles an aborted claim to the
    sentinel after its record was collected. In both, the FILE content has
    already changed by the time the record is absent (finalize replaces
    before unlinking; GC collects only unreferenced records, i.e. only
    after settle), so one re-read disambiguates: changed content resolves,
    unchanged content means the txn genuinely hasn't decided yet."""
    for _ in range(2):
        with open(vpath) as f:
            pending = json.loads(f.read()).get("pending_txn")
        if pending is None:
            return "visible"
        if pending == ABORTED_SENTINEL:
            return "aborted"
        decision = txn_decision(pending)
        if decision == "committed":
            return "visible"
        if decision == "aborted":
            return "aborted"
        # record absent: re-read once (see docstring) before concluding
        # the prepare is genuinely undecided
    return "pending"


def current_version(location: str) -> int:
    """Resolve the current metadata version. The hint file is advisory
    (Iceberg HadoopTableOperations semantics): the version FILE is the
    durable commit, so we probe upward from the hint for version files a
    crashed writer committed without flipping the hint. Version files are
    always complete (created by atomic link of a fully-written temp file,
    see commit_metadata), so the highest VISIBLE one is the table state.
    A burned slot (aborted txn prepare, never unlinked — see
    _version_state) is skipped: committed versions may exist above it.
    An in-flight prepare stops the probe: nothing can commit above a
    claimed-undecided slot, and the hint invariant (a hint only ever
    names a visible version; txn prepares don't flip it) keeps the
    starting point sound."""
    try:
        with open(_hint_path(location)) as f:
            v = int(f.read().strip())
    except FileNotFoundError:
        v = 0
    mdir = metadata_dir(location)
    best = v
    while True:
        nxt = os.path.join(mdir, f"v{v + 1}.metadata.json")
        try:
            state = _version_state(nxt)
        except FileNotFoundError:
            break
        if state == "pending":
            break
        v += 1
        if state == "visible":
            best = v
        # "aborted": burned slot — keep probing, commits may sit above
    return best


def read_metadata(location: str) -> TableMetadata:
    v = current_version(location)
    if v == 0:
        raise FileNotFoundError(f"no table at {location}")
    return read_metadata_version(location, v)


def read_metadata_version(location: str, v: int) -> TableMetadata:
    """Read a SPECIFIC version file — including pending prepares —
    without resolving visibility. Maintenance/GC callers only (e.g.
    remove_orphan_files protecting a pending 2PC prepare's staged
    files); ordinary reads go through read_metadata."""
    mdir = metadata_dir(location)
    with open(os.path.join(mdir, f"v{v}.metadata.json")) as f:
        md = _from_json(f.read(), mdir)
    md.loaded_version = v
    return md


class CommitConflictError(Exception):
    """Another writer committed the version this writer was about to write.
    Callers re-read current metadata, rebase their change, and retry —
    Iceberg's optimistic-concurrency protocol."""


def commit_metadata(
    location: str, md: TableMetadata, pending_txn: str | None = None
) -> int:
    """Optimistic atomic commit, crash-safe at every step (Iceberg's
    HadoopTableOperations rename-commit protocol):

    1. Write manifest + manifest-list sidecars for any group not already
       on disk (content-addressed, write-once; carried groups are
       referenced, not rewritten — commit IO is O(delta)), then the
       version JSON (snapshot headers + list refs) to a uniquely-named
       temp file.
    2. ``os.link(tmp, v{base+1})`` — atomic create-if-absent. This is both
       the compare-and-swap (fails with FileExistsError if another writer
       claimed the version) and the durable commit point. Because the temp
       file was fully written first, a version file can never be torn.
    3. Best-effort hint flip. A crash between 2 and 3 is harmless:
       current_version probes past the hint for committed version files,
       so the orphan IS the new table state and the next writer builds on
       v+1 rather than retrying v forever.

    The version derives from ``md.loaded_version`` — the state this writer
    actually READ — so a stale writer conflicts instead of clobbering.

    ``pending_txn`` (a decision-record path) turns the commit into a 2PC
    PREPARE: the version slot is CAS-claimed exactly as above, but the
    metadata carries the pending marker and the hint is NOT flipped —
    readers keep resolving the previous version until the decision record
    says committed (see _version_state), and concurrent writers conflict
    on the claimed slot for the (bounded) life of the transaction.

    BURNED slots: a version file holding an ABORTED txn prepare is never
    unlinked (an unlink-by-path lets a racing actor destroy whoever
    re-claims the path — the TOCTOU class this design removes), so the
    slot is permanently occupied yet permanently invisible. The CAS here
    skips over burned slots: "no visible version above loaded_version"
    is the real invariant, and a burned slot is not and can never become
    visible, so allocating above it commits against the same state."""
    mdir = metadata_dir(location)
    os.makedirs(mdir, exist_ok=True)
    v = md.loaded_version + 1
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}.json")
    md.pending_txn = pending_txn
    # manifest sidecars land BEFORE the version file that references
    # them (a crash in between strands content-addressed orphans the
    # orphan sweep collects); carried groups are referenced, not
    # rewritten — this line is what makes commit IO O(delta)
    with open(tmp, "w") as f:
        f.write(_to_json(md, mdir))
    try:
        while True:
            vpath = os.path.join(mdir, f"v{v}.metadata.json")
            try:
                os.link(tmp, vpath)
                break
            except FileExistsError as e:
                try:
                    state = _version_state(vpath)
                except FileNotFoundError:
                    continue  # raced a legacy cleanup: retry this slot
                if state == "aborted":
                    v += 1  # burned slot: step over it, same base state
                    continue
                raise CommitConflictError(
                    f"version {v} at {location} was committed concurrently"
                ) from e
    finally:
        os.unlink(tmp)
    if pending_txn is None:
        flip_hint(location, v)
    md.loaded_version = v
    return v


def new_table_metadata(name: str, location: str, fields: list[Field], properties=None) -> TableMetadata:
    return TableMetadata(
        table_uuid=str(uuid.uuid4()),
        name=name,
        location=location,
        schemas=[Schema(schema_id=0, fields=fields)],
        current_schema_id=0,
        partition_specs=[PartitionSpec(spec_id=0, fields=[])],
        current_spec_id=0,
        snapshots=[],
        current_snapshot_id=None,
        properties=dict(properties or {}),
        last_field_id=max((f.id for f in fields), default=0),
        last_snapshot_id=0,
    )


def now_ms() -> int:
    return int(time.time() * 1000)


# The exactly-once micro-batch ledger shared by the three streaming sinks
# (foreachBatch, foreachBatch through the REST catalog, and the native
# tis_lake sink): each commits its batch id in table properties in the
# SAME atomic metadata commit as the snapshot.
BATCH_PROP = "streaming.last-committed-batch-id"


def batch_committed(md: TableMetadata, batch_id: int) -> bool:
    """The one replay rule: a batch at or below the last committed id
    already landed (a replay after a crash between the table commit and
    the streaming checkpoint) and must not be appended again."""
    last = md.properties.get(BATCH_PROP)
    return last is not None and int(last) >= batch_id
