"""LakeTable: Iceberg-semantics table operations on Spark (D1-D16).

Maps SURVEY.md §2.9 one-to-one; each method cites the reference snippet it
reproduces. Design stance for 100 TB:

- Planning is metadata-only: the snapshot manifest carries per-file
  partition values + column min/max, so DELETE/UPDATE/scan prune candidate
  files without listing directories or reading footers (README.md:469-487's
  lesson).
- Copy-on-write mutations rewrite ONLY candidate files that might contain
  matches; merge-on-read (``write.delete.mode=merge-on-read``,
  README.md:1112-1121) writes equality-delete files applied as an anti-join
  at read.
- All data movement is DataFrame ops — nothing collects rows on the driver
  except file-footer stats at commit time (O(files), same as an Iceberg
  commit writing manifest entries).

Single-writer commit protocol; see metadata.commit_metadata.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from datetime import date, datetime
from decimal import Decimal
from typing import Any, Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tutorial_iceberg_spark.io import parquet_schema
from tutorial_iceberg_spark.lakehouse import metadata as M
from tutorial_iceberg_spark.lakehouse import transforms as T


def _json_safe(v: Any):
    if isinstance(v, (datetime, date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime) else v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, float) or isinstance(v, int) or isinstance(v, str) or v is None:
        return v
    return str(v)


def footer_stats(fpath: str) -> tuple[int, dict[str, list]]:
    """(num_rows, {written column name: [min, max]}) from a parquet
    FOOTER — zero data IO. The single stats producer for every manifest
    entry (engine writes AND the tis_lake DataSource writer), so
    pruning compares values of one provenance."""
    stats: dict[str, list] = {}
    meta = pq.ParquetFile(fpath).metadata
    nrows = meta.num_rows
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                lo, hi = _json_safe(st.min), _json_safe(st.max)
            except Exception:
                # pyarrow can't surface stats for every physical type
                # (e.g. decimals); planning just won't prune on those
                continue
            cur = stats.get(col.path_in_schema)
            if cur is None:
                stats[col.path_in_schema] = [lo, hi]
            else:
                stats[col.path_in_schema] = [
                    min(cur[0], lo), max(cur[1], hi),
                ]
    return nrows, stats


def _written_parquet(dir_path: str) -> tuple[list[str], int]:
    """(sorted part-file names, total rows) of a directory a Spark write
    just produced, the rows summed from the parquet FOOTERS — no Spark job
    and no data IO."""
    names = sorted(n for n in os.listdir(dir_path) if n.endswith(".parquet"))
    rows = sum(
        pq.ParquetFile(os.path.join(dir_path, n)).metadata.num_rows for n in names
    )
    return names, rows


# On-disk schemas of the fixed-shape delete files, by DeleteFile.content
_DELETE_DDL = {
    "position": "file_path string, pos bigint",
    "vector": "file_path string, words array<bigint>, offset int, cardinality bigint",
}


class MergeConflictError(Exception):
    """A diverged branch's delta cannot be replayed onto current main
    without risking row-level damage (non-append ops in the delta) —
    resolve at the row level (e.g. MERGE INTO from read_branch)."""


class LakeTable:
    def __init__(self, spark: SparkSession, location: str):
        self.spark = spark
        self.location = location

    # -- metadata access ----------------------------------------------
    @property
    def meta(self) -> M.TableMetadata:
        return M.read_metadata(self.location)

    def _commit(self, md: M.TableMetadata) -> None:
        M.commit_metadata(self.location, md)

    def _abs(self, rel: str) -> str:
        return os.path.join(self.location, rel)

    # -- create ---------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        location: str,
        schema_ddl: str,
        name: str = "",
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> "LakeTable":
        """D1 CREATE TABLE ... USING iceberg — README.md:944-951."""
        fields = []
        empty = spark.createDataFrame([], schema_ddl)
        for i, f in enumerate(empty.schema.fields, start=1):
            fields.append(M.Field(id=i, name=f.name, type=f.dataType.simpleString()))
        md = M.new_table_metadata(name or os.path.basename(location), location, fields, properties)
        if partition_by:
            pfields = []
            by_name = {f.name: f for f in fields}
            for decl in partition_by:
                transform, col = T.parse_transform_decl(decl)
                suffix = transform.split("[")[0]
                pname = col if transform == "identity" else f"{col}_{suffix}"
                pfields.append(
                    M.PartitionField(
                        source=col, source_id=by_name[col].id, transform=transform, name=pname
                    )
                )
            md.partition_specs = [M.PartitionSpec(spec_id=0, fields=pfields)]
        M.commit_metadata(location, md)
        return cls(spark, location)

    @classmethod
    def load(cls, spark: SparkSession, location: str) -> "LakeTable":
        M.read_metadata(location)  # raises if absent
        return cls(spark, location)

    # -- write path -------------------------------------------------------
    def _align(self, df: DataFrame, schema: M.Schema) -> DataFrame:
        cols = []
        for f in schema.fields:
            if f.name in df.columns:
                cols.append(F.col(f.name).cast(f.type).alias(f.name))
            elif f.initial_default is not None:
                cols.append(F.lit(f.initial_default).cast(f.type).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.type).alias(f.name))
        return df.select(*cols)

    def _write_files(self, df: DataFrame, md: M.TableMetadata) -> list[M.DataFile]:
        """Write one batch of data files; returns manifest entries with
        footer stats. Partition columns are written as extra `_p_*` dirs so
        logical columns stay in the data files (identity transforms too)."""
        spec = md.spec()
        rel_dir = os.path.join("data", uuid.uuid4().hex[:12])
        out = self._abs(rel_dir)
        writer_df = df
        pcols = []
        for pf in spec.fields:
            pcol = f"_p_{pf.name}"
            writer_df = writer_df.withColumn(pcol, T.transform_column(pf.transform, pf.source))
            pcols.append(pcol)
        w = writer_df.write.mode("overwrite")
        if pcols:
            writer_df = writer_df.repartition(*[F.col(c) for c in pcols])
            w = writer_df.write.mode("overwrite").partitionBy(*pcols)
        w.parquet(out)

        files: list[M.DataFile] = []
        for root, _dirs, names in os.walk(out):
            for n in sorted(names):
                if not n.endswith(".parquet"):
                    continue
                fpath = os.path.join(root, n)
                rel = os.path.relpath(fpath, self.location)
                partition: dict[str, str] = {}
                for part in os.path.relpath(root, out).split(os.sep):
                    if "=" in part:
                        k, v = part.split("=", 1)
                        partition[k.removeprefix("_p_")] = v
                try:
                    nrows, stats = footer_stats(fpath)
                except Exception:
                    # pyarrow rejects footers with logical types it doesn't
                    # know (Spark's VARIANT); count via Spark instead and
                    # carry no column stats — the file is still fully
                    # readable, it just never prunes. The one read with
                    # no known schema: the file's metadata entry is being
                    # built here
                    nrows, stats = self.spark.read.parquet(fpath).count(), {}
                if nrows == 0:
                    # Spark emits an empty schema-carrier part file when a
                    # write task has no rows. A zero-row file carries NO
                    # column stats, so it can never be pruned — the 100x
                    # narrow-merge probe measured one such file per append
                    # being rewritten by EVERY later merge (108 rewrites
                    # for a 9-file true overlap). It contributes nothing
                    # to reads; keep it out of the manifest.
                    continue
                files.append(
                    M.DataFile(
                        path=rel,
                        rows=nrows,
                        bytes=os.path.getsize(fpath),
                        schema_id=md.current_schema_id,
                        spec_id=md.current_spec_id,
                        partition=partition,
                        stats=stats,
                    )
                )
        return files

    def _new_snapshot(
        self,
        md: M.TableMetadata,
        operation: str,
        files: list[M.DataFile],
        delete_files: list[M.DeleteFile] | None = None,
        summary: dict | None = None,
        ref: str | None = None,
        commit: bool = True,
        carried: tuple[dict, ...] = (),
    ) -> None:
        """Commit a snapshot of ``carried`` manifest-list records (manifests
        kept by reference, their entries never read) plus ``files``.
        ``ref=None`` advances main; a branch name advances only that ref
        (main's pointer is untouched — the isolation property
        write-audit-publish relies on). ``commit=False`` stages the
        snapshot on ``md`` without committing — the multi-table
        transaction path commits all its tables' staged metadata itself
        (lakehouse/transaction.py)."""
        md.last_snapshot_id += 1
        # Manifest bookkeeping (Iceberg shape): entries carried over from
        # prior snapshots keep their manifest id (their manifest file is
        # reused by reference); entries this commit created (stamped 0 by
        # _write_files) land together in ONE fresh manifest. Restamping,
        # the merge policy and the snapshot summary need only the carried
        # records' ids and counts, so a warm append's commit wall is
        # O(new files), not O(current files).
        fresh = [f for f in files if f.manifest_id == 0]
        if fresh:
            md.last_manifest_id += 1
            for f in fresh:
                f.manifest_id = md.last_manifest_id
        # Commit-time manifest merging (Iceberg's
        # commit.manifest.min-count-to-merge): without it a table built
        # by K appends references K manifests forever, so the per-commit
        # manifest LIST grows O(K) — measured 1 MB/commit at 30k files
        # in the r14 probe. When the new snapshot would reference more
        # than MANIFEST_MERGE_MIN manifests, the smallest
        # MANIFEST_MERGE_BATCH groups merge into one fresh manifest
        # (COPIES — the originals stay aliased in prior snapshots).
        # LSM-style amortization: each entry is rewritten O(log) times
        # over the table's life, and the list stays O(MANIFEST_MERGE_MIN)
        # so commit bytes stay O(new files). Carried records count
        # toward the policy by their record alone; only the groups a
        # merge round picks load their entries.
        mdir = M.metadata_dir(self.location)
        recs_by_id = {r["manifest_id"]: r for r in carried}
        groups = M._group_by_manifest(files)
        sizes: dict[int, int] = {
            **{m: r["count"] for m, r in recs_by_id.items()},
            **{m: len(g) for m, g in groups.items()},
        }
        if len(sizes) > self.MANIFEST_MERGE_MIN:
            while len(sizes) > self.MANIFEST_MERGE_MIN:
                smallest = sorted(sizes, key=sizes.get)[: self.MANIFEST_MERGE_BATCH]
                merged_src: list[M.DataFile] = []
                for mid in smallest:
                    merged_src.extend(
                        groups.pop(mid)
                        if mid in groups
                        else M._load_manifest(mdir, recs_by_id.pop(mid)["ref"])
                    )
                    del sizes[mid]
                for nid, g in self._clustered_merge_groups(md, merged_src):
                    groups[nid] = g
                    sizes[nid] = len(g)
            files = [f for g in groups.values() for f in g]
        parent = md.refs.get(ref) if ref is not None else md.current_snapshot_id
        snap = M.Snapshot(
            snapshot_id=md.last_snapshot_id,
            parent_id=parent,
            timestamp_ms=M.now_ms(),
            operation=operation,
            schema_id=md.current_schema_id,
            spec_id=md.current_spec_id,
            manifests=tuple(recs_by_id.values()),
            added=list(files),
            delete_files=list(delete_files or []),
            mdir=mdir,
        )
        snap.summary = {
            "total-files": snap.file_count,
            "total-rows": snap.row_count,
            **(summary or {}),
        }
        md.snapshots.append(snap)
        if ref is not None:
            md.refs[ref] = snap.snapshot_id
        else:
            md.current_snapshot_id = snap.snapshot_id
        if commit:
            self._commit(md)

    # Manifest-merge policy (see _new_snapshot): a snapshot references at
    # most MIN + BATCH manifests; each merge coalesces the BATCH smallest
    # into at most BATCH // 2 partition-clustered manifests.
    MANIFEST_MERGE_MIN = 32
    MANIFEST_MERGE_BATCH = 16

    @staticmethod
    def _pclust_key(f: M.DataFile):
        """Total order over (spec, partition tuple) that never raises on
        mixed value types: values group by type name first, then compare
        within the type (a str month and an int bucket simply land in
        separate runs — ordering quality, never correctness)."""
        return (
            f.spec_id,
            tuple(
                (k, v is None, type(v).__name__, 0 if v is None else v)
                for k, v in sorted(f.partition.items())
            ),
        )

    def _clustered_merge_groups(
        self, md: M.TableMetadata, merged: list[M.DataFile]
    ) -> list[tuple[int, list[M.DataFile]]]:
        """Split one merge round's collected entries into partition-
        CLUSTERED output manifests (r14 verdict Next #2). Arrival-order
        merging interleaves partitions, so every merged manifest's
        partition summary covered everything and never pruned — after K
        interleaved-partition appends, summary-pruning efficiency
        depended on an explicit rewrite_manifests. Clustering here keeps
        each output manifest to a contiguous partition range, so
        plan-time pruning holds WITHOUT maintenance (SCALE_PROBE.md
        round 15, probes/r15/cluster_probe.json: touched-manifest count after 50 interleaved
        appends ~equals the post-rewrite_manifests count).

        Output group count is capped at MANIFEST_MERGE_BATCH // 2, so a
        merge round still nets the manifest count down by >= BATCH/2 and
        the while-loop in _new_snapshot terminates; a single partition
        is never split across output groups (splitting buys no pruning
        and doubles the manifest-list growth)."""
        order = sorted(merged, key=self._pclust_key)
        nparts = len({self._pclust_key(f) for f in merged})
        nout = min(nparts, max(1, self.MANIFEST_MERGE_BATCH // 2))
        out_groups: list[list[M.DataFile]]
        if nout <= 1:
            out_groups = [order]
        else:
            per = -(-len(order) // nout)  # ceil
            out_groups = []
            cur: list[M.DataFile] = []
            prev_key = None
            for f in order:
                k = self._pclust_key(f)
                if (
                    cur
                    and len(cur) >= per
                    and k != prev_key
                    and len(out_groups) < nout - 1
                ):
                    out_groups.append(cur)
                    cur = []
                cur.append(f)
                prev_key = k
            out_groups.append(cur)
        result = []
        for g in out_groups:
            md.last_manifest_id += 1
            nid = md.last_manifest_id
            result.append(
                (
                    nid,
                    [
                        M.DataFile(**{**f.__dict__, "manifest_id": nid})
                        for f in g
                    ],
                )
            )
        return result

    # -- D16 INSERT / append ---------------------------------------------
    # With W concurrent writers, one commit round has one winner, so a
    # writer may need up to W-1 rebases; 10 covers realistic single-table
    # writer fan-in (Iceberg's default commit retries is 4 with backoff —
    # we rebase instantly instead, so a higher count is the same wait).
    APPEND_RETRIES = 10

    def _carried_plus(
        self, parent: M.Snapshot | None, new_files: list[M.DataFile]
    ) -> tuple[tuple[dict, ...], list[M.DataFile]]:
        """(carried records, entries) for a pure append: the parent's
        manifests carried BY REFERENCE (its manifest-list records, never
        their entries), then the parent's added entries and the fresh
        ones. This is what makes a warm append O(new files): _new_snapshot
        and _to_json both consume the records directly, so no manifest
        entry file is read or parsed on the append path (SCALE_PROBE.md
        measured 0.47 s per warm append at 10^6 entries when it read
        every entry instead)."""
        if parent is None:
            return (), list(new_files)
        return parent.manifests, [*parent.added, *new_files]

    def _snapshot_files(
        self,
        md: M.TableMetadata,
        entries: list[M.DataFile],
        operation: str = "append",
        summary: dict | None = None,
        ref: str | None = None,
        commit: bool = True,
    ) -> None:
        """The one snapshot builder for freshly written files: an
        ``"overwrite"`` replaces the head of ``ref`` (main when None);
        any other operation carries the head's files by manifest record
        (_carried_plus) plus ``entries``, keeping its delete files."""
        if operation == "overwrite":
            carried, files, dels = (), list(entries), []
        else:
            head = md.snapshot(md.refs[ref]) if ref is not None else md.snapshot()
            carried, files = self._carried_plus(head, entries)
            dels = list(head.delete_files) if head else []
        self._new_snapshot(
            md, operation, files, dels, summary, ref=ref, commit=commit, carried=carried
        )

    def _commit_files(
        self,
        md: M.TableMetadata,
        entries: list[M.DataFile],
        operation: str = "append",
        summary: dict | None = None,
        ref: str | None = None,
        properties: dict[str, str] | None = None,
        skip_if=None,
    ) -> bool:
        """The one local optimistic commit loop (Iceberg's fast-append
        protocol): the data files are written exactly once; on a commit
        conflict only the metadata step rebases — re-read current state,
        re-point the new snapshot at the latest head, retry the CAS.

        ``properties`` merge into table properties in the SAME atomic
        metadata commit as the snapshot — the primitive an exactly-once
        sink uses to record its batch id with the data. ``skip_if(md)``
        True, checked before every attempt, means another commit already
        landed this logical write (a replayed batch): nothing commits and
        the call returns False."""
        last_err: Exception | None = None
        for _ in range(self.APPEND_RETRIES):
            if skip_if is not None and skip_if(md):
                return False
            if properties:
                md.properties.update(properties)
            try:
                self._snapshot_files(md, entries, operation, summary, ref)
                return True
            except M.CommitConflictError as e:
                last_err = e
                md = self.meta  # rebase on the winner's metadata
                # the failed attempt already stamped the entries with a
                # manifest id from the STALE counter — an id the winner may
                # also have consumed; restamp under the rebased counter or
                # two commits' entries silently share one manifest group
                for f in entries:
                    f.manifest_id = 0
                if ref is not None and ref not in md.refs:
                    raise ValueError(f"branch {ref} dropped concurrently") from e
        raise last_err  # type: ignore[misc]

    def append(self, df: DataFrame, properties: dict[str, str] | None = None) -> None:
        """D16 INSERT INTO ... VALUES / append — README.md:1136-1138.
        Writes the data files once and commits them through _commit_files,
        with ``properties`` merged in the same atomic metadata commit
        (the exactly-once foreachBatch sink's batch id, see
        streaming/events_stream.py)."""
        md = self.meta
        new_files = self._write_files(self._align(df, md.schema()), md)
        self._commit_files(md, new_files, properties=properties)

    # -- branches / write-audit-publish -----------------------------------
    # Beyond the reference surface (it stops at snapshots + time travel,
    # README.md:1007-1013); models Iceberg's branch refs and fast_forward
    # procedure. A branch is a named ref into the same snapshot DAG: branch
    # writes advance only the ref, so main stays byte-identical until an
    # explicit fast-forward publish — the WAP staging pattern an ingest
    # pipeline needs before exposing data to readers.

    def branches(self) -> dict[str, int]:
        return dict(self.meta.refs)

    def create_branch(self, name: str, snapshot_id: int | None = None) -> None:
        """Create a branch ref at ``snapshot_id`` (default: current main)."""
        md = self.meta
        if name in md.refs:
            raise ValueError(f"branch {name} already exists")
        sid = md.current_snapshot_id if snapshot_id is None else snapshot_id
        if sid is None or md.snapshot(sid) is None:
            raise ValueError("branch must start at an existing snapshot")
        md.refs[name] = sid
        self._commit(md)

    def drop_branch(self, name: str) -> None:
        md = self.meta
        if name not in md.refs:
            raise ValueError(f"no branch {name}")
        del md.refs[name]
        # snapshots reachable only from the dropped ref stay in history
        # until expire_snapshots collects them (same lifecycle as D13)
        self._commit(md)

    def append_to_branch(self, name: str, df: DataFrame) -> None:
        """D16 append targeting a branch ref: same optimistic-retry commit
        as append(), but only ``refs[name]`` advances — main is isolated."""
        md = self.meta
        if name not in md.refs:
            raise ValueError(f"no branch {name}")
        new_files = self._write_files(self._align(df, md.schema()), md)
        self._commit_files(md, new_files, ref=name)

    def read_branch(self, name: str) -> DataFrame:
        md = self.meta
        if name not in md.refs:
            raise ValueError(f"no branch {name}")
        return self.read(snapshot_id=md.refs[name])

    # -- tags (immutable refs) --------------------------------------------
    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Pin a snapshot under an immutable name (Iceberg tag): reads stay
        reproducible and expire_snapshots will never collect it."""
        md = self.meta
        if name in md.tags:
            raise ValueError(f"tag {name} already exists")
        sid = md.current_snapshot_id if snapshot_id is None else snapshot_id
        if sid is None or md.snapshot(sid) is None:
            raise ValueError("tag must point at an existing snapshot")
        md.tags[name] = sid
        self._commit(md)

    def drop_tag(self, name: str) -> None:
        md = self.meta
        if name not in md.tags:
            raise ValueError(f"no tag {name}")
        del md.tags[name]
        self._commit(md)

    def read_tag(self, name: str) -> DataFrame:
        md = self.meta
        if name not in md.tags:
            raise ValueError(f"no tag {name}")
        return self.read(snapshot_id=md.tags[name])

    def _is_ancestor(self, md: M.TableMetadata, ancestor: int | None, head: int) -> bool:
        cur: int | None = head
        while cur is not None:
            if cur == ancestor:
                return True
            snap = md.snapshot(cur)
            cur = snap.parent_id if snap else None
        return ancestor is None

    def fast_forward(self, name: str) -> None:
        """Publish a branch: point main at the branch head. Fast-forward
        ONLY (like Iceberg's fast_forward procedure): main's current
        snapshot must be an ancestor of the branch head, else the branch
        has diverged from a main that moved on and publishing would
        silently drop main's commits — that needs an explicit merge/rebase,
        not a pointer flip."""
        md = self.meta
        if name not in md.refs:
            raise ValueError(f"no branch {name}")
        head = md.refs[name]
        if not self._is_ancestor(md, md.current_snapshot_id, head):
            raise ValueError(
                f"main is not an ancestor of branch {name}: diverged — "
                "fast-forward refused"
            )
        md.current_snapshot_id = head
        self._commit(md)

    def merge_branch(self, name: str) -> None:
        """Publish a branch that DIVERGED from a main that moved on — the
        one branching semantic fast_forward refuses (r12 verdict Next #8).
        Semantics follow git's rebase-merge restricted to what snapshot
        algebra can honestly replay: the branch's post-fork delta is
        re-applied onto current main as ONE new snapshot.

        Conflict detection: every branch snapshot past the fork point
        must be a pure APPEND. Appends commute with anything main did
        (their files are new by construction — uuid paths — and carry
        their own schema/spec ids, so read-time projection handles a
        main-side schema evolution), so the merge is exactly the commit
        a rebase-retried multi-file append would have produced. Any
        non-append branch op (delete/update/replace) was computed
        against the branch's view of rows main may have since changed —
        replaying it could silently drop or resurrect main-side rows, so
        the merge refuses with MergeConflictError and the caller
        resolves at the row level (e.g. MERGE INTO from read_branch).

        If main never moved, this degrades to fast_forward. The branch
        ref is left in place (drop_branch publishes the cleanup)."""
        md = self.meta
        if name not in md.refs:
            raise ValueError(f"no branch {name}")
        head = md.refs[name]
        if self._is_ancestor(md, md.current_snapshot_id, head):
            return self.fast_forward(name)
        # walk the branch back to the fork point (first snapshot that is
        # an ancestor of main), collecting the branch-side delta
        delta: list[M.Snapshot] = []
        cur: int | None = head
        while cur is not None and not self._is_ancestor(
            md, cur, md.current_snapshot_id
        ):
            snap = md.snapshot(cur)
            if snap is None:
                raise ValueError(
                    f"branch {name} history crosses an expired snapshot — "
                    "unmergeable"
                )
            delta.append(snap)
            cur = snap.parent_id
        non_append = [s for s in delta if s.operation != "append"]
        if non_append:
            raise MergeConflictError(
                f"branch {name} diverged with non-append operations "
                f"({sorted({s.operation for s in non_append})}) — replaying "
                "them onto a moved main could drop or resurrect rows; "
                "resolve row-level (e.g. MERGE INTO from read_branch)"
            )
        # files each branch append introduced (relative to ITS parent):
        # new by construction (uuid paths), so the union is duplicate-free.
        # COPIED entries, not aliases (ADVICE r13): the originals live in
        # the branch's historical snapshots inside this same TableMetadata,
        # and the commit's manifest stamping would otherwise rewrite the
        # branch history's manifest grouping in the committed metadata
        added = [
            M.DataFile(**{**f.__dict__, "manifest_id": 0})
            for s in delta
            for f in self._added_by(md, s)
        ]
        self._commit_files(
            md, added, "merge",
            {"merged-branch": name, "merged-snapshots": len(delta)},
        )

    # -- read path ---------------------------------------------------------
    def _empty_df(self, schema: M.Schema) -> DataFrame:
        return self.spark.createDataFrame([], schema.ddl())

    # row coordinate = path suffix from "data/" on: identical between the
    # position-delete writer and the read-time anti-join by construction
    @staticmethod
    def _pos_coord():
        return F.regexp_extract(F.col("_metadata.file_path"), "(data/.+)$", 1)

    def _read_files(
        self, md: M.TableMetadata, files: list[M.DataFile], with_pos: bool = False
    ) -> DataFrame:
        current = md.schema()
        if not files:
            return self._empty_df(current)
        by_schema: dict[int, list[M.DataFile]] = {}
        for f in files:
            by_schema.setdefault(f.schema_id, []).append(f)
        parts: list[DataFrame] = []
        for sid, group in by_schema.items():
            written = md.schema(sid)
            wnames = written.by_id()
            # the metadata holds the schema these files were written
            # with, so the read starts no schema-inference job
            raw = self.spark.read.schema(written.ddl()).parquet(
                *[self._abs(f.path) for f in group]
            )
            cols = []
            if with_pos:
                # Spark's per-file metadata column supplies the (file, row)
                # coordinate executor-side — needed to apply position deletes
                cols.append(self._pos_coord().alias("__fp"))
                cols.append(F.col("_metadata.row_index").alias("__pos"))
            for f in current.fields:
                old = wnames.get(f.id)
                if old is not None:
                    cols.append(F.col(old.name).cast(f.type).alias(f.name))
                else:
                    # D7: read-time default for columns added after these
                    # files were written (README.md:1159-1166)
                    cols.append(F.lit(f.initial_default).cast(f.type).alias(f.name))
            parts.append(raw.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(
        self, snapshot_id: int | None = None, as_of_ms: int | None = None
    ) -> DataFrame:
        """Current-state read, or D10 time travel (VERSION AS OF /
        TIMESTAMP AS OF — README.md:1007-1010)."""
        md = self.meta
        if as_of_ms is not None:
            snap = md.snapshot_as_of(as_of_ms)
        else:
            snap = md.snapshot(snapshot_id)
        if snap is None:
            # An EXPLICIT snapshot id that no longer resolves must fail
            # loudly: returning the empty frame here would let a CDC
            # consumer diff against an expired snapshot and silently
            # report every current row as INSERT (a wrong partial diff).
            # Only "no snapshot yet" (fresh table / as-of predating
            # history) reads as empty.
            if snapshot_id is not None:
                raise ValueError(
                    f"snapshot {snapshot_id} does not exist — it was "
                    "expired (or never existed); time travel and "
                    "changelogs across an expired boundary are "
                    "unrecoverable"
                )
            return self._empty_df(md.schema())
        return self._read_snapshot(md, snap, snap.files)

    def _read_snapshot(
        self, md: M.TableMetadata, snap: M.Snapshot, files: list[M.DataFile]
    ) -> DataFrame:
        """Read a subset of a snapshot's data files with its MoR delete
        files applied. Sound under pruning: deletes only REMOVE rows, so
        applying them to any file subset never resurrects anything —
        position coordinates for unread files simply find no match, and
        equality keys anti-join whatever subset is present."""
        has_pos = any(
            d.content in ("position", "vector") for d in snap.delete_files
        )
        df = self._read_files(md, files, with_pos=has_pos)
        for dfi in snap.delete_files:
            path = self._abs(dfi.path)
            # equality keys carry the types of the schema they were deleted
            # under, which a later promotion may have changed: read with
            # the file's own schema, inferred once per file
            ddl = _DELETE_DDL.get(dfi.content) or parquet_schema(self.spark, path)
            dels = self.spark.read.schema(ddl).parquet(path)
            if dfi.content == "position":
                coords = dels.select(
                    F.col("file_path").alias("__fp"), F.col("pos").alias("__pos")
                )
                df = df.join(coords, on=["__fp", "__pos"], how="left_anti")
            elif dfi.content == "vector":
                # one bitmap row per touched file: left-join on the file
                # key (AQE broadcasts the small side), then a branch-free
                # codegen bit test — rows from untouched files see a NULL
                # bitmap and pass through
                dv = dels.select(
                    F.col("file_path").alias("__fp"),
                    F.col("words").alias("__dv_words"),
                    F.col("offset").alias("__dv_off"),
                )
                # bitmaps are offset-trimmed (words start at word index
                # __dv_off): positions below the first stored word (idx <
                # 1 — must be guarded, a NEGATIVE try_element_at index
                # counts from the array END) or past the last one (NULL)
                # are kept; arithmetic shiftright is bit-correct for bit
                # 63 because &1 keeps only the landed bit regardless of
                # sign fill
                idx = "(CAST(__pos DIV 64 AS INT) - __dv_off + 1)"
                kept = F.expr(
                    "__dv_words IS NULL OR "
                    f"{idx} < 1 OR "
                    f"try_element_at(__dv_words, {idx}) IS NULL OR "
                    f"(shiftright(try_element_at(__dv_words, {idx}), "
                    "CAST(__pos % 64 AS INT)) & 1) = 0"
                )
                df = df.join(dv, on="__fp", how="left").filter(kept).drop(
                    "__dv_words", "__dv_off"
                )
            else:
                # equality-delete row count is bounded only by the DELETE
                # statement that produced it, so no hard broadcast hint —
                # AQE broadcasts small delete files and shuffle-anti-joins
                # bulk deletes
                df = df.join(dels, on=dfi.equality_columns, how="left_anti")
        return df.drop("__fp", "__pos") if has_pos else df

    def _added_by(
        self, md: M.TableMetadata, snap: M.Snapshot
    ) -> list[M.DataFile]:
        """The data files ``snap`` added over its parent (all of its
        files when the parent is gone). Diffs only the manifests whose
        (id, ref) changed between the two: an unchanged manifest holds
        the same paths on both sides, and a commit-time merge round's
        moved entries cancel out against the manifests it consumed, so
        one append plans in O(changed manifests), not O(table). When
        either side has no manifest list on disk, the full path sets are
        diffed instead."""
        parent = md.snapshot(snap.parent_id) if snap.parent_id is not None else None
        if parent is None:
            return list(snap.files)
        srecs = self._snapshot_manifest_recs(md, snap)
        precs = self._snapshot_manifest_recs(md, parent)
        if not (srecs and precs):
            old = {f.path for f in parent.files}
            return [f for f in snap.files if f.path not in old]
        mdir = M.metadata_dir(self.location)

        def moved(a: dict, b: dict) -> list[str]:
            return [r["ref"] for mid, r in a.items() if b.get(mid, {}).get("ref") != r["ref"]]

        old = {f.path for ref in moved(precs, srecs) for f in M._load_manifest(mdir, ref)}
        return [
            f
            for ref in moved(srecs, precs)
            for f in M._load_manifest(mdir, ref)
            if f.path not in old
        ]

    def _appended_files(
        self, md: M.TableMetadata, from_sid: int | None, to_sid: int | None
    ) -> list[M.DataFile]:
        """Data files appended in the snapshot range (``from_sid``,
        ``to_sid``], oldest first; ``from_sid=None`` means table genesis
        and ``to_sid=None`` the current snapshot. The one changelog plan
        behind incremental_read and the tis_lake stream source.

        Raises when any snapshot in the range is not a plain append
        (rewrites have no row-level changelog without full diffing), and
        when ``from_sid`` was expired: the changes between an expired
        snapshot and the oldest live one are unrecoverable, so a
        resuming consumer must fail loudly, never get a partial diff
        (Iceberg's incremental-scan behavior)."""
        to_snap = md.snapshot(to_sid)
        if to_snap is None:
            raise ValueError("to_snapshot_id does not exist")
        if from_sid is not None and md.snapshot(from_sid) is None:
            raise ValueError(
                f"from snapshot {from_sid} no longer exists — it "
                "was expired (or never existed); the changelog across an "
                "expired boundary is unrecoverable, resume with a full "
                "recompute from a live snapshot"
            )
        chain: list[M.Snapshot] = []
        cur = to_snap
        while cur is not None and cur.snapshot_id != from_sid:
            chain.append(cur)
            cur = md.snapshot(cur.parent_id) if cur.parent_id is not None else None
        if cur is None and from_sid is not None:
            raise ValueError(
                f"snapshot {from_sid} is not an ancestor of "
                f"{to_snap.snapshot_id}"
            )
        bad = [s.snapshot_id for s in chain if s.operation != "append"]
        if bad:
            raise ValueError(f"non-append snapshots in range: {bad}")
        new_files: list[M.DataFile] = []
        seen: set[str] = set()
        for snap in reversed(chain):
            for f in self._added_by(md, snap):
                if f.path not in seen:
                    seen.add(f.path)
                    new_files.append(f)
        return new_files

    def incremental_read(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> DataFrame:
        """Changelog read: rows appended after ``from`` up to ``to``.

        Mirrors Iceberg's incremental append scan
        (``spark.read.option("start-snapshot-id", ...)``), with the
        refusals of _appended_files. Planning is metadata-only and reads
        only the manifests each append changed (_added_by); no data file
        is opened until the returned DataFrame executes, and only the
        appended files are ever scanned (the CDC-feed primitive for
        downstream incremental ETL).
        """
        md = self.meta
        return self._read_files(
            md, self._appended_files(md, from_snapshot_id, to_snapshot_id)
        )

    def scan(self, pred_sql: str | None = None) -> DataFrame:
        """Filtered read with manifest pruning: partition values + column
        min/max decide which files can contain matches; only those are
        scanned. The residual filter still applies (pruning is best-effort,
        never load-bearing for correctness)."""
        md = self.meta
        snap = md.snapshot()
        if snap is None:
            return self._empty_df(md.schema())
        # pruning composes with MoR deletes: deletes only remove rows, so
        # reading just the candidate files and then anti-joining the delete
        # files is exactly the full read filtered (a pruned-out file can
        # contain no matching row, deleted or not)
        files = self._candidates(md, snap, pred_sql) if pred_sql else snap.files
        df = self._read_snapshot(md, snap, files)
        return df.filter(F.expr(pred_sql)) if pred_sql else df

    def manifest_groups(
        self, snap: M.Snapshot | None = None
    ) -> dict[int, list[M.DataFile]]:
        """Snapshot entries grouped by manifest file (planning unit)."""
        snap = snap or self.meta.snapshot()
        return M._group_by_manifest(snap.files)

    def _snapshot_manifest_recs(
        self, md: M.TableMetadata, snap: M.Snapshot
    ) -> dict[int, dict]:
        """manifest_id -> manifest-list record (with its write-time
        pruning summary) for this snapshot; {} for a snapshot whose list
        is not on disk (staged with ``commit=False``, or collected by a
        racing expiry) — callers then take its entries as they are."""
        lref = md.manifest_list_refs.get(snap.snapshot_id)
        if not lref:
            return {}
        try:
            recs = M._load_manifest_list(
                M.metadata_dir(self.location), lref
            )
        except OSError:
            return {}
        return {r["manifest_id"]: r for r in recs}

    @staticmethod
    def _summary_may_match(md, summary, conjuncts) -> bool:
        """Manifest pruning from the WRITE-TIME summary (metadata.
        manifest_summary) — O(conjuncts) per manifest instead of
        O(member entries). Never prunes a manifest the per-file check
        would keep: bounds cover the full original manifest (valid for
        any carried subset), partition combos are the write-time
        superset, and bounds aggregate under the same value order
        (metadata._stat_agg_key) stats_may_match compares with.
        Field-id keys survive renames; a column added after the summary
        was written has no bound and never prunes."""
        current_by_name = {f.name: f.id for f in md.schema().fields}
        bounds = summary.get("b") or {}
        parts = summary.get("p")
        wtypes_cache: dict[tuple[int, int], dict[str, str]] = {}
        for col, op, val in conjuncts:
            fid = current_by_name.get(col)
            bnd = bounds.get(str(fid)) if fid is not None else None
            if bnd is not None and not T.stats_may_match(bnd, op, val):
                return False
            if parts is not None:
                ok = False
                for sid, schid, pv in parts:
                    gen = (sid, schid)
                    st = wtypes_cache.get(gen)
                    if st is None:
                        st = LakeTable._written_source_types(
                            md, md.spec(sid), schid
                        )
                        wtypes_cache[gen] = st
                    if T.partition_may_match(
                        md.spec(sid).fields, dict(pv), col, op, val, st
                    ):
                        ok = True
                        break
                if not ok:
                    return False
        return True

    def plan_manifests(
        self, pred_sql: str, snap: M.Snapshot | None = None
    ) -> tuple[int, int]:
        """(manifests touched, total manifests) for a predicate — the
        metadata-planning cost a scan pays before opening any data file.
        This is what rewrite_manifests improves: after reclustering,
        aggregate manifest stats become selective and whole manifests
        drop out of planning."""
        md = self.meta
        snap = snap or md.snapshot()
        conjuncts = T.parse_conjuncts(pred_sql)
        recs = self._snapshot_manifest_recs(md, snap).values()
        if conjuncts is None:
            return len(recs), len(recs)
        touched = sum(
            self._summary_may_match(md, r["summary"], conjuncts) for r in recs
        )
        return touched, len(recs)

    @staticmethod
    def _written_source_types(
        md: M.TableMetadata, spec: M.PartitionSpec, schema_id: int
    ) -> dict[str, str]:
        """Partition-source name -> the type the FILE's writer saw, resolved
        by field id against the file's written schema. partition_may_match's
        bucket gate must key on this, never the current schema: after
        ``promote_column(int -> bigint)`` the current type says hashLong,
        but pre-promotion files' partition values were computed with
        Spark's int32 xxhash64 encoding — pruning them with the long hash
        silently drops matching files (ADVICE r11 high)."""
        by_id = {fl.id: fl for fl in md.schema(schema_id).fields}
        return {
            pf.source: by_id[pf.source_id].type
            for pf in spec.fields
            if pf.source_id in by_id
        }

    def _candidates(
        self, md: M.TableMetadata, snap: M.Snapshot, pred_sql: str
    ) -> list[M.DataFile]:
        conjuncts = T.parse_conjuncts(pred_sql)
        if conjuncts is None:
            return list(snap.files)
        return self._prune(md, snap, conjuncts)

    def _prune(
        self, md: M.TableMetadata, snap: M.Snapshot, conjuncts: list
    ) -> list[M.DataFile]:
        """The snapshot's files that may hold rows matching every
        ``(col, op, value)`` conjunct, by partition values and column
        min/max — the one file pruner behind scan, DELETE, UPDATE,
        MERGE and the tis_lake source."""
        # manifest-level short-circuit first (Iceberg's two-tier plan:
        # manifest list summaries -> manifest entries): a pruned manifest
        # skips ALL its per-file checks, and its ENTRIES are never parsed.
        # Behavior-neutral — per-file pruning below would reject the same
        # files — but planning IO drops from O(table) to O(surviving
        # manifests) when manifests are selective (see
        # rewrite_manifests). A snapshot with no list on disk yet is
        # checked file by file.
        recs = self._snapshot_manifest_recs(md, snap)
        if recs:
            mdir = M.metadata_dir(self.location)
            scan_files: list[M.DataFile] = [
                f
                for rec in recs.values()
                if self._summary_may_match(md, rec["summary"], conjuncts)
                for f in M._load_manifest(mdir, rec["ref"])
            ]
        else:
            scan_files = list(snap.files)
        # predicate references current names; map back to write-time names
        current_by_name = {f.name: f.id for f in md.schema().fields}
        # written-time partition-source types per (spec, schema) generation —
        # memoized because files cluster into few generations
        wtypes_cache: dict[tuple[int, int], dict[str, str]] = {}

        def may_match(f: M.DataFile) -> bool:
            written = md.schema(f.schema_id).by_id()
            spec = md.spec(f.spec_id)
            gen = (f.spec_id, f.schema_id)
            if gen not in wtypes_cache:
                wtypes_cache[gen] = self._written_source_types(md, spec, f.schema_id)
            for col, op, val in conjuncts:
                if not T.partition_may_match(
                    spec.fields, f.partition, col, op, val, wtypes_cache[gen]
                ):
                    return False
                fid = current_by_name.get(col)
                wname = written[fid].name if fid in written else None
                if wname and not T.stats_may_match(f.stats.get(wname), op, val):
                    return False
            return True

        return [f for f in scan_files if may_match(f)]

    # -- D2 UPDATE / D3 DELETE ---------------------------------------------
    def delete(self, pred_sql: str) -> None:
        """D3 DELETE FROM ... WHERE — README.md:959-960, 1117."""
        md = self.meta
        snap = md.snapshot()
        if snap is None:
            return
        if md.properties.get("write.delete.mode") == "merge-on-read" and not snap.delete_files:
            flavor = md.properties.get("write.delete.flavor", "equality")
            if flavor == "position":
                self._delete_mor_position(md, snap, pred_sql)
            elif flavor == "vector":
                self._delete_mor_vector(md, snap, pred_sql)
            else:
                self._delete_mor(md, snap, pred_sql)
            return
        self._rewrite_cow(
            md, snap, pred_sql, "delete", lambda df: df.filter(~F.expr(pred_sql))
        )

    def _rewrite_cow(
        self,
        md: M.TableMetadata,
        snap: M.Snapshot,
        pred_sql: str,
        operation: str,
        rewrite: Callable[[DataFrame], DataFrame],
    ) -> None:
        """Copy-on-write commit shared by DELETE and UPDATE: files that may
        hold a ``pred_sql`` match are read, passed through ``rewrite`` and
        written anew; every other file carries over by reference. Pending
        MoR delete files force a full materialized rewrite instead
        (carried-over files would escape the deletes' removal)."""
        if snap.delete_files:
            rewritten = rewrite(self._read_snapshot(md, snap, snap.files))
            files = self._write_files(self._align(rewritten, md.schema()), md)
            self._new_snapshot(md, operation, files, [], {"mode": "cow-materialize"})
            return
        candidates = self._candidates(md, snap, pred_sql)
        cand_set = {f.path for f in candidates}
        untouched = [f for f in snap.files if f.path not in cand_set]
        rewritten = (
            self._write_files(rewrite(self._read_files(md, candidates)), md)
            if candidates
            else []
        )
        self._new_snapshot(
            md, operation, untouched + rewritten,
            summary={"mode": "copy-on-write", "rewritten-files": len(candidates),
                     "untouched-files": len(untouched)},
        )

    def _delete_mor(self, md: M.TableMetadata, snap: M.Snapshot, pred_sql: str) -> None:
        """D15 merge-on-read delete: write an equality-delete file instead
        of rewriting data (README.md:1096-1121)."""
        eq_cols = md.properties.get(
            "write.delete.equality-columns", md.schema().fields[0].name
        ).split(",")
        matches = self.read().filter(F.expr(pred_sql)).select(*eq_cols).distinct()
        rel = os.path.join("data", f"delete-{uuid.uuid4().hex[:12]}")
        matches.write.mode("overwrite").parquet(self._abs(rel))
        names, nrows = _written_parquet(self._abs(rel))
        dels = list(snap.delete_files)
        if nrows == 0:
            # nothing matched: no delete file, or every later read pays an
            # anti-join against an empty set and the MoR fast paths
            # (gated on `not delete_files`) are lost forever (ADVICE r5)
            shutil.rmtree(self._abs(rel), ignore_errors=True)
        else:
            dels += [
                M.DeleteFile(path=os.path.join(rel, n), rows=nrows, equality_columns=eq_cols)
                for n in names
            ]
        self._new_snapshot(md, "delete", list(snap.files), dels, {"mode": "merge-on-read"})

    def _matched_coords(
        self, md: M.TableMetadata, snap: M.Snapshot, pred_sql: str
    ) -> DataFrame | None:
        """(__fp, __pos, *current-schema columns) for rows matching
        ``pred_sql`` inside the snapshot's pruned candidate files — the
        shared first stage of every coordinate-based MoR write path.
        Coordinates come from Spark's ``_metadata.row_index`` file column,
        computed executor-side; the driver never touches row data. The
        reserved ``__fp``/``__pos`` names are the read path's, so a user
        column named ``file_path`` or ``pos`` cannot make downstream
        selects ambiguous (ADVICE r5); they are renamed to the on-disk
        delete-file schema (file_path, pos) only at write time, after
        user columns are dropped. Returns None when no file can match."""
        candidates = self._candidates(md, snap, pred_sql)
        if not candidates:
            return None
        return self._read_files(md, candidates, with_pos=True).filter(F.expr(pred_sql))

    def _write_position_delete(self, coords: DataFrame) -> tuple[list[str], int]:
        """Write a coordinate parquet from a (__fp, __pos) frame; returns
        (paths, rows). The reserved names are rewritten to the on-disk
        delete-file schema (file_path, pos) here — user columns are gone
        by this point, so the rename cannot collide. If zero rows matched,
        the (empty) output directory is removed and no paths are returned,
        so callers never register an empty delete file (ADVICE r5: one
        no-op MoR write must not downgrade every later fast path)."""
        matches = coords.select(
            F.col("__fp").alias("file_path"), F.col("__pos").alias("pos")
        )
        rel = os.path.join("data", f"pos-delete-{uuid.uuid4().hex[:12]}")
        matches.write.mode("overwrite").parquet(self._abs(rel))
        names, nrows = _written_parquet(self._abs(rel))
        if nrows == 0:
            shutil.rmtree(self._abs(rel), ignore_errors=True)
            return [], 0
        return [os.path.join(rel, n) for n in names], nrows

    def _delete_mor_position(
        self, md: M.TableMetadata, snap: M.Snapshot, pred_sql: str
    ) -> None:
        """D15 position-delete flavor (README.md:1096-1121 teaches both MoR
        delete-file kinds): the delete file stores (file_path, pos) row
        coordinates instead of key values — the right flavor when no stable
        equality key exists or the predicate matches many rows per key."""
        coords = self._matched_coords(md, snap, pred_sql)
        dfile_paths, nrows = (
            self._write_position_delete(coords.select("__fp", "__pos"))
            if coords is not None
            else ([], 0)
        )
        # zero matches => no delete file registered: the snapshot is a
        # no-op and every later fast path (gated on `not delete_files`)
        # stays fast
        dels = list(snap.delete_files) + [
            M.DeleteFile(path=p, rows=nrows, equality_columns=[], content="position")
            for p in dfile_paths
        ]
        self._new_snapshot(
            md,
            "delete",
            list(snap.files),
            dels,
            {"mode": "merge-on-read", "content": "position-deletes"},
        )

    def _delete_mor_vector(
        self, md: M.TableMetadata, snap: M.Snapshot, pred_sql: str
    ) -> None:
        """D15 deletion-vector flavor (Iceberg V3, README.md:1096-1121):
        ONE row per touched data file holding a bitmap of deleted row
        positions (array of int64 words). vs the position-list flavor, the
        delete file shrinks from one row per deleted ROW to one row per
        touched FILE, and the read side becomes a file-keyed join +
        branch-free bit test instead of a per-coordinate anti-join.
        Matching positions are computed executor-side over manifest-pruned
        candidates; bitmap packing is one Arrow pass per file group.

        The bitmap is OFFSET-TRIMMED: each row stores the first set word's
        index plus only the words from first-set to last-set, so a sparse
        delete near the end of a billion-row file costs O(span/8) bytes,
        not O(rows/8) (ADVICE r5; real Iceberg V3 goes further with
        roaring compression — word-range trimming keeps the read-side bit
        test branch-free while fixing the dense worst case)."""
        coords = self._matched_coords(md, snap, pred_sql)
        if coords is None:
            nrows = 0
        else:
            # user columns are dropped before the rename, so a table
            # column named file_path/pos cannot collide (ADVICE r5)
            matches = coords.select(
                F.col("__fp").alias("file_path"), F.col("__pos").alias("pos")
            )

            def _pack(batches):
                import numpy as np
                import pandas as pd

                # accumulate across Arrow batches: a file's rows may split
                # over batches within the partition, and a file must emit
                # exactly ONE bitmap row (the repartition above guarantees
                # per-file locality, not per-batch)
                acc: dict[str, list] = {}
                for pdf in batches:
                    for fp, grp in pdf.groupby("file_path"):
                        acc.setdefault(fp, []).append(grp["pos"].to_numpy())
                out = []
                for fp, chunks in acc.items():
                    pos = np.concatenate(chunks)
                    lo = int(pos.min()) // 64
                    words = np.zeros(
                        int(pos.max()) // 64 - lo + 1, dtype=np.uint64
                    )
                    np.bitwise_or.at(
                        words,
                        pos // 64 - lo,
                        np.uint64(1) << (pos % 64).astype(np.uint64),
                    )
                    out.append((fp, words.view(np.int64), lo, len(pos)))
                if out:
                    yield pd.DataFrame(
                        out,
                        columns=["file_path", "words", "offset", "cardinality"],
                    )

            vectors = matches.repartition("file_path").mapInPandas(_pack, _DELETE_DDL["vector"])
            rel = os.path.join("data", f"dv-{uuid.uuid4().hex[:12]}")
            vectors.write.mode("overwrite").parquet(self._abs(rel))
            nrows = int(
                self.spark.read.schema(_DELETE_DDL["vector"]).parquet(self._abs(rel))
                .agg(F.coalesce(F.sum("cardinality"), F.lit(0)))
                .first()[0]
            )
            if nrows == 0:
                shutil.rmtree(self._abs(rel), ignore_errors=True)
        dels = list(snap.delete_files)
        if nrows:
            dels += [
                M.DeleteFile(path=p, rows=nrows, equality_columns=[], content="vector")
                for p in (
                    os.path.join(rel, n)
                    for n in sorted(os.listdir(self._abs(rel)))
                    if n.endswith(".parquet")
                )
            ]
        self._new_snapshot(
            md,
            "delete",
            list(snap.files),
            dels,
            {"mode": "merge-on-read", "content": "deletion-vectors"},
        )

    def update(self, pred_sql: str, set_exprs: dict[str, str]) -> None:
        """D2 UPDATE ... SET ... WHERE — README.md:954-956. Copy-on-write at
        file granularity by default (untouched files carry over by
        reference); ``write.update.mode=merge-on-read`` switches to a
        position-delete + append commit whose write cost is O(matched
        rows), not O(candidate files) — the MoR extension of the
        reference's delete-mode property (README.md:1112-1121)."""
        md = self.meta
        snap = md.snapshot()
        if snap is None:
            return
        if (
            md.properties.get("write.update.mode") == "merge-on-read"
            and not snap.delete_files
        ):
            self._update_mor(md, snap, pred_sql, set_exprs)
            return
        pred = F.expr(pred_sql)
        self._rewrite_cow(
            md, snap, pred_sql, "overwrite",
            lambda df: df.withColumns(
                {c: F.when(pred, F.expr(e)).otherwise(F.col(c)) for c, e in set_exprs.items()}
            ),
        )

    def _update_mor(
        self,
        md: M.TableMetadata,
        snap: M.Snapshot,
        pred_sql: str,
        set_exprs: dict[str, str],
    ) -> None:
        """Merge-on-read UPDATE: ONE snapshot that position-deletes the
        matched rows from their original files AND appends their updated
        versions as new files. No candidate file is rewritten — the write
        is O(matched rows). Coordinates target only the ORIGINAL files, so
        the appended rows are untouched by the delete at read."""
        coords = self._matched_coords(md, snap, pred_sql)
        dfile_paths, nrows = (
            self._write_position_delete(coords.select("__fp", "__pos"))
            if coords is not None
            else ([], 0)
        )
        if nrows == 0:
            # candidate files existed but the predicate matched nothing
            # (or no candidates at all): commit a no-op snapshot WITHOUT a
            # delete file — an empty delete entry would permanently gate
            # every later update/delete off the MoR fast path (ADVICE r5)
            self._new_snapshot(
                md, "overwrite", list(snap.files), list(snap.delete_files),
                {"mode": "merge-on-read", "op": "update", "matched": 0},
            )
            return
        updated = coords.drop("__fp", "__pos").withColumns(
            {c: F.expr(e) for c, e in set_exprs.items()}
        )
        new_files = self._write_files(self._align(updated, md.schema()), md)
        dels = list(snap.delete_files) + [
            M.DeleteFile(path=p, rows=nrows, equality_columns=[], content="position")
            for p in dfile_paths
        ]
        self._new_snapshot(
            md,
            "overwrite",
            list(snap.files) + new_files,
            dels,
            {"mode": "merge-on-read", "op": "update", "matched": nrows},
        )

    # -- D4 MERGE INTO -------------------------------------------------------
    def _merge_compute(
        self,
        md: M.TableMetadata,
        source: DataFrame,
        on: str | list[str],
        when_matched: str = "update_all",  # update_all | delete | none
        when_not_matched: str = "insert_all",  # insert_all | none
        matched_condition: str | None = None,
        when_not_matched_by_source: str = "none",  # none | delete
    ) -> tuple[list[M.DataFile], DataFrame]:
        """The MERGE computation: returns (untouched carried files, the
        rewritten-rows DataFrame). Split from the commit (r15) so the
        local path and the REST front-door path share one merge brain.

        D4 MERGE INTO t USING s ON t.k=s.k WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT * — README.md:963-967 — extended with
        the ANSI/Iceberg arms the reference stops short of:

        - ``matched_condition`` (WHEN MATCHED AND <cond> THEN ...): a SQL
          predicate over SOURCE columns; matched pairs failing it keep the
          TARGET row untouched (standard MERGE semantics).
        - ``when_not_matched_by_source='delete'`` (WHEN NOT MATCHED BY
          SOURCE THEN DELETE): full-sync mirror — target rows absent from
          the source are dropped.

        Set semantics: matched target rows are replaced by their source row
        (by-name column assignment); unmatched source rows are inserted.

        Scale: target files whose key min/max stats or partition values
        cannot overlap the source's key bounds (_prune) are NOT
        rewritten — they carry over by reference, so MERGE cost is
        O(files overlapping the source keys), not O(table). A file
        disjoint from the source's key hull can hold no matched row, and
        its keys cannot collide with inserts, so both arms are unaffected.
        Pruning is disabled when ``when_not_matched_by_source='delete'``
        (every target row must be re-checked) or when MoR delete files are
        pending (carried-over files would escape the materialization).
        """
        keys = [on] if isinstance(on, str) else list(on)
        src = self._align(source, md.schema())
        if when_matched not in ("update_all", "delete", "none"):
            raise ValueError(f"unsupported matched action {when_matched!r}")
        if when_not_matched not in ("insert_all", "none"):
            raise ValueError(f"unsupported not-matched action {when_not_matched!r}")
        if when_not_matched_by_source not in ("none", "delete"):
            raise ValueError(
                f"unsupported not-matched-by-source action {when_not_matched_by_source!r}"
            )
        # ANSI/Iceberg MERGE: a WHEN MATCHED AND <cond> arm fires only when the
        # condition is TRUE — a NULL condition must keep the target row, so the
        # armed/unarmed split must be exhaustive (coalesce NULL -> unarmed).
        cond = (
            F.coalesce(F.expr(matched_condition), F.lit(False))
            if matched_condition
            else F.lit(True)
        )

        snap = md.snapshot()
        untouched: list[M.DataFile] = []
        prunable = (
            when_not_matched_by_source != "delete"
            and snap is not None
            and not snap.delete_files
        )
        # ONE aggregation job over the source computes duplicate-key
        # validation AND the pruning key bounds (guide §1.2/§2.4: the old
        # form paid three full source passes — count, distinct-count,
        # min/max — before any merge work). count_distinct over a struct
        # matches select(keys).distinct().count() exactly: grouping
        # treats NULL keys as equal, and a struct is never NULL itself.
        # Date and timestamp bounds leave Spark as strings, the form of a
        # DATE/TIMESTAMP '...' predicate literal, so _prune compares them as
        # it does DELETE's. Collected as Python dates they compare with no
        # footer stat, and as datetimes they would be in the Python
        # process's local zone, which the partition values (written in the
        # session zone) need not share.
        dtypes = dict(src.dtypes)

        def bound(agg, k):
            return agg(k).cast("string") if dtypes.get(k) in ("date", "timestamp") else agg(k)

        bounds = src.agg(
            F.count(F.lit(1)).alias("__n"),
            F.count_distinct(F.struct(*[F.col(k) for k in keys])).alias("__nd"),
            *[bound(F.min, k).alias(f"mn_{i}") for i, k in enumerate(keys)],
            *[bound(F.max, k).alias(f"mx_{i}") for i, k in enumerate(keys)],
        ).first()
        if bounds["__nd"] != bounds["__n"]:
            raise ValueError("MERGE source has duplicate join keys (ambiguous match)")
        if prunable:
            # a file whose key range misses the source's key hull can hold
            # no matched row; an empty source or all-NULL key matches no file
            if any(bounds[f"mn_{i}"] is None for i in range(len(keys))):
                candidates = []
            else:
                candidates = self._prune(md, snap, [
                    c
                    for i, k in enumerate(keys)
                    for c in ((k, ">=", bounds[f"mn_{i}"]), (k, "<=", bounds[f"mx_{i}"]))
                ])
            cand_set = {f.path for f in candidates}
            untouched = [f for f in snap.files if f.path not in cand_set]
            target = self._read_files(md, candidates)
        else:
            target = self.read()
        # ONE full-outer join on the keys, then a per-row arm decision.
        # The earlier anti/semi/semi/anti union was 4 joins re-scanning
        # the candidate files and the source up to 4x each (guide §2.4);
        # a full-outer join visits every (matched, target-only,
        # source-only) row exactly once, so each side is read and
        # shuffled once. Join-key NULL semantics are identical: a NULL
        # key never matches, so NULL-key target rows surface as
        # target-only (kept/dropped exactly as the anti-join did) and
        # NULL-key source rows as source-only (inserted).
        cols = target.columns
        t = target.select(
            *[F.col(k) for k in keys],
            F.struct(*[F.col(c) for c in cols]).alias("__trow"),
        )
        s = src.select(
            *[F.col(k) for k in keys],
            F.struct(*[F.col(c) for c in cols]).alias("__srow"),
            cond.alias("__armed"),
        )
        j = t.join(s, on=keys, how="full_outer")
        # matched arm: condition TRUE -> source action, else keep target
        if when_matched == "none":
            matched_row = F.col("__trow")
        elif when_matched == "update_all":
            matched_row = F.when(F.col("__armed"), F.col("__srow")).otherwise(
                F.col("__trow")
            )
        else:  # delete: armed matched rows vanish (NULL row filtered below)
            matched_row = F.when(~F.col("__armed"), F.col("__trow"))
        # unmatched arms (a when() with no otherwise yields NULL = drop)
        target_only = (
            F.col("__trow")
            if when_not_matched_by_source != "delete"
            else F.when(F.lit(False), F.col("__trow"))
        )
        source_only = (
            F.col("__srow")
            if when_not_matched == "insert_all"
            else F.when(F.lit(False), F.col("__srow"))
        )
        pick = (
            F.when(F.col("__trow").isNull(), source_only)
            .when(F.col("__srow").isNull(), target_only)
            .otherwise(matched_row)
        )
        result = (
            j.select(pick.alias("__row"))
            .where(F.col("__row").isNotNull())
            .select("__row.*")
        )
        return untouched, result

    def merge(
        self,
        source: DataFrame,
        on: str | list[str],
        when_matched: str = "update_all",
        when_not_matched: str = "insert_all",
        matched_condition: str | None = None,
        when_not_matched_by_source: str = "none",
    ) -> None:
        """D4 MERGE INTO — see _merge_compute for semantics/scale; this
        wrapper writes the rewritten rows and commits locally. The REST
        twin (rest_catalog.rest_merge) runs the SAME computation but
        commits through the catalog service's overwrite-files action."""
        md = self.meta
        snap = md.snapshot()
        untouched, result = self._merge_compute(
            md,
            source,
            on,
            when_matched,
            when_not_matched,
            matched_condition,
            when_not_matched_by_source,
        )
        files = self._write_files(self._align(result, md.schema()), md)
        self._new_snapshot(
            md,
            "overwrite",
            untouched + files,
            [],
            {
                "op": "merge",
                "rewritten-files": len(snap.files) - len(untouched) if snap else 0,
                "untouched-files": len(untouched),
            },
        )

    # -- D5/D6/D7 schema evolution ------------------------------------------
    def _evolve_schema(self, new_fields: list[M.Field]) -> None:
        md = self.meta
        new_id = max(s.schema_id for s in md.schemas) + 1
        md.schemas.append(M.Schema(schema_id=new_id, fields=new_fields))
        md.current_schema_id = new_id
        self._commit(md)

    def add_column(self, name: str, type_: str, default: Any = None) -> None:
        """D5 ADD COLUMN (README.md:976) / D7 ADD COLUMN ... DEFAULT — no
        data rewrite; default materializes at read (README.md:1159-1166)."""
        md = self.meta
        if name in md.schema().names():
            raise ValueError(f"column {name} exists")
        md.last_field_id += 1
        fields = list(md.schema().fields) + [
            M.Field(id=md.last_field_id, name=name, type=type_, initial_default=_json_safe(default))
        ]
        new_id = max(s.schema_id for s in md.schemas) + 1
        md.schemas.append(M.Schema(schema_id=new_id, fields=fields))
        md.current_schema_id = new_id
        self._commit(md)

    def drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN — the one schema-evolution verb Week
        4's set (README.md:976-983) leaves unexercised. Metadata-only:
        the field leaves the current schema; data files are untouched and
        ``_read_files`` projects by field id against the current schema,
        so the column vanishes at read with zero data IO. Field ids are
        never reused (``last_field_id`` is monotone), so a later ADD
        COLUMN of the same NAME is a NEW field — old files' values do not
        resurrect (Iceberg's id-based evolution guarantee). Refuses to
        drop a column the current partition spec derives from (new writes
        could not compute their partition values — Iceberg refuses too)
        or one any live equality-delete file keys on (the MoR read
        applies equality deletes by joining the projected frame on those
        names)."""
        self.drop_columns([name])

    def drop_columns(self, names: list[str]) -> None:
        """Multi-column DROP as ONE schema commit (ADVICE r11: the SQL
        layer used to apply drop_column sequentially — a refusal on the
        third name left the first two already committed, a partially-
        applied ALTER TABLE). Every name is validated up front against
        drop_column's full refusal set; only then does a single
        ``_evolve_schema`` commit remove them all — atomic by the same
        CAS that guards every other commit."""
        md = self.meta
        by_name = {f.name: f for f in md.schema().fields}
        seen: set[str] = set()
        for name in names:
            if name in seen:
                raise ValueError(f"duplicate column {name} in DROP list")
            seen.add(name)
            if name not in by_name:
                raise ValueError(f"no column {name}")
        if len(by_name) == len(seen):
            raise ValueError(
                "cannot drop the only column"
                if len(seen) == 1
                else "cannot drop every column"
            )
        drop_ids = {by_name[n].id for n in seen}
        for name in seen:
            fid = by_name[name].id
            if any(pf.source_id == fid for pf in md.spec().fields):
                raise ValueError(
                    f"column {name} is a partition source in the current "
                    "spec; evolve the spec first"
                )
            for s in md.snapshots:
                for d in s.delete_files:
                    if name in d.equality_columns:
                        raise ValueError(
                            f"column {name} is keyed by a live equality-"
                            "delete file; rewrite or expire those snapshots "
                            "first"
                        )
        self._evolve_schema(
            [f for f in md.schema().fields if f.id not in drop_ids]
        )

    # type-promotion lattice (Iceberg spec "Schema Evolution": int -> long,
    # float -> double, decimal(P,S) -> decimal(P',S) with P' > P; widening
    # within Spark's int ladder is the natural superset and is safe for
    # the same reason — every old value is exactly representable)
    _INT_LADDER = {"tinyint": 0, "smallint": 1, "int": 2, "integer": 2,
                   "bigint": 3, "long": 3}

    @classmethod
    def _can_promote(cls, old: str, new: str) -> bool:
        o, n = old.strip().lower(), new.strip().lower()
        if o in cls._INT_LADDER and n in cls._INT_LADDER:
            return cls._INT_LADDER[n] > cls._INT_LADDER[o]
        if o == "float" and n == "double":
            return True
        do = re.fullmatch(r"decimal\s*\((\d+)\s*,\s*(\d+)\)", o)
        dn = re.fullmatch(r"decimal\s*\((\d+)\s*,\s*(\d+)\)", n)
        if do and dn:
            return int(dn[2]) == int(do[2]) and int(dn[1]) > int(do[1])
        return False

    def promote_column(self, name: str, new_type: str) -> None:
        """ALTER COLUMN name TYPE new_type — Iceberg type promotion, the
        last schema-evolution verb (spec table: int->long, float->double,
        decimal precision widening at fixed scale; README.md:974-992 is
        the evolution story this completes). Metadata-only: the field
        KEEPS its id with the new type in a new schema, data files are
        untouched, and ``_read_files``'s id-based projection casts old
        files' narrower physical values up at read — so a file written
        as int32 reads back as bigint with zero data IO. Anything not on
        the promotion lattice (narrowing, cross-family, scale changes)
        is refused: old files could hold values the new type cannot
        represent exactly, which breaks the time-travel guarantee that a
        snapshot reads back the bytes it committed."""
        md = self.meta
        by_name = {f.name: f for f in md.schema().fields}
        if name not in by_name:
            raise ValueError(f"no column {name}")
        fld = by_name[name]
        if fld.type.strip().lower() == new_type.strip().lower():
            raise ValueError(f"column {name} is already {new_type}")
        if not self._can_promote(fld.type, new_type):
            raise ValueError(
                f"cannot promote {name}: {fld.type} -> {new_type} is not "
                "a widening promotion (allowed: int ladder widening, "
                "float->double, decimal(P,S)->decimal(P'>P,S))"
            )
        self._evolve_schema(
            [
                M.Field(
                    f.id,
                    f.name,
                    new_type if f.id == fld.id else f.type,
                    f.nullable,
                    f.initial_default,
                )
                for f in md.schema().fields
            ]
        )

    def rename_column(self, old: str, new: str) -> None:
        """D6 RENAME COLUMN — metadata-only via field IDs (README.md:979);
        old data files keep the old name and still resolve (the exact
        failure Parquet-only tables hit, README.md:500-508)."""
        md = self.meta
        names = md.schema().names()
        if old not in names:
            raise ValueError(f"no column {old}")
        if new in names:
            raise ValueError(f"column {new} already exists")
        fields = [
            M.Field(f.id, new if f.name == old else f.name, f.type, f.nullable, f.initial_default)
            for f in md.schema().fields
        ]
        new_id = max(s.schema_id for s in md.schemas) + 1
        md.schemas.append(M.Schema(schema_id=new_id, fields=fields))
        md.current_schema_id = new_id
        self._commit(md)

    # -- D8 partition evolution ----------------------------------------------
    def add_partition_field(self, decl: str) -> None:
        """D8 ALTER TABLE ADD PARTITION FIELD month(order_date) —
        README.md:990-992. Existing files stay under their old spec; only
        new writes use the new layout."""
        md = self.meta
        transform, col = T.parse_transform_decl(decl)
        by_name = {f.name: f for f in md.schema().fields}
        if col not in by_name:
            raise ValueError(f"no column {col}")
        suffix = transform.split("[")[0]
        pname = col if transform == "identity" else f"{col}_{suffix}"
        new_fields = list(md.spec().fields) + [
            M.PartitionField(source=col, source_id=by_name[col].id, transform=transform, name=pname)
        ]
        new_spec = M.PartitionSpec(spec_id=max(s.spec_id for s in md.partition_specs) + 1, fields=new_fields)
        md.partition_specs.append(new_spec)
        md.current_spec_id = new_spec.spec_id
        self._commit(md)

    # -- D9 metadata tables ----------------------------------------------------
    def history(self) -> DataFrame:
        """t.history — README.md:982."""
        md = self.meta
        rows = [
            (
                datetime.fromtimestamp(s.timestamp_ms / 1000).isoformat(sep=" "),
                s.snapshot_id,
                s.parent_id,
                s.snapshot_id == md.current_snapshot_id,
            )
            for s in md.snapshots
        ]
        return self.spark.createDataFrame(
            rows, "made_current_at string, snapshot_id bigint, parent_id bigint, is_current_ancestor boolean"
        )

    def snapshots_df(self) -> DataFrame:
        """t.snapshots — README.md:1004."""
        md = self.meta
        rows = [
            (
                datetime.fromtimestamp(s.timestamp_ms / 1000).isoformat(sep=" "),
                s.snapshot_id,
                s.parent_id,
                s.operation,
                str(s.summary),
            )
            for s in md.snapshots
        ]
        return self.spark.createDataFrame(
            rows,
            "committed_at string, snapshot_id bigint, parent_id bigint, operation string, summary string",
        )

    def partitions_df(self) -> DataFrame:
        """t.partitions — README.md:995."""
        md = self.meta
        snap = md.snapshot()
        agg: dict[str, list[int]] = {}
        for f in snap.files if snap else []:
            key = str(sorted(f.partition.items())) if f.partition else "{}"
            cur = agg.setdefault(key, [0, 0])
            cur[0] += f.rows
            cur[1] += 1
        rows = [(k, v[0], v[1]) for k, v in sorted(agg.items())]
        return self.spark.createDataFrame(rows, "partition string, record_count bigint, file_count bigint")

    def files_df(self) -> DataFrame:
        md = self.meta
        snap = md.snapshot()
        rows = [
            (f.path, f.rows, f.bytes, f.schema_id, f.spec_id, str(sorted(f.partition.items())))
            for f in (snap.files if snap else [])
        ]
        return self.spark.createDataFrame(
            rows, "file_path string, record_count bigint, file_size_bytes bigint, "
            "schema_id int, spec_id int, partition string"
        )

    def refs_df(self) -> DataFrame:
        """t.refs (Iceberg refs metadata table): main + every branch/tag."""
        md = self.meta
        rows = [("main", "branch", md.current_snapshot_id)]
        rows += [(n, "branch", sid) for n, sid in sorted(md.refs.items())]
        rows += [(n, "tag", sid) for n, sid in sorted(md.tags.items())]
        return self.spark.createDataFrame(
            rows, "name string, type string, snapshot_id bigint"
        )

    # -- D11 rollback ------------------------------------------------------------
    def rollback_to(self, snapshot_id: int) -> None:
        """D11 CALL rollback_to_snapshot — README.md:1013. Snapshots are
        kept; only the current pointer moves (Iceberg semantics)."""
        md = self.meta
        if md.snapshot(snapshot_id) is None:
            raise ValueError(f"no snapshot {snapshot_id}")
        md.current_snapshot_id = snapshot_id
        self._commit(md)

    # -- D12 compaction ------------------------------------------------------------
    ZORDER_BITS = 8  # 256 buckets per dimension: file-level clustering only

    def _zvalue(self, df: DataFrame, cols: list[str]):
        """Bit-interleaved Z-address over ``cols``: each key linearly
        scaled to ZORDER_BITS bits between its min and max (the only
        driver-side state — 2 scalars per key), then bits interleaved so
        nearby Z-values are nearby in EVERY dimension. Disjoint bit
        positions let the interleave compile to a sum of shift/mask terms
        inside codegen — no UDF."""
        bits = self.ZORDER_BITS
        top = (1 << bits) - 1
        row = df.agg(
            *[F.min(F.col(c).cast("double")).alias(f"mn{i}") for i, c in enumerate(cols)],
            *[F.max(F.col(c).cast("double")).alias(f"mx{i}") for i, c in enumerate(cols)],
        ).first()
        scaled = []
        for i, c in enumerate(cols):
            mn, mx = row[f"mn{i}"], row[f"mx{i}"]
            if mn is None or mx is None:  # all-NULL key: no spread to encode
                scaled.append(F.lit(0).cast("bigint"))
                continue
            span = (mx - mn) or 1.0
            s = ((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * top).cast("bigint")
            # NULL key values take bucket 0 (comparison ops propagate NULL,
            # which would otherwise null the whole interleaved z-address)
            scaled.append(
                F.least(F.lit(top), F.greatest(F.lit(0), F.coalesce(s, F.lit(0))))
            )
        terms = []
        for b in range(bits):
            for i, s in enumerate(scaled):
                terms.append(
                    F.shiftleft(
                        F.shiftright(s, b).bitwiseAND(1), b * len(cols) + i
                    )
                )
        z = terms[0]
        for t in terms[1:]:
            z = z + t  # disjoint bit positions: sum == bitwise OR
        return z

    def compact(
        self,
        target_files: int = 1,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> None:
        """D12 CALL rewrite_data_files — README.md:1022. Reads the current
        state (resolving MoR deletes), rewrites into ~target_files files per
        partition; row-identical by construction.

        ``sort_by`` is Iceberg's rewrite_data_files(strategy => 'sort'):
        range-repartition + sort within partitions clusters the data so
        each output file covers a NARROW slice of the sort key, which makes
        the manifest's per-file min/max stats selective — subsequent
        scans/deletes with range predicates on that key prune to O(matching
        files) instead of scanning everything. At 100 TB this is the
        difference between a metadata lookup and a full-table scan for
        key-range queries; the shuffle is a one-time maintenance cost.

        ``zorder_by`` generalizes to MULTIPLE keys (Iceberg's
        strategy=>'sort', sort_order=>'zorder(a,b)'): rows cluster along a
        bit-interleaved Z-address, so each file covers a narrow range in
        EVERY listed dimension and range predicates on ANY of them prune —
        where a lexicographic sort only prunes on its leading column.

        Concurrency (Iceberg's rewrite validation): at 100 TB compaction
        ALWAYS races ingest, so a commit conflict rebases when — and only
        when — the winner was a pure append: every rewritten input file
        must still be present (else a concurrent CoW delete/update/compact
        touched rows this rewrite is about to clobber) and no delete files
        may exist (this rewrite resolved deletes for its READ-time inputs
        only). The rebased commit carries the appended files untouched
        alongside the rewrite outputs; anything else raises
        CommitConflictError — the caller re-runs compaction on fresh
        state, never losing data either way."""
        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        if zorder_by and len(zorder_by) * self.ZORDER_BITS >= 64:
            # bit 63 is the bigint sign bit: an 8th interleaved column would
            # flip z-address ordering and silently destroy clustering quality
            raise ValueError(
                f"zorder_by supports at most {63 // self.ZORDER_BITS} columns "
                f"({self.ZORDER_BITS} bits each in a 63-bit z-address); "
                f"got {len(zorder_by)}"
            )
        # ONE metadata load drives both the rewrite read and the rebase
        # baseline: self.meta re-reads from disk on every access, so a
        # second load (e.g. via self.read()) could see a concurrent
        # append's files — they would land in the rewrite output AND
        # outside `inputs`, and the rebase below would then carry them a
        # second time (silent row duplication in exactly the
        # compaction-races-ingest case this path exists for).
        md = self.meta
        snap = md.snapshot()
        df = (
            self._read_snapshot(md, snap, snap.files)
            if snap is not None
            else self._empty_df(md.schema())
        )
        summary: dict = {"op": "compact"}
        if zorder_by:
            z = self._zvalue(df, zorder_by).alias("__z")
            df = (
                df.withColumn("__z", z)
                .repartitionByRange(target_files, F.col("__z"))
                .sortWithinPartitions("__z")
            )  # _align drops __z before write
            summary["zorder-by"] = ",".join(zorder_by)
        elif sort_by:
            df = df.repartitionByRange(
                target_files, *[F.col(c) for c in sort_by]
            ).sortWithinPartitions(*sort_by)
            summary["sort-by"] = ",".join(sort_by)
        else:
            df = df.repartition(target_files)
        inputs = {f.path for f in (snap.files if snap else [])}
        read_schema_id = md.current_schema_id
        read_spec_id = md.current_spec_id
        outputs = self._write_files(self._align(df, md.schema()), md)
        commit_files = outputs
        for _ in range(self.APPEND_RETRIES):
            try:
                self._new_snapshot(md, "replace", commit_files, [], summary)
                return
            except M.CommitConflictError:
                md = self.meta  # rebase on the winner's metadata
                snap2 = md.snapshot()
                cur_paths = {f.path for f in (snap2.files if snap2 else [])}
                if (
                    snap2 is None
                    or not inputs <= cur_paths
                    or snap2.delete_files
                    # a metadata-only winner (schema/partition evolution)
                    # also invalidates the rewrite: the outputs were
                    # written and aligned under the READ-time schema, and
                    # a rebased snapshot would stamp them with the new ids
                    or md.current_schema_id != read_schema_id
                    or md.current_spec_id != read_spec_id
                ):
                    raise
                carried = [f for f in snap2.files if f.path not in inputs]
                for f in outputs:
                    f.manifest_id = 0  # restamp under the rebased counter
                summary["rebased-over-appends"] = len(carried)
                commit_files = carried + outputs
        raise M.CommitConflictError(
            f"compact at {self.location}: rebase exhausted retries"
        )

    def rewrite_manifests(self, target_manifests: int = 1) -> None:
        """CALL rewrite_manifests — the METADATA-side maintenance twin of
        rewrite_data_files. After N commits a snapshot references N
        manifests, each an append's worth of entries spanning the whole
        partition/key space, so manifest-level planning
        (_summary_may_match) can skip nothing and every scan pays
        O(all entries). This op rewrites the manifest layer only: entries
        are re-sorted by partition values (falling back to the first
        schema column's min stat for unpartitioned tables) and packed
        into ``target_manifests`` groups, so each manifest covers a
        narrow partition/key slice and aggregate summaries become
        selective. ZERO data-file IO — data file paths are carried over
        byte-identically; only the grouping metadata changes, exactly
        Iceberg's rewrite_manifests contract. The commit is a snapshot
        ("replace-manifests") so it is time-travelable and
        branch-isolated like any other maintenance op."""
        md = self.meta
        snap = md.snapshot()
        if snap is None or not snap.files:
            return
        first_col = md.schema().fields[0].name

        def sort_key(f: M.DataFile):
            if f.partition:
                return (0, tuple(sorted(f.partition.items())), f.path)
            written = md.schema(f.schema_id).by_id()
            # min stat of the first current column under its written name
            fid = md.schema().fields[0].id
            wname = written[fid].name if fid in written else first_col
            st = f.stats.get(wname)
            return (1, (("", str(st[0]) if st else ""),), f.path)

        entries = sorted(snap.files, key=sort_key)
        n = max(1, min(target_manifests, len(entries)))
        per = -(-len(entries) // n)
        before = len({f.manifest_id for f in snap.files})
        regrouped: list[M.DataFile] = []
        for gi in range(n):
            chunk = entries[gi * per : (gi + 1) * per]
            if not chunk:
                continue
            md.last_manifest_id += 1
            for f in chunk:
                # fresh entry objects: prior snapshots keep their own
                # grouping (manifest history is per-snapshot, like files)
                regrouped.append(
                    M.DataFile(**{**f.__dict__, "manifest_id": md.last_manifest_id})
                )
        self._new_snapshot(
            md,
            "replace-manifests",
            regrouped,
            list(snap.delete_files),
            {
                "op": "rewrite-manifests",
                "manifests-before": before,
                "manifests-after": len({f.manifest_id for f in regrouped}),
            },
        )

    # -- D13/D14 maintenance ---------------------------------------------------------
    def _manifest_refs_of(
        self, md: M.TableMetadata, snaps: list[M.Snapshot]
    ) -> set[str]:
        """Manifest sidecar filenames these snapshots reference — EXACT,
        from each snapshot's own manifest-list records (r14 review: the
        earlier (manifest_id, count) bookkeeping collided across
        non-chain histories, so GC could classify a live manifest as
        dead). Zero entry IO: only the (cached) list sidecars are read.
        A snapshot whose list is already collected protects nothing."""
        return {
            r["ref"]
            for s in snaps
            for r in self._snapshot_manifest_recs(md, s).values()
        }

    def expire_snapshots(self, older_than_ms: int | None = None, keep_last: int = 1) -> list[str]:
        """D13 CALL expire_snapshots — README.md:1025. Removes expired
        snapshot entries and deletes files referenced only by them.

        Ordering is the safety property (r13 unlink-TOCTOU audit): the
        metadata commit lands FIRST, physical deletes happen only after
        it succeeds. The pre-fix order (delete, then commit) could lose
        data: with files already unlinked, a CAS conflict aborts the
        expiry while a concurrent winner (e.g. a rollback_to re-pointing
        current at an expired snapshot) still references them. On a
        conflict the whole computation rebases onto the winner's
        metadata, so the keep-set always derives from the state the
        commit actually extends."""
        deleted: list[str] = []
        last_err: Exception | None = None
        for _ in range(self.APPEND_RETRIES):
            md = self.meta
            ordered = sorted(md.snapshots, key=lambda s: s.timestamp_ms)
            keep: set[int] = {md.current_snapshot_id}
            # branch heads and tags pin their snapshots: a ref must never dangle
            keep.update(md.refs.values())
            keep.update(md.tags.values())
            keep.update(s.snapshot_id for s in ordered[-keep_last:])
            if older_than_ms is not None:
                keep.update(s.snapshot_id for s in ordered if s.timestamp_ms >= older_than_ms)
            kept = [s for s in md.snapshots if s.snapshot_id in keep]
            removed = [s for s in md.snapshots if s.snapshot_id not in keep]
            still_referenced = {
                f.path for s in kept for f in s.files
            } | {d.path for s in kept for d in s.delete_files}
            md.snapshots = kept
            try:
                self._commit(md)
            except M.CommitConflictError as e:
                last_err = e
                continue
            # commit durable: the removed snapshots are unreachable from
            # every future read/rollback, so their exclusive files are
            # safe to unlink (paths are uuid-unique per write batch —
            # never reclaimed, so no path-identity race is possible)
            for s in removed:
                try:
                    removed_entries = list(s.files) + list(s.delete_files)
                except OSError:
                    # a racing orphan sweep already collected this
                    # snapshot's manifest sidecars (they became dead the
                    # instant our commit landed) — its data files are that
                    # sweep's to finish; same terminal state either way
                    continue
                for f in removed_entries:
                    if f.path not in still_referenced and os.path.exists(self._abs(f.path)):
                        try:
                            os.remove(self._abs(f.path))
                        except FileNotFoundError:
                            continue  # a racing expiry got it: same outcome
                        deleted.append(f.path)
            # manifest sidecars exclusive to the removed snapshots are
            # unreachable the same way their data files are (any prepare
            # claimed above this commit was built ON this commit's
            # metadata, so it cannot reference them); a reader still
            # planning from pre-expiry metadata can fail loudly — the
            # same reader-vs-expiry contract Iceberg documents for data
            # files
            mdir = M.metadata_dir(self.location)
            kept_refs = self._manifest_refs_of(md, kept) | {
                md.manifest_list_refs[s.snapshot_id]
                for s in kept
                if s.snapshot_id in md.manifest_list_refs
            }
            dead_refs = (
                self._manifest_refs_of(md, removed)
                | {
                    md.manifest_list_refs[s.snapshot_id]
                    for s in removed
                    if s.snapshot_id in md.manifest_list_refs
                }
            ) - kept_refs
            for ref in dead_refs:
                try:
                    os.remove(os.path.join(mdir, ref))
                    deleted.append(os.path.join("metadata", ref))
                except OSError:
                    pass
            return deleted
        raise M.CommitConflictError(
            f"expire_snapshots at {self.location}: rebase exhausted retries"
        ) from last_err

    def remove_orphan_files(self, grace_s: float = 3600.0) -> list[str]:
        """D14 CALL remove_orphan_files — README.md:1028: files on disk not
        referenced by any snapshot manifest, plus stale ``.tmp-*.json``
        metadata temp files stranded by a writer that crashed between the
        temp write and the ``os.link`` CAS (commit_metadata step 2).

        The grace window applies to DATA files too, not just metadata
        temps (r13 unlink-TOCTOU audit): an in-flight append/compaction
        writes its parquet files BEFORE its metadata commit references
        them — a zero-grace sweep would delete a live writer's staged
        batch and its subsequent commit would reference missing files.
        Iceberg's own remove_orphan_files carries the same older_than
        guard (default 3 days) for exactly this reason. The window only
        needs to exceed the write-to-commit gap (seconds), so 1 h is
        conservative. Deployment floor: keep ``grace_s`` AT OR ABOVE
        resolve_expired's grace_sec — a multi-table transaction the
        reaper still tolerates may not have its staged files referenced
        by any prepare yet (README "Maintenance grace floors")."""
        import time

        md = self.meta
        referenced = {
            f.path for s in md.snapshots for f in s.files
        } | {d.path for s in md.snapshots for d in s.delete_files}
        # Files referenced by a PENDING 2PC prepared version above the
        # current one are not orphans (ADVICE r13): the prepare may still
        # commit, and a transaction whose stage-to-decide span exceeds
        # grace_s would otherwise lose its data files yet still commit,
        # leaving a snapshot referencing missing files. Burned (settled-
        # aborted) versions are skipped — their exclusive files ARE
        # orphans once past grace. Data files staged BEFORE any prepare
        # exists are protected only by the mtime grace, so grace_s must
        # exceed the maximum stage-to-prepare gap (align it with
        # resolve_expired's grace for multi-table transactions).
        mdir0 = M.metadata_dir(self.location)
        live_manifests = self._manifest_refs_of(md, md.snapshots) | set(
            md.manifest_list_refs.values()
        )
        v = md.loaded_version
        while True:
            v += 1
            vpath = os.path.join(mdir0, f"v{v}.metadata.json")
            if not os.path.exists(vpath):
                break
            try:
                state = M._version_state(vpath)
            except (OSError, ValueError):
                continue
            if state == "aborted":
                continue
            try:
                pend = M.read_metadata_version(self.location, v)
            except (OSError, ValueError, KeyError, TypeError):
                # KeyError/TypeError (ADVICE r14): a resolver can settle
                # the claim to a minimal tombstone between the
                # _version_state probe above (which saw 'pending') and
                # this read — _from_json then raises KeyError('schemas').
                # A settled tombstone is an aborted slot: skip it like
                # any other, don't crash the sweep.
                continue
            referenced |= {f.path for s in pend.snapshots for f in s.files}
            referenced |= {
                d.path for s in pend.snapshots for d in s.delete_files
            }
            live_manifests |= self._manifest_refs_of(pend, pend.snapshots)
            live_manifests |= set(pend.manifest_list_refs.values())
        removed = []
        now = time.time()
        data_dir = self._abs("data")
        for root, _dirs, names in os.walk(data_dir):
            for n in names:
                fpath = os.path.join(root, n)
                rel = os.path.relpath(fpath, self.location)
                if n.endswith(".parquet") and rel not in referenced:
                    try:
                        if now - os.path.getmtime(fpath) <= grace_s:
                            continue  # possibly a live writer's staged file
                        os.remove(fpath)
                    except OSError:
                        continue  # vanished mid-walk (racing sweep): same outcome
                    removed.append(rel)
        mdir = M.metadata_dir(self.location)
        for n in os.listdir(mdir):
            # .tmp- = commit_metadata's link source; .fin-/.settle- =
            # finalize/settle rewrite temps (os.replace sources) — all
            # strandable by a crash between write and link/replace.
            # manifest-*.json sidecars referenced by NO live version
            # (current or pending above it) are dead history: old version
            # files' content was never readable again even pre-sharding,
            # and a burned prepare's fresh manifests are true orphans.
            # The grace window covers an in-flight commit that wrote its
            # sidecars but hasn't linked its version file yet.
            stale_temp = (
                n.startswith((".tmp-", ".fin-", ".settle-")) and n.endswith(".json")
            )
            dead_manifest = (
                n.startswith("manifest-")
                and n.endswith(".json")
                and n not in live_manifests
            )
            if stale_temp or dead_manifest:
                fpath = os.path.join(mdir, n)
                try:
                    if now - os.path.getmtime(fpath) > grace_s:
                        os.remove(fpath)
                        removed.append(os.path.relpath(fpath, self.location))
                except OSError:
                    continue
        return removed

    # -- D15 properties ----------------------------------------------------------------
    def set_property(self, key: str, value: str) -> None:
        """SET TBLPROPERTIES — README.md:1112-1115."""
        md = self.meta
        md.properties[key] = value
        self._commit(md)
