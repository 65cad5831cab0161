"""The cluster-portable scratch root (round-9 verdict Next #2).

Every operator family that materializes scratch state must honor
``TIS_SCRATCH_DIR`` (via ``tutorial_iceberg_spark.scratch``): on a real
multi-node cluster that variable points at a shared filesystem, and any
site still writing to a driver-local tmpdir silently breaks there. The
test sets the knob to a fresh directory, runs one representative query
from each scratch-using family, and asserts (a) every artifact landed
under the knob, (b) the deferred-cleanup reaper removes what it tracked.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tutorial_iceberg_spark import scratch


@pytest.fixture()
def scratch_root(tmp_path):
    root = str(tmp_path / "shared_scratch")
    scratch.set_scratch_root(root)
    # drain anything earlier tests deferred so the reap assertion below
    # counts only this test's registrations
    scratch.reap()
    yield root
    scratch.reap()
    scratch.set_scratch_root(None)


def _entries(root):
    if not os.path.isdir(root):
        return set()
    return set(os.listdir(root))


def test_graph_cc_uses_scratch_root(spark, scratch_root):
    from tutorial_iceberg_spark.operators.graph import connected_components

    nodes = spark.range(0, 12).withColumnRenamed("id", "id")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (5, 6), (6, 7), (7, 8)], "src long, dst long"
    )
    out = connected_components(nodes, edges)
    comps = {r["id"]: r["comp"] for r in out.collect()}
    assert comps[2] == comps[0] and comps[8] == comps[5]
    cc_dirs = [e for e in _entries(scratch_root) if e.startswith("tis_cc_")]
    assert cc_dirs, "CC scratch did not land under TIS_SCRATCH_DIR"
    # final labels parquet is deferred: reap removes it
    assert scratch.reap() >= 1
    assert not [e for e in _entries(scratch_root) if e.startswith("tis_cc_")]


def test_graph_cc_error_path_cleans_scratch(spark, scratch_root, monkeypatch):
    import tutorial_iceberg_spark.operators.graph as graph

    monkeypatch.setattr(graph, "MAX_CC_ROUNDS", 0)  # force non-convergence
    nodes = spark.range(0, 4)
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(nodes, edges)
    assert not [e for e in _entries(scratch_root) if e.startswith("tis_cc_")], (
        "non-convergence must not leak the scratch directory"
    )


def test_lakehouse_sinks_f14_use_scratch_root(spark, sf_dir, scratch_root):
    from tutorial_iceberg_spark.registry import all_queries

    q = all_queries()
    # one representative per scratch-using family
    assert q["lake_create_insert_read"].builder(spark, sf_dir).count() > 0
    assert q["s3_csv_roundtrip"].builder(spark, sf_dir).count() > 0
    assert q["f14_timestamp_ns_roundtrip"].builder(spark, sf_dir).count() > 0
    got = _entries(scratch_root)
    for expected in ("tis_lake", "tis_scratch", "tis_ns_roundtrip"):
        assert expected in got, f"{expected} not rooted at TIS_SCRATCH_DIR"
    # deferred dirs (lake warehouse + ns roundtrip) reap clean
    assert scratch.reap() >= 2


def test_bucketed_join_uses_scratch_root(spark, sf_dir, scratch_root):
    from tutorial_iceberg_spark.registry import all_queries

    q = all_queries()
    assert q["s10_bucketed_join"].builder(spark, sf_dir).count() >= 0
    assert "tis_buckets" in _entries(scratch_root)


def test_env_var_resolution(monkeypatch, tmp_path):
    scratch.set_scratch_root(None)
    monkeypatch.setenv(scratch.ENV_VAR, str(tmp_path / "envroot"))
    assert scratch.scratch_root() == str(tmp_path / "envroot")
    d = scratch.scratch_dir("fam", unique=True)
    assert d.startswith(str(tmp_path / "envroot"))
    assert os.path.isdir(d)
    scratch.defer_cleanup(d)
    assert scratch.reap() == 1
    assert not os.path.exists(d)


def test_reap_orphans_age_gated(tmp_path, monkeypatch):
    """r9 verdict Next #6: a hard-killed driver (OOM/SIGKILL) never runs
    the atexit reap, leaking scratch across runs. reap_orphans (invoked
    by set_scratch_root and session start) removes STALE TIS-prefixed
    entries, leaves fresh ones and deferred/live ones, and never touches
    foreign names."""
    import time

    root = str(tmp_path / "shared_scratch")
    os.makedirs(root)
    old = time.time() - 10 * 24 * 3600
    stale = os.path.join(root, "tis_stream_spill")
    fresh = os.path.join(root, "tis_lake")
    foreign_stale = os.path.join(root, "someone_elses_dir")
    live_deferred = os.path.join(root, "tis_buckets")
    for d in (stale, fresh, foreign_stale, live_deferred):
        os.makedirs(os.path.join(d, "part"))
    for d in (stale, foreign_stale, live_deferred):
        os.utime(os.path.join(d, "part"), (old, old))
        os.utime(d, (old, old))
    scratch.defer_cleanup(live_deferred)
    try:
        scratch.set_scratch_root(root)  # triggers the sweep
        assert not os.path.exists(stale), "stale TIS scratch must be swept"
        assert os.path.exists(fresh), "fresh scratch is inside the grace"
        assert os.path.exists(foreign_stale), "foreign names are untouched"
        assert os.path.exists(live_deferred), "deferred paths are protected"
        # a stale dir kept alive by ONE fresh child survives (live job)
        busy = os.path.join(root, "tis_cc_busy")
        os.makedirs(os.path.join(busy, "labels"))
        os.utime(busy, (old, old))
        assert scratch.reap_orphans() == 0
        assert os.path.exists(busy)
    finally:
        scratch.reap()
        scratch.set_scratch_root(None)


def test_reap_orphans_deep_fresh_activity_protects(tmp_path):
    """r10 ADVICE medium: live scratch activity often lands DEEP in the
    tree (tis_lake/<tbl>/data/part-*), below the old depth-1/64-child
    mtime sample — a concurrent driver's live entry whose top levels are
    old must survive the sweep when any descendant is fresh."""
    import time

    root = str(tmp_path / "shared")
    os.makedirs(root)
    old = time.time() - 10 * 24 * 3600
    entry = os.path.join(root, "tis_lake")
    deep = os.path.join(entry, "tbl", "data")
    os.makedirs(deep)
    # 70 stale siblings ahead of the live subtree: the old 64-child cap
    # would never reach it even at depth 1
    for i in range(70):
        d = os.path.join(entry, f"a{i:03d}")
        os.makedirs(d)
        os.utime(d, (old, old))
    with open(os.path.join(deep, "part-0.parquet"), "w"):
        pass  # fresh mtime, three levels down
    for p in (entry, os.path.join(entry, "tbl")):
        os.utime(p, (old, old))
    try:
        scratch.set_scratch_root(root)
        assert os.path.exists(entry), "deep fresh activity must protect the entry"
        # drop the fresh descendant -> genuinely stale -> swept
        os.remove(os.path.join(deep, "part-0.parquet"))
        for p in (deep, os.path.join(entry, "tbl"), entry):
            os.utime(p, (old, old))
        assert scratch.reap_orphans() == 1
        assert not os.path.exists(entry)
    finally:
        scratch.set_scratch_root(None)


def test_reap_orphans_malformed_grace_env(tmp_path, monkeypatch):
    """r10 ADVICE low: a garbage TIS_SCRATCH_GRACE_SEC must degrade to
    the default grace with a warning, not crash session start."""
    import time
    import warnings

    root = str(tmp_path / "shared")
    os.makedirs(root)
    stale = os.path.join(root, "tis_debris")
    os.makedirs(stale)
    old = time.time() - 10 * 24 * 3600
    os.utime(stale, (old, old))
    monkeypatch.setenv(scratch.GRACE_ENV, "not-a-number")
    try:
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            scratch.set_scratch_root(root)  # must not raise
        assert any(scratch.GRACE_ENV in str(x.message) for x in w)
        assert not os.path.exists(stale), "default grace still sweeps debris"
    finally:
        scratch.set_scratch_root(None)


def test_reap_orphans_generic_names_need_claimed_root(tmp_path, monkeypatch):
    """r10 ADVICE low: generic entry names (csv_events, shard_corpus...)
    are plausible foreign dirs under the shared system tmpdir — they are
    swept only under a root the deployer explicitly claimed."""
    import time

    root = str(tmp_path / "implicit_tmp")
    os.makedirs(root)
    old = time.time() - 10 * 24 * 3600
    generic = os.path.join(root, "csv_events")
    tis = os.path.join(root, "tis_debris")
    for d in (generic, tis):
        os.makedirs(d)
        os.utime(d, (old, old))
    # implicit root: no override, no env var -> tmpdir resolution
    monkeypatch.delenv(scratch.ENV_VAR, raising=False)
    monkeypatch.setattr(scratch.tempfile, "gettempdir", lambda: root)
    scratch.set_scratch_root(None)
    assert os.path.exists(generic), "generic names survive under implicit /tmp"
    assert not os.path.exists(tis), "tis_ namespace is always ours"
    # explicitly-claimed root: generic names are ours to reap
    os.makedirs(tis)
    os.utime(tis, (old, old))
    try:
        scratch.set_scratch_root(root)
        assert not os.path.exists(generic)
        assert not os.path.exists(tis)
    finally:
        scratch.set_scratch_root(None)


def test_scratch_dir_touches_heartbeat(tmp_path):
    """scratch_dir re-touches a top-level heartbeat every call, so a job
    only READING old scratch still presents fresh activity to the sweep."""
    try:
        scratch.set_scratch_root(str(tmp_path))
        scratch.scratch_dir("tis_lake", "tbl")
        hb = tmp_path / "tis_lake" / scratch.HEARTBEAT_NAME
        assert hb.exists()
    finally:
        scratch.set_scratch_root(None)


@pytest.mark.parametrize(
    "var, module, attr, default",
    [
        ("TIS_STREAM_SHUFFLE_PARTITIONS", "tutorial_iceberg_spark.streaming.events_stream",
         "STREAM_SHUFFLE_PARTITIONS", 4),
        ("TIS_MANIFEST_CACHE_ENTRIES", "tutorial_iceberg_spark.lakehouse.metadata",
         "_MANIFEST_CACHE_MAX_ENTRIES", 2_000_000),
    ],
)
@pytest.mark.parametrize("raw", ["x", "0"])
def test_bad_import_time_env_falls_back(var, module, attr, default, raw):
    """A malformed or non-positive import-time env var must not crash the
    package import: it warns and keeps the default."""
    import subprocess
    import sys

    code = (
        "import importlib\n"
        "from tutorial_iceberg_spark.registry import all_queries\n"
        "all_queries()\n"
        f"print(getattr(importlib.import_module({module!r}), {attr!r}))\n"
    )
    env = {**os.environ, var: raw}
    proc = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip().splitlines()[-1] == str(default)
    assert f"ignoring malformed {var}={raw!r}" in proc.stderr


@pytest.mark.parametrize("raw", ["0", "abc"])
def test_bad_cpu_budget_falls_back(raw, monkeypatch):
    """A zero or non-numeric SPARK_GRAFT_CPUS must not reach the master URL
    (Spark refuses ``local[0]`` at session start): it warns and uses the
    core count."""
    import warnings

    from tutorial_iceberg_spark.session import default_parallelism

    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert default_parallelism() == (os.cpu_count() or 8)
    assert any(f"SPARK_GRAFT_CPUS={raw!r}" in str(x.message) for x in w)
