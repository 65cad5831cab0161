"""Streaming + multimodal tests.

Streaming: the availableNow memory-sink result must equal the equivalent
batch aggregation (micro-batch execution is an implementation detail, not a
semantics change). Sessionization invariants: per-user event conservation,
within-gap durations.

Multimodal: Arrow batch shape, stubbed-decode determinism, partition
preservation (mapInPandas must be narrow), and the explicit decode stub.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tutorial_iceberg_spark.io import load_table
from tutorial_iceberg_spark.operators import multimodal as M
from tutorial_iceberg_spark.streaming import events_stream as S


def test_stream_agg_equals_batch(spark, sf_dir):
    streamed = {
        (r["window_start"], r["event_type"]): (r["cnt"], r["total_value"])
        for r in S.x_stream_tumbling_agg(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = {
        (r["ws"], r["event_type"]): (r["cnt"], r["tv"])
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        )
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("tv"))
        .collect()
    }
    assert set(streamed) == set(batch)
    for k, (cnt, tv) in streamed.items():
        assert cnt == batch[k][0]
        assert abs(tv - batch[k][1]) < 1e-6


def test_sessionize_conserves_events(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    sess = S.x_sessionize(spark, sf_dir)
    assert sess.agg(F.sum("n_events")).collect()[0][0] == ev.count()
    rows = sess.collect()
    assert all(r["duration_s"] >= 0 for r in rows)
    # session ids are dense 1..K per user
    by_user: dict[int, list[int]] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r["session_id"])
    for sids in by_user.values():
        assert sorted(sids) == list(range(1, len(sids) + 1))


def test_assets_schema_and_determinism(spark, sf_dir):
    a = M.assets(spark, sf_dir)
    assert dict(a.dtypes)["payload"] == "binary"
    assert a.schema["meta"].dataType.names == ["format", "nbytes", "width", "height"]
    one = a.filter(F.col("doc_id") == 1).collect()[0]
    again = M.assets(spark, sf_dir).filter(F.col("doc_id") == 1).collect()[0]
    assert one == again
    assert one["media_type"] == "audio"  # doc_id 1 % 3 == 1


def test_feature_extraction_shape(spark, sf_dir):
    feats = M.extract_features(M.assets(spark, sf_dir).limit(20)).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r["features"]) == M.FEATURE_DIM
        assert abs(sum(r["features"]) - 1.0) < 1e-5  # L1-normalized histogram
        assert r["n_frames"] == r["nbytes"] // 1024 + 1


def test_map_in_pandas_is_narrow(spark, sf_dir):
    a = M.assets(spark, sf_dir).repartition(7)
    out = M.extract_features(a)
    assert out.rdd.getNumPartitions() == 7  # no shuffle introduced


def test_decode_stub_raises(spark, sf_dir):
    with pytest.raises(NotImplementedError):
        M.decode_asset(b"bytes", "image/fake")


def test_fake_decode_matches_python(spark, sf_dir):
    payload = "hello world".encode()
    expected = M.fake_decode_features(payload)
    row = (
        M.extract_features(
            M.assets(spark, sf_dir).limit(1).withColumn("payload", F.lit(payload))
        )
        .collect()[0]
    )
    assert [round(x, 6) for x in row["features"]] == [
        round(x, 6) for x in expected
    ]


def test_stateful_streaming_sessions_equal_batch(spark, sf_dir):
    """The applyInPandasWithState sessionizer (closed + residual sessions)
    must reproduce the batch lag/cumsum sessionization exactly."""
    stateful = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["duration_s"])
        for r in S.x_stream_sessionize_stateful(spark, sf_dir).collect()
    }
    batch = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["duration_s"])
        for r in S.x_sessionize(spark, sf_dir).collect()
    }
    assert stateful == batch


def test_tws_sessionizer_matches_batch_when_available(spark, sf_dir):
    """The transformWithStateInPandas sessionizer (modern stateful API)
    must equal the batch sessionizer — skipped where the container lacks
    a working protobuf (the API's state protocol dependency)."""
    import pytest

    from tutorial_iceberg_spark.streaming import events_stream as S

    if not S._tws_available():
        pytest.skip("google.protobuf unavailable: transformWithState cannot run")
    a = sorted(map(tuple, S.x_stream_sessionize_tws(spark, sf_dir).collect()))
    b = sorted(map(tuple, S.x_sessionize(spark, sf_dir).collect()))
    assert a == b


def test_lakehouse_sink_replay_is_exactly_once(spark, sf_dir):
    """ADVICE r1-4 regression: a micro-batch replayed after a crash
    between the table commit and the streaming checkpoint must NOT be
    appended twice; later batches still commit."""
    import os
    import tempfile
    import uuid

    from tutorial_iceberg_spark.lakehouse.table import LakeTable
    from tutorial_iceberg_spark.streaming.events_stream import (
        BATCH_PROP,
        make_idempotent_ingest,
    )

    root = os.path.join(tempfile.gettempdir(), "tis_sink_test", uuid.uuid4().hex[:8])
    os.makedirs(root, exist_ok=True)
    t = LakeTable.create(spark, os.path.join(root, "t"), "k bigint, v bigint")
    ingest = make_idempotent_ingest(t)
    b0 = spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint")
    b1 = spark.createDataFrame([(3, 30)], "k bigint, v bigint")
    ingest(b0, 0)
    assert t.read().count() == 2
    ingest(b0, 0)  # replay: checkpoint lagged the commit
    assert t.read().count() == 2  # NOT double-appended
    ingest(b1, 1)
    assert t.read().count() == 3
    assert t.meta.properties[BATCH_PROP] == "1"
    ingest(b0, 0)  # stale replay far behind: still skipped
    assert t.read().count() == 3


def test_lakehouse_sink_rival_same_batch_before_first_cas(spark, tmp_path, monkeypatch):
    """A rival commit of the SAME batch id lands between the batch's file
    write and its first CAS (a replaying twin of the query): the losing
    commit rebases, re-checks the batch id and lands nothing — the
    batch's rows appear once, as with the REST and native sinks."""
    import os

    from tutorial_iceberg_spark.lakehouse.table import LakeTable
    from tutorial_iceberg_spark.streaming.events_stream import (
        BATCH_PROP,
        make_idempotent_ingest,
    )

    t = LakeTable.create(spark, os.path.join(str(tmp_path), "t"), "k bigint, v bigint")
    twin = LakeTable(spark, t.location)
    ingest = make_idempotent_ingest(t)
    ingest(spark.createDataFrame([(1, 10)], "k bigint, v bigint"), 0)
    b1 = spark.createDataFrame([(2, 20), (3, 30)], "k bigint, v bigint")
    write = t._write_files

    def write_then_rival(df, md):
        files = write(df, md)
        twin.append(b1, properties={BATCH_PROP: "1"})  # the twin wins
        return files

    monkeypatch.setattr(t, "_write_files", write_then_rival)
    ingest(b1, 1)
    monkeypatch.undo()
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3]
    assert t.meta.properties[BATCH_PROP] == "1"


def test_stream_hash_sample_equals_batch_filter(spark, sf_dir):
    """Batch-stream parity: the streaming md5 gate must select exactly the
    rows the same predicate selects from the batch table."""
    got = [
        r["event_id"] for r in S.x_stream_hash_sample(spark, sf_dir).collect()
    ]
    ev = load_table(spark, sf_dir, "events")
    keep = F.substring(F.md5(F.col("event_id").cast("string")), 1, 2) < "1a"
    want = [
        r["event_id"]
        for r in ev.filter(keep).select("event_id").orderBy("event_id").collect()
    ]
    assert got == want and len(got) > 0


def test_stream_heavy_users_bounds(spark, sf_dir):
    from pyspark.sql import functions as F

    from tutorial_iceberg_spark.io import load_table
    from tutorial_iceberg_spark.registry import all_queries

    rows = all_queries()["x_stream_heavy_users"].builder(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    exact = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    err = rows[0]["err_bound"]
    for r in rows:
        assert r["est_min"] <= exact[r["user_id"]] <= r["est_max"], r
    # containment: every user with true count above the reporting floor
    # must appear (Misra-Gries merge keeps any key with freq > total decr)
    floor = rows[-1]["est_min"] + err
    reported = {r["user_id"] for r in rows}
    for uid, n in exact.items():
        if n > floor:
            assert uid in reported, (uid, n, floor)


def test_stream_retention_bitmap_equals_batch(spark, sf_dir):
    from tutorial_iceberg_spark.registry import all_queries

    qs = all_queries()
    stream = [
        (r["day_idx"], r["n_active"], r["n_retained_7d"])
        for r in qs["x_stream_retention_bitmap"].builder(spark, sf_dir).collect()
    ]
    batch = [
        (r["day_idx"], r["n_active"], r["n_retained_7d"])
        for r in qs["x_retention_bitmap"].builder(spark, sf_dir).collect()
    ]
    assert stream == batch  # bit_or is mergeable: exact parity


def test_session_window_gap_boundary_semantics(spark):
    """Pins the exact-gap boundary the x_stream_session_window oracle
    assumes: session_window treats the session end as INCLUSIVE — an
    event EXACTLY gap after the previous one still MERGES (measured on
    Spark 4.1; the session interval is [start, last + gap] for merge
    purposes), and only a strictly-greater gap starts a new session. The
    lag-based oracle therefore flags new sessions with > (not >=). If a
    Spark upgrade ever flips this, this fails before the driver does."""
    from pyspark.sql import functions as F

    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:30:00"),          # exactly 30 min -> MERGES
        (2, "2024-01-01 00:00:00"),
        (2, "2024-01-01 00:29:59.999999"),   # 1 us inside -> merges
        (3, "2024-01-01 00:00:00"),
        (3, "2024-01-01 00:30:00.000001"),   # 1 us past gap -> new session
    ]
    df = spark.createDataFrame(rows, "user_id int, s string").select(
        "user_id", F.col("s").cast("timestamp").alias("ts")
    )
    got = {
        r["user_id"]: r["n"]
        for r in df.groupBy(
            F.session_window("ts", "30 minutes"), "user_id"
        )
        .agg(F.count("*").alias("cnt"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == {1: 1, 2: 1, 3: 2}, got


def test_stream_source_cap_multifile_single_batch(spark, sf_dir, tmp_path):
    """ADVICE r9: the admission counter is first-come ACROSS micro-batches
    while the ROW_NUMBER oracle sorts the whole replay — equivalence needs
    the replay in ONE batch. With maxFilesPerTrigger pinned high, a
    multi-file layout must still match the batch form (and the checkpoint
    commit-log assertion must stay quiet)."""
    import math

    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    ev.repartition(3).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        (r.user_id, r.event_id, r.rk)
        for r in S.x_stream_source_cap(spark, str(tmp_path)).collect()
    }
    med = (
        ev.groupBy("user_id")
        .count()
        .agg(F.expr("percentile(count, 0.5)"))
        .first()[0]
    )
    cap = int(math.ceil(S.STREAM_CAP_MULT * float(med)))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        (r.user_id, r.event_id, r.rk)
        for r in ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= cap)
        .collect()
    }
    assert got == want and got


def test_run_stream_single_batch_assertion_fires(spark, sf_dir, tmp_path):
    """single_batch=True must FAIL LOUDLY when the source rate limit
    splits the replay, instead of silently returning an admission set the
    oracle can't check."""
    ev = load_table(spark, sf_dir, "events").limit(30)
    out = str(tmp_path / "ev3.parquet")
    ev.repartition(3).write.parquet(out)
    raw = (
        spark.readStream.schema(spark.read.parquet(out).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    with pytest.raises(AssertionError, match="micro-batches"):
        S.run_stream(
            raw.select("user_id", "event_id"),
            mode="append",
            single_batch=True,
        )


def test_rest_sink_midstream_409_and_replay_exactly_once(spark, sf_dir):
    """r14 verdict Next #4: micro-batch commits THROUGH the catalog
    service stay exactly-once under (a) a mid-stream 409 — a rival
    commit lands between the batch's plan and its POST, the sink
    rebases and retries the SAME staged manifest — and (b) a replayed
    micro-batch after the 409 recovery."""
    import os
    import tempfile
    import urllib.error
    import uuid

    from tutorial_iceberg_spark.lakehouse.catalog import LakeCatalog
    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
    )
    from tutorial_iceberg_spark.streaming.events_stream import (
        BATCH_PROP,
        make_idempotent_rest_ingest,
    )

    wh = os.path.join(
        tempfile.gettempdir(), "tis_rest_sink_test", uuid.uuid4().hex[:8]
    )
    os.makedirs(wh, exist_ok=True)
    cat = LakeCatalog(spark, wh)
    with RestCatalogServer(cat) as srv:
        client = RestCatalogClient(srv.base_url)
        client.create_namespace("s")
        client.create_table(
            "s", "t", [{"name": "k", "type": "bigint"}, {"name": "v", "type": "bigint"}]
        )
        t = cat.load_table("s.t")
        ingest = make_idempotent_rest_ingest(client, t, "s", "t")
        b0 = spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint")
        b1 = spark.createDataFrame([(3, 30)], "k bigint, v bigint")
        b2 = spark.createDataFrame([(4, 40)], "k bigint, v bigint")
        ingest(b0, 0)
        assert t.read().count() == 2
        # (a) mid-stream 409: a rival DATA commit advances the snapshot
        # between batch 1's metadata read and its POST, so batch 1's
        # assert-ref-snapshot-id fails server-side; the sink rebases and
        # retries the same staged manifest
        from tutorial_iceberg_spark.lakehouse.rest_catalog import rest_append

        rival_df = spark.createDataFrame([(9, 90)], "k bigint, v bigint")
        orig_commit = client.commit_table
        state = {"appends": 0}

        def racing(ns, tbl, updates, requirements=None):
            if any(u.get("action") == "append-files" for u in updates):
                state["appends"] += 1
                if state["appends"] == 1:
                    rest_append(client, t, "s", "t", rival_df)
            return orig_commit(ns, tbl, updates, requirements)

        client.commit_table = racing
        try:
            ingest(b1, 1)
        finally:
            client.commit_table = orig_commit
        # rival POST (nested) + batch 1 first try (409) + winning retry
        assert state["appends"] == 3, state
        assert t.read().count() == 4  # b0 + rival + b1, each exactly once
        assert t.meta.properties[BATCH_PROP] == "1"
        # (b) replay of the recovered batch: skipped, not double-appended
        ingest(b1, 1)
        assert t.read().count() == 4
        ingest(b2, 2)
        assert t.read().count() == 5
        assert t.meta.properties[BATCH_PROP] == "2"
        # every snapshot was constructed server-side
        assert all(
            s.summary.get("via") == "rest-catalog" for s in t.meta.snapshots
        )


def test_native_stream_sink_replay_and_batch_prop_parity(spark, sf_dir):
    """The tis_lake NATIVE streaming sink (r15): a replayed micro-batch
    must be skipped AND its freshly staged duplicate files unlinked;
    the batch-prop key matches the foreachBatch sink's so the two sinks
    share one exactly-once ledger."""
    import glob
    import os
    import tempfile
    import uuid

    from pyspark.sql.types import StructType

    from tutorial_iceberg_spark.lakehouse.datasource import (
        _BATCH_PROP,
        _LakeStreamWriter,
    )
    from tutorial_iceberg_spark.lakehouse.table import LakeTable
    from tutorial_iceberg_spark.streaming.events_stream import BATCH_PROP

    assert _BATCH_PROP == BATCH_PROP  # one ledger across both sinks

    root = os.path.join(
        tempfile.gettempdir(), "tis_native_sink_test", uuid.uuid4().hex[:8]
    )
    os.makedirs(root, exist_ok=True)
    t = LakeTable.create(spark, os.path.join(root, "t"), "k bigint, v bigint")
    schema = StructType.fromDDL("k bigint, v bigint")
    w = _LakeStreamWriter(schema, {"path": t.location}, overwrite=False)

    def batch_msgs(rows):
        import pyarrow as pa

        batch = pa.record_batch(
            {"k": [r[0] for r in rows], "v": [r[1] for r in rows]}
        )
        return [w.write(iter([batch]))]

    m0 = batch_msgs([(1, 10), (2, 20)])
    w.commit(m0, 0)
    assert t.read().count() == 2
    assert t.meta.properties[_BATCH_PROP] == "0"
    m1 = batch_msgs([(3, 30)])
    w.commit(m1, 1)
    assert t.read().count() == 3
    # REPLAY of batch 1 after a checkpoint-lag crash: freshly staged
    # duplicates exist on disk, the commit must skip AND unlink them
    m1_replay = batch_msgs([(3, 30)])
    staged = os.path.join(t.location, m1_replay[0].rel_path)
    assert os.path.exists(staged)
    w.commit(m1_replay, 1)
    assert t.read().count() == 3  # not double-appended
    assert not os.path.exists(staged)  # duplicate unlinked
    assert t.meta.properties[_BATCH_PROP] == "1"
    # data files on disk == manifest entries (no stranded dupes)
    n_files = len(glob.glob(os.path.join(t.location, "data", "**", "*.parquet"), recursive=True))
    assert n_files == len(list(t.meta.snapshot().files))


def _mk_lake(spark, tmp_path, name):
    import os

    from tutorial_iceberg_spark.lakehouse.table import LakeTable

    return LakeTable.create(
        spark, os.path.join(str(tmp_path), name), "k bigint, v string", name=name
    )


def test_native_stream_source_resumes_from_checkpoint(spark, tmp_path):
    """r15 verdict Next #4: the tis_lake streaming SOURCE checkpoints
    {'snapshot_id'} offsets — a restarted query resumes at the committed
    snapshot, emits only the delta, and an idle restart emits nothing
    (exactly-once across the query's life)."""
    import os

    from tutorial_iceberg_spark.lakehouse.datasource import LakeDataSource

    spark.dataSource.register(LakeDataSource)
    t = _mk_lake(spark, tmp_path, "src_resume")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    t.append(spark.createDataFrame([(3, "c")], "k bigint, v string"))
    chk = os.path.join(str(tmp_path), "chk")
    out = os.path.join(str(tmp_path), "out")

    def run():
        q = (
            spark.readStream.format("tis_lake")
            .load(t.location)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == [1, 2, 3]
    t.append(spark.createDataFrame([(4, "d"), (5, "e")], "k bigint, v string"))
    run()  # resumes at the checkpointed snapshot: only the delta lands
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == [1, 2, 3, 4, 5]
    run()  # idle restart: no duplicates
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == [1, 2, 3, 4, 5]


def test_native_stream_source_plans_only_changed_manifests(spark, tmp_path):
    """The per-batch changelog diff is REC-driven: planning a one-append
    range on a many-manifest table parses only the manifests that
    CHANGED in that range, never the whole table (same counter gate as
    the warm-append and REST row-level instruments)."""
    from pyspark.sql.types import StructType

    from tutorial_iceberg_spark.lakehouse import metadata as M_
    from tutorial_iceberg_spark.lakehouse.datasource import _LakeStreamReader

    t = _mk_lake(spark, tmp_path, "src_rec")
    for i in range(6):
        t.append(spark.createDataFrame([(i, f"v{i}")], "k bigint, v string"))
    md = t.meta
    sids = sorted(s.snapshot_id for s in md.snapshots)
    rdr = _LakeStreamReader(
        StructType.fromDDL("k bigint, v string"), {"path": t.location}
    )
    M_._manifest_cache.clear()
    reads0 = M_.manifest_file_reads
    parts = rdr.partitions(
        {"snapshot_id": sids[-2]}, {"snapshot_id": sids[-1]}
    )
    assert len(parts) == 1  # the one appended file
    assert M_.manifest_file_reads - reads0 == 1  # only the changed manifest
    rows = []
    for b in rdr.read(parts[0]):
        rows.extend(b.to_pylist())
    assert rows == [{"k": 5, "v": "v5"}]
    # full-genesis range covers everything exactly once
    all_parts = rdr.partitions({"snapshot_id": 0}, {"snapshot_id": sids[-1]})
    assert len(all_parts) == 6
    # starting_snapshot_id option shifts the initial offset
    rdr2 = _LakeStreamReader(
        StructType.fromDDL("k bigint, v string"),
        {"path": t.location, "starting_snapshot_id": str(sids[2])},
    )
    assert rdr2.initialOffset() == {"snapshot_id": sids[2]}
    assert rdr2.latestOffset() == {"snapshot_id": sids[-1]}
    assert len(rdr2.partitions(rdr2.initialOffset(), rdr2.latestOffset())) == 3


def test_native_stream_source_honest_refusals(spark, tmp_path):
    """Non-append snapshots in range and expired start offsets both fail
    loudly — a silent partial changelog would feed wrong rows downstream
    (the incremental_read honesty contract, mirrored)."""
    from pyspark.sql.types import StructType

    from tutorial_iceberg_spark.lakehouse.datasource import _LakeStreamReader

    t = _mk_lake(spark, tmp_path, "src_refuse")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    first = t.meta.current_snapshot_id
    t.delete("k = 1")  # CoW rewrite: not an append
    rdr = _LakeStreamReader(
        StructType.fromDDL("k bigint, v string"), {"path": t.location}
    )
    with pytest.raises(ValueError, match="non-append"):
        rdr.partitions(
            {"snapshot_id": first},
            {"snapshot_id": t.meta.current_snapshot_id},
        )
    t.append(spark.createDataFrame([(9, "z")], "k bigint, v string"))
    t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        rdr.partitions(
            {"snapshot_id": first},
            {"snapshot_id": t.meta.current_snapshot_id},
        )


def test_native_stream_sink_rest_exactly_once(spark, tmp_path):
    """The native streaming SINK routed through the REST front door: the
    batch-id stamp rides the SAME commit-table POST as append-files, so
    a replayed micro-batch is detected from table properties and its
    staged duplicates unlink — exactly-once across the HTTP hop without
    foreachBatch."""
    import os

    import pyarrow as pa
    from pyspark.sql.types import StructType

    from tutorial_iceberg_spark.lakehouse import metadata as M_
    from tutorial_iceberg_spark.lakehouse.catalog import LakeCatalog
    from tutorial_iceberg_spark.lakehouse.datasource import (
        _BATCH_PROP,
        _LakeStreamWriter,
    )
    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
    )

    wh = os.path.join(str(tmp_path), "wh")
    cat = LakeCatalog(spark, wh)
    with RestCatalogServer(cat) as srv:
        client = RestCatalogClient(srv.base_url)
        client.create_namespace("st")
        client.create_table(
            "st", "t",
            [{"name": "k", "type": "bigint"}, {"name": "v", "type": "bigint"}],
        )
        t = cat.load_table("st.t")
        opts = {
            "path": t.location,
            "catalog_uri": srv.base_url,
            "namespace": "st",
            "table": "t",
        }
        schema = StructType.fromDDL("k bigint, v bigint")
        w = _LakeStreamWriter(schema, opts, False)
        w.commit([w.write(iter([pa.record_batch({"k": [1], "v": [10]})]))], 0)
        md = M_.read_metadata(t.location)
        assert md.properties.get(_BATCH_PROP) == "0"
        assert md.snapshot().summary.get("via") == "rest-catalog"
        n_snaps = len(md.snapshots)
        # replayed batch 0: detected, staged duplicate unlinked, no commit
        msg = w.write(iter([pa.record_batch({"k": [1], "v": [10]})]))
        w.commit([msg], 0)
        md = M_.read_metadata(t.location)
        assert len(md.snapshots) == n_snaps
        assert not os.path.exists(os.path.join(t.location, msg.rel_path))
        # next batch appends normally
        w2 = _LakeStreamWriter(schema, opts, False)
        w2.commit([w2.write(iter([pa.record_batch({"k": [2], "v": [20]})]))], 1)
        assert sorted(r["k"] for r in t.read().collect()) == [1, 2]
        assert M_.read_metadata(t.location).properties.get(_BATCH_PROP) == "1"
