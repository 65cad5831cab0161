"""Structured Streaming over the ``events`` table (SURVEY.md §1.1 notes the
reference has no streaming surface — this is the driver-testdata extension
flagged there: a stream-shaped `events` table processed with readStream,
watermarks, and windowed aggregation).

The registry contract needs a collectable batch DataFrame, so streaming
queries run with ``trigger(availableNow=True)`` through a parquet spill
directory (executor-side file sink — never the driver) and return the spill
read back: real streaming execution (micro-batch planner, stateful window
operator, watermark tracking), deterministic final result — which makes
even the streaming path DuckDB-oracle-checkable.

Scale notes: a 1-hour tumbling window keyed by (window, event_type) has
bounded state (windows x types); the 1-day watermark ages state out. The
sessionization query is the classic gap-based lag/cumsum form — one shuffle
on user_id, all window functions, no Python.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tutorial_iceberg_spark.functions.numeric import dsum, o_dsum
from tutorial_iceberg_spark.functions.text import mg_fold, mg_merge
from tutorial_iceberg_spark.io import (
    load_table, normalize_table, parquet_schema, table_path,
)
from tutorial_iceberg_spark.lakehouse.metadata import BATCH_PROP, batch_committed
from tutorial_iceberg_spark.registry import register
from tutorial_iceberg_spark.scratch import env_number
from tutorial_iceberg_spark.session import apply_engine_conf

SESSION_GAP_MIN = 30


def read_events_stream(
    spark: SparkSession, sf_dir: str, one_batch: bool = False
) -> DataFrame:
    """File-source stream over the events parquet, with the batch
    reader's schema and types: the raw schema from io.parquet_schema (one
    inference per call at most, none for a single file already read) and
    the ns->us timestamp normalization of io.load_table.

    ``one_batch=True`` pins ``maxFilesPerTrigger`` far above any fixture
    layout so the availableNow replay admits EVERY source file in one
    micro-batch. Queries whose oracle equivalence depends on a total
    per-key arrival order (x_stream_source_cap's admission counter vs the
    batch ROW_NUMBER form) need this pinned, not incidental: availableNow
    respects source rate limits, so a multi-file layout under the default
    maxFilesPerTrigger=1000 (or any explicit lower limit) would split the
    replay and make admission batch-order-dependent."""
    apply_engine_conf(spark)
    # Layout-robust source: Spark's file stream needs a DIRECTORY path,
    # so a real multi-file events table streams directly, while the
    # single-file fixture streams its parent dir with a glob filter
    # pinned to the one file. (The old unconditional glob over sf_dir
    # matched only files literally named events.parquet — a directory
    # layout streamed ZERO rows; caught by the partition-invariance
    # sweep.)
    path = table_path(sf_dir, "events")
    reader = spark.readStream.schema(parquet_schema(spark, path))
    if one_batch:
        reader = reader.option("maxFilesPerTrigger", 10_000_000)
    if os.path.isdir(path):
        raw = reader.parquet(path)
    else:
        raw = reader.option(
            "pathGlobFilter", os.path.basename(path)
        ).parquet(os.path.dirname(path))
    return normalize_table("events", raw)


# State-store instances are one per shuffle partition, fixed at the query's
# first micro-batch. For a bounded availableNow replay the window state is
# tiny and every partition pays per-batch fixed cost (state-store commit
# fsync, delta file, spill file), so a low count wins: r17 measured
# 8/4/2 partitions at sf0.1 = 2.96/2.54/2.00 s (tumbling) and
# 3.09/2.67/2.83 s (session window) — 4 is the balanced default, and the
# RocksDB provider was measured WORSE at this state size (tumbling flat,
# session 4.27 s vs 2.67 s HDFS — per-instance init + ingest dominates
# rows this small). A long-lived production stream with real state volume
# would instead size this to total executor cores: env-parameterized so
# clusters can do exactly that without touching code.
STREAM_SHUFFLE_PARTITIONS = env_number("TIS_STREAM_SHUFFLE_PARTITIONS", 4, int)

def run_stream(
    stream_df: DataFrame, mode: str = "complete", single_batch: bool = False
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) through a
    parquet spill directory; return the spill read back as a batch DataFrame.

    Why a file spill and not a memory sink: the memory sink materializes the
    whole result on the driver, and row-level streaming output (stream-stream
    join pairs, dedup survivors, per-session rows) is data-sized — at 100 TB
    that is a driver OOM, not a harness detail. Here every row moves
    executor-side only: append-mode queries write straight through Spark's
    transactional file sink; complete-mode aggregations overwrite the spill
    dir from foreachBatch (batch_df.write runs on executors). The driver only
    ever sees the paths.
    """
    import os

    from tutorial_iceberg_spark import scratch as _scratch

    spark = stream_df.sparkSession
    # Shared-filesystem scratch (TIS_SCRATCH_DIR on clusters): the sink
    # and checkpoint dirs are read/written by executor tasks across
    # micro-batches, so a driver-local tmpdir only works on local[*].
    # The returned frame reads out_dir -> defer removal to the reaper.
    root = _scratch.defer_cleanup(
        _scratch.scratch_dir("tis_stream_spill", unique=True)
    )
    out_dir = os.path.join(root, "out")
    chk_dir = os.path.join(root, "_chk")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS))
    try:
        if mode == "append":
            # exactly-once transactional file sink (_spark_metadata log)
            q = (
                stream_df.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", chk_dir)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
        else:
            # parquet file sinks are append-only; complete/update-mode
            # aggregations overwrite the spill per micro-batch instead —
            # the final batch leaves the final answer on disk
            def _spill(batch_df: DataFrame, batch_id: int) -> None:
                batch_df.write.mode("overwrite").parquet(out_dir)

            q = (
                stream_df.writeStream.foreachBatch(_spill)
                .option("checkpointLocation", chk_dir)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    if single_batch:
        # Callers whose semantics assume the whole replay landed in ONE
        # micro-batch (admission-order oracles) verify it from the
        # checkpoint's commit log rather than trusting source options.
        commits_dir = os.path.join(chk_dir, "commits")
        commits = [
            f for f in os.listdir(commits_dir) if not f.startswith(".")
        ]
        if len(commits) != 1:
            raise AssertionError(
                f"replay split into {len(commits)} micro-batches; the "
                "caller's oracle equivalence assumes exactly one "
                f"(committed batches: {sorted(commits)})"
            )
    os.makedirs(out_dir, exist_ok=True)  # zero-batch streams spill nothing
    # explicit schema: an empty spill must still read back with the
    # stream's exact schema (and skip parquet schema inference entirely)
    return spark.read.schema(stream_df.schema).parquet(out_dir)


@register(
    "x_stream_tumbling_agg",
    oracle="""
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
               event_type,
               COUNT(*) AS cnt,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(15,4))), 2) AS DOUBLE)
                   AS total_value
        FROM events
        GROUP BY 1, 2, 3
        ORDER BY 1, 3
    """,
    doc="Structured Streaming tumbling 1h window x event_type with a 1-day "
    "watermark, run availableNow through an executor-side parquet spill — "
    "real micro-batch stateful execution whose final result hash-matches "
    "the batch oracle",
    tags=("streaming", "extension"),
)
def x_stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    # the stateful window operator requires TIMESTAMP event time; session tz
    # is pinned UTC so NTZ<->LTZ casts are identity on the wall clock
    agg = (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            # decimal sum: a raw SUM(double) is partition-order-dependent
            # and only matched historically because the single-file
            # fixture replays as one deterministic micro-batch partition
            dsum("value", "total_value"),
        )
    )
    out = run_stream(agg, mode="complete")
    return out.select(
        F.col("w.start").cast("timestamp_ntz").alias("window_start"),
        F.col("w.end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "cnt",
        "total_value",
    ).orderBy("window_start", "event_type")


@register(
    "x_sessionize",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL '{SESSION_GAP_MIN} minutes'
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ), sessions AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id,
               CAST(session_id AS INT) AS session_id,
               COUNT(*) AS n_events,
               CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s
        FROM sessions
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """,
    doc=f"Gap-based sessionization ({SESSION_GAP_MIN} min): lag/cumsum "
    "window assignment + per-session rollup — one shuffle on user_id, "
    "pure window functions (the batch twin of stateful streaming sessions)",
    tags=("streaming", "window", "extension"),
)
def x_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("timestamp").cast("long") - F.lag(F.col("ts").cast("timestamp").cast("long")).over(wo)
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), 1).otherwise(0).alias(
            "new_session"
        ),
    )
    # (ts, event_id) total order: with duplicate (user_id, ts) rows at an
    # exact session boundary, a ts-only ROWS cumsum could assign the tied
    # unflagged row to either session nondeterministically (ADVICE r7).
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(wc).cast("int")
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.max(F.col("ts").cast("timestamp").cast("long")) - F.min(F.col("ts").cast("timestamp").cast("long"))).alias(
                "duration_s"
            ),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "x_stream_session_window",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN ts - LAG(ts) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL '{SESSION_GAP_MIN} minutes'
                        OR LAG(ts) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                            IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ), sessions AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL '{SESSION_GAP_MIN} minutes' AS session_end,
               COUNT(*) AS n_events
        FROM sessions
        GROUP BY user_id, session_id
        ORDER BY user_id, session_start
    """,
    doc=f"Spark-NATIVE session windows (F.session_window, "
    f"{SESSION_GAP_MIN} min gap) as a streaming stateful aggregation — "
    "the built-in merging-window operator, complementing the two "
    "hand-rolled sessionizers (batch lag/cumsum x_sessionize, custom "
    "applyInPandasWithState). Boundary semantics MEASURED and pytest-"
    "pinned (test_session_window_gap_boundary_semantics): the session "
    "end is INCLUSIVE for merging — an event exactly gap after the last "
    "one still merges, so the lag-based oracle flags a new session at "
    "diff > gap, same as x_sessionize; window end = last event + gap by "
    "definition. State is per (user, open session) and the watermark "
    "bounds it in a continuous run",
    tags=("streaming", "extension"),
)
def x_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 day")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
    )
    out = run_stream(agg, mode="complete")
    return out.select(
        "user_id",
        F.col("w.start").cast("timestamp_ntz").alias("session_start"),
        F.col("w.end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    ).orderBy("user_id", "session_start")


# ---------------------------------------------------------------------------
# Custom stateful streaming operator: per-user sessionization with
# applyInPandasWithState. State per user = (current session ordinal, session
# start, last event ts, event count); a processing-time timeout would flush
# open sessions in production — here the availableNow replay ends the query,
# and close_open_sessions() emits the residual state, so the result equals
# the batch x_sessionize exactly (pytest-gated; driver check is rows-only
# because multi-batch stateful emission is not one SQL statement).
# ---------------------------------------------------------------------------

SESSION_STATE_SCHEMA = "session_id INT, start_s BIGINT, last_s BIGINT, n INT"
SESSION_OUT_SCHEMA = (
    "user_id BIGINT, session_id INT, n_events BIGINT, duration_s BIGINT"
)


def _sessionize_group(key, pdfs, state):
    """applyInPandasWithState function: fold this micro-batch's events for
    one user into gap-based sessions, emitting every CLOSED session and
    keeping the open one in state."""
    import pandas as pd

    (user_id,) = key
    gap_s = SESSION_GAP_MIN * 60
    if state.exists:
        sess_id, start_s, last_s, n = state.get
    else:
        sess_id, start_s, last_s, n = 0, None, None, 0

    out = []
    for pdf in pdfs:
        for ts in sorted(pdf["ts_s"]):
            ts = int(ts)
            if start_s is None:
                sess_id, start_s, last_s, n = 1, ts, ts, 1
            elif ts - last_s > gap_s:
                out.append((user_id, sess_id, n, last_s - start_s))
                sess_id, start_s, last_s, n = sess_id + 1, ts, ts, 1
            else:
                last_s, n = ts, n + 1
    state.update((sess_id, start_s, last_s, n))
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "session_id", "n_events", "duration_s"]
        )


def streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful sessionizer over the events stream (availableNow)
    and return CLOSED sessions as a batch DataFrame."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = read_events_stream(spark, sf_dir).select(
        "user_id", F.col("ts").cast("timestamp").cast("long").alias("ts_s")
    )
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_stream(sessions, mode="append")


def close_open_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual open sessions at end-of-stream, derived from the batch table
    (the replay is bounded, so 'open at EOF' = each user's final session)."""
    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        F.col("ts").cast("timestamp").cast("long")
        - F.lag(F.col("ts").cast("timestamp").cast("long")).over(wo)
    )
    flagged = ev.select(
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("ts_s"),
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), 1).otherwise(0).alias("ns"),
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = flagged.withColumn("session_id", F.sum("ns").over(wc).cast("int"))
    per = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("ts_s") - F.min("ts_s")).alias("duration_s"),
    )
    wlast = Window.partitionBy("user_id")
    return (
        per.withColumn("last", F.max("session_id").over(wlast))
        .filter(F.col("session_id") == F.col("last"))
        .drop("last")
    )


@register(
    "x_stream_sessionize_stateful",
    oracle=None,  # multi-batch arbitrary-state operator: rows-only check
    doc=f"Custom stateful streaming operator: applyInPandasWithState "
    f"gap-sessionization ({SESSION_GAP_MIN} min) per user — closed sessions "
    "emitted per micro-batch, open sessions flushed at end-of-replay; "
    "pytest proves equality with the batch x_sessionize",
    tags=("streaming", "stateful", "extension", "pandas-udf"),
)
def x_stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    closed = streaming_sessions(spark, sf_dir)
    residual = close_open_sessions(spark, sf_dir)
    return closed.unionByName(residual).orderBy("user_id", "session_id")


# ---------------------------------------------------------------------------
# Rate-capped ingest: the streaming twin of x_source_cap (functions/text.py).
# Batch capping trims a finished corpus; the PRODUCTION shape is quota
# enforcement at ingest — a per-key admission counter in stream state, with
# the quota derived from historical volume (here: the corpus median, the
# same scale-free derivation as x_source_cap — a fixed absolute cap
# degenerates as volume grows, the q11 lesson). First-come admission: once
# a user's counter hits the cap, further events drop; admitted events are
# never displaced. Under the deterministic availableNow replay, per-user
# arrival order is (ts, event_id) — so the admitted set equals the batch
# ROW_NUMBER() <= cap form and the DuckDB oracle checks it bit-exactly. In
# a live deployment admission follows true arrival order; the state is one
# counter per user (constant memory per key, the cheapest stateful op
# there is).
# ---------------------------------------------------------------------------

STREAM_CAP_MULT = 0.5  # quota = ceil(mult * median historical events/user)

CAP_STATE_SCHEMA = "admitted INT"
CAP_OUT_SCHEMA = (
    "user_id BIGINT, event_id BIGINT, event_type STRING, value DOUBLE, rk INT"
)


def _cap_group_fn(cap: int):
    def _cap_group(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        n = state.get[0] if state.exists else 0
        # one group's micro-batch can arrive as several Arrow chunks with
        # no global order across them — concatenate BEFORE sorting so the
        # admission scan sees the batch's true (ts, event_id) order
        # (sorting chunks independently would admit a chunk-dependent
        # set). Memory = one key's batch, the same bound the sort needs.
        chunks = [p for p in pdfs if len(p)]
        rows = []
        if chunks and n < cap:
            pdf = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            ).sort_values(["ts_us", "event_id"])
            take = pdf.head(cap - n)
            rks = range(n + 1, n + 1 + len(take))
            n += len(take)
            rows = list(
                zip(
                    take["user_id"].astype("int64"),
                    take["event_id"].astype("int64"),
                    take["event_type"],
                    take["value"].astype("float64"),
                    rks,
                )
            )
        elif chunks:
            pass  # quota already exhausted: drop the whole batch
        state.update((n,))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=["user_id", "event_id", "event_type", "value", "rk"],
            )

    return _cap_group


@register(
    "x_stream_source_cap",
    oracle=f"""
        WITH hist AS (
            SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
        ), cap AS (
            SELECT CAST(ceil({STREAM_CAP_MULT} * quantile_cont(n, 0.5))
                        AS BIGINT) AS cap
            FROM hist
        ), ranked AS (
            SELECT user_id, event_id, event_type, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS rk
            FROM events
        )
        SELECT r.user_id, r.event_id, r.event_type, r.value,
               CAST(r.rk AS INTEGER) AS rk
        FROM ranked r, cap
        WHERE r.rk <= cap.cap
        ORDER BY r.user_id, r.event_id
    """,
    doc="Rate-capped ingest (streaming twin of x_source_cap): per-user "
    f"quota = ceil({STREAM_CAP_MULT} x historical median events/user), "
    "enforced first-come in stream state (applyInPandasWithState, one "
    "admission counter per key — constant memory). Quota derivation is "
    "scale-free (corpus-relative, the q11 lesson); under the availableNow "
    "replay arrival order is (ts, event_id), so the admitted set equals "
    "the batch ROW_NUMBER form and the oracle is exact",
    tags=("streaming", "stateful", "extension", "pandas-udf"),
)
def x_stream_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from pyspark.sql.streaming.state import GroupStateTimeout

    hist = load_table(spark, sf_dir, "events")
    med = (
        hist.groupBy("user_id")
        .count()
        .agg(F.expr("percentile(count, 0.5)"))
        .first()[0]
    )
    cap = int(math.ceil(STREAM_CAP_MULT * float(med)))
    # one_batch + single_batch: admission is first-come ACROSS micro-
    # batches, but the ROW_NUMBER oracle sorts only within the replay —
    # equivalence requires the whole replay in one batch, so pin it and
    # verify it (ADVICE r9)
    ev = read_events_stream(spark, sf_dir, one_batch=True).select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    admitted = ev.groupBy("user_id").applyInPandasWithState(
        _cap_group_fn(cap),
        outputStructType=CAP_OUT_SCHEMA,
        stateStructType=CAP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_stream(admitted, mode="append", single_batch=True).orderBy(
        "user_id", "event_id"
    )


@register(
    "x_stream_sliding_agg",
    oracle="""
        WITH expanded AS (
            SELECT time_bucket(INTERVAL '30 minutes', ts)
                     - o.k * INTERVAL '30 minutes' AS window_start,
                   event_type, value
            FROM events, (SELECT unnest(generate_series(0, 1)) AS k) o
        )
        SELECT window_start,
               window_start + INTERVAL '1 hour' AS window_end,
               event_type,
               COUNT(*) AS cnt,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(15,4))), 2) AS DOUBLE)
                   AS total_value
        FROM expanded
        GROUP BY 1, 2, 3
        ORDER BY 1, 3
    """,
    doc="Structured Streaming sliding window (1h length / 30min slide) x "
    "event_type: every event lands in exactly window/slide = 2 windows, so "
    "state is 2x the tumbling case and still bounded by the watermark. "
    "Oracle expands the overlap with a 2-row offset cross join",
    tags=("streaming", "extension"),
)
def x_stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            # decimal sum: a raw SUM(double) is partition-order-dependent
            # and only matched historically because the single-file
            # fixture replays as one deterministic micro-batch partition
            dsum("value", "total_value"),
        )
    )
    out = run_stream(agg, mode="complete")
    return out.select(
        F.col("w.start").cast("timestamp_ntz").alias("window_start"),
        F.col("w.end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "cnt",
        "total_value",
    ).orderBy("window_start", "event_type")


@register(
    "x_stream_dedup",
    oracle="""
        SELECT DISTINCT user_id,
               time_bucket(INTERVAL '1 day', ts) AS day
        FROM events
        ORDER BY user_id, day
    """,
    doc="Streaming deduplication with bounded state: "
    "dropDuplicatesWithinWatermark on (user_id, day) — first event per user "
    "per day survives; state for a key is dropped once the watermark passes "
    "it, so a forever-running stream holds ~(active users x watermark "
    "horizon) keys instead of all history. Emitting only the key columns "
    "makes the result order-insensitive and oracle-checkable",
    tags=("streaming", "dedup", "extension"),
)
def x_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    deduped = (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 day")
        .withColumn("day", F.date_trunc("day", F.col("ts")))
        .dropDuplicatesWithinWatermark(["user_id", "day"])
    )
    out = run_stream(deduped, mode="append")
    return out.select(
        "user_id", F.col("day").cast("timestamp_ntz").alias("day")
    ).orderBy("user_id", "day")


@register(
    "x_stream_enrich_join",
    oracle=f"""
        SELECT c.c_mktsegment, COUNT(*) AS cnt,
               {o_dsum('e.value', 'total_value')}
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment
    """,
    doc="Stream-static enrichment join: the events stream joins the static "
    "customer dimension and aggregates revenue per market segment. No hard "
    "broadcast hint — customer grows with SF; Spark's size estimate "
    "broadcasts it while it fits (stream side never shuffles then) and "
    "shifts to a shuffled stream-static join beyond. The static side is "
    "re-resolved per micro-batch, which is exactly how slowly-changing dims "
    "are refreshed in production streams; decimal-path SUM keeps the result "
    "invariant to micro-batch boundaries and partition order",
    tags=("streaming", "join", "extension"),
)
def x_stream_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    agg = (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("cnt"), dsum("value", "total_value"))
    )
    out = run_stream(agg, mode="complete")
    return out.orderBy("c_mktsegment")


def make_idempotent_ingest(table):
    """foreachBatch sink with exactly-once semantics: the micro-batch id is
    recorded in table properties in the SAME atomic metadata commit as the
    snapshot, and any batch at-or-below the last committed id is skipped
    (metadata.batch_committed) — before the files are written and again
    after every rebase, so a batch replayed after a crash between the
    table commit and the streaming checkpoint, or landed by a rival
    mid-commit, is detected, not double-appended. (ADVICE r1-4; replay
    behavior is pytest-gated in tests/test_streaming_multimodal.py.)
    """

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        md = table.meta
        if batch_committed(md, batch_id):
            return  # replayed micro-batch: already committed atomically
        table._commit_files(
            md,
            table._write_files(table._align(batch_df, md.schema()), md),
            properties={BATCH_PROP: str(batch_id)},
            skip_if=lambda m: batch_committed(m, batch_id),
        )

    return ingest


@register(
    "x_stream_lakehouse_sink",
    oracle=f"""
        SELECT event_type, COUNT(*) AS cnt,
               {o_dsum('value', 'total_value')}
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="Streaming ingestion into the ACID lakehouse layer: foreachBatch "
    "appends each micro-batch as a lakehouse snapshot commit (D16 append "
    "path with optimistic-concurrency CAS), then the final table state is "
    "read back and aggregated. Exactly-once end-to-end: the sink records "
    "the micro-batch id in table properties in the SAME atomic metadata "
    "commit as the snapshot, and skips any batch id at-or-below the last "
    "committed one — so a batch replayed after a crash between the table "
    "commit and the streaming checkpoint is detected and not re-appended "
    "(the foreachBatch idempotent-sink contract)",
    tags=("streaming", "lakehouse", "extension"),
)
def x_stream_lakehouse_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from tutorial_iceberg_spark import scratch as _scratch
    from tutorial_iceberg_spark.lakehouse.table import LakeTable

    ev = read_events_stream(spark, sf_dir)
    # Table + checkpoint state crosses micro-batches -> shared scratch on
    # clusters (TIS_SCRATCH_DIR); result frame reads the table -> reaper.
    root = _scratch.defer_cleanup(
        _scratch.scratch_dir("tis_stream_sink", unique=True)
    )
    table = LakeTable.create(
        spark,
        os.path.join(root, "events_ingest"),
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
        name="events_ingest",
    )

    ingest = make_idempotent_ingest(table)

    q = (
        ev.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", os.path.join(root, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        table.read()
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"), dsum("value", "total_value"))
        .orderBy("event_type")
    )


def make_idempotent_rest_ingest(client, table, namespace, name):
    """foreachBatch sink whose micro-batch commits go THROUGH the catalog
    service (r14 verdict Next #4 — the streaming composition of the REST
    front door): each batch is staged once and committed by
    rest_catalog.rest_append, whose single commit-table POST carries BOTH
    the ``append-files`` snapshot construction AND the ``set-properties``
    batch-id stamp — the service applies them to one metadata document
    and commits once, so the exactly-once contract (batch id atomically
    WITH the snapshot) survives the HTTP hop. A 409 re-checks the
    committed batch id before retrying (the rival may have BEEN this
    batch)."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        from tutorial_iceberg_spark.lakehouse.rest_catalog import rest_append

        if batch_committed(table.meta, batch_id):
            return  # replayed micro-batch: already committed atomically
        rest_append(
            client, table, namespace, name, batch_df,
            properties={BATCH_PROP: str(batch_id)},
            skip_if=lambda md: batch_committed(md, batch_id),
        )

    return ingest


@register(
    "x_stream_lakehouse_rest_sink",
    oracle=f"""
        SELECT event_type, COUNT(*) AS cnt,
               {o_dsum('value', 'total_value')}
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="x_stream_lakehouse_sink composed with the REST front door (r14 "
    "verdict Next #4): every micro-batch snapshot is committed by the "
    "CATALOG SERVICE — one commit-table POST carries append-files plus "
    "the set-properties batch-id stamp, applied to one metadata document "
    "under the server-owned CAS, so exactly-once holds across the HTTP "
    "hop (mid-stream 409 + replay recovery pytest-gated in "
    "tests/test_streaming_multimodal.py). Batch-parity oracle: the final "
    "table aggregate must equal the all-at-once batch aggregate",
    tags=("streaming", "lakehouse", "rest", "extension"),
)
def x_stream_lakehouse_rest_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from tutorial_iceberg_spark import scratch as _scratch
    from tutorial_iceberg_spark.lakehouse.catalog import LakeCatalog
    from tutorial_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
    )

    ev = read_events_stream(spark, sf_dir)
    root = _scratch.defer_cleanup(
        _scratch.scratch_dir("tis_stream_rest_sink", unique=True)
    )
    wh = os.path.join(root, "wh")
    os.makedirs(wh, exist_ok=True)
    cat = LakeCatalog(spark, wh)
    with RestCatalogServer(cat) as srv:
        client = RestCatalogClient(srv.base_url)
        client.create_namespace("stream")
        client.create_table(
            "stream",
            "events_ingest",
            [
                {"name": "event_id", "type": "bigint"},
                {"name": "ts", "type": "timestamp_ntz"},
                {"name": "user_id", "type": "bigint"},
                {"name": "event_type", "type": "string"},
                {"name": "value", "type": "double"},
                {"name": "props", "type": "string"},
            ],
        )
        table = cat.load_table("stream.events_ingest")
        ingest = make_idempotent_rest_ingest(
            client, table, "stream", "events_ingest"
        )
        q = (
            ev.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", os.path.join(root, "_chk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = (
            table.read()
            .groupBy("event_type")
            .agg(F.count("*").alias("cnt"), dsum("value", "total_value"))
            .orderBy("event_type")
        )
    return out


@register(
    "x_stream_lakehouse_native_sink",
    oracle=f"""
        SELECT event_type, COUNT(*) AS cnt,
               {o_dsum('value', 'total_value')}
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="The NATIVE streaming sink (r15): ev.writeStream.format('tis_lake') "
    "— no foreachBatch. Spark 4's DataSourceStreamWriter stages each "
    "micro-batch's parquet + footer stats task-side, and commit(batchId) "
    "records the batch id in table properties in the SAME atomic metadata "
    "commit as the snapshot; a replayed batch is detected and its staged "
    "duplicates unlinked (exactly-once, pytest-gated replay in "
    "tests/test_streaming_multimodal.py). Batch-parity oracle as the "
    "foreachBatch and REST sinks.",
    tags=("streaming", "lakehouse", "datasource", "extension"),
)
def x_stream_lakehouse_native_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from tutorial_iceberg_spark import scratch as _scratch
    from tutorial_iceberg_spark.lakehouse.datasource import LakeDataSource
    from tutorial_iceberg_spark.lakehouse.table import LakeTable

    spark.dataSource.register(LakeDataSource)
    ev = read_events_stream(spark, sf_dir)
    root = _scratch.defer_cleanup(
        _scratch.scratch_dir("tis_stream_native_sink", unique=True)
    )
    table = LakeTable.create(
        spark,
        os.path.join(root, "events_ingest"),
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
        name="events_ingest",
    )
    q = (
        ev.writeStream.format("tis_lake")
        .option("path", table.location)
        .option("checkpointLocation", os.path.join(root, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        table.read()
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"), dsum("value", "total_value"))
        .orderBy("event_type")
    )


@register(
    "x_stream_lakehouse_native_source",
    oracle=f"""
        SELECT event_type, COUNT(*) AS cnt,
               {o_dsum('value', 'total_value')}
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="The NATIVE streaming SOURCE (r15 verdict Next #4): "
    "spark.readStream.format('tis_lake') over an appending lakehouse "
    "table — Spark 4's DataSourceStreamReader plans snapshot-range "
    "micro-batches over the append changelog (the incremental_read "
    "semantics, rec-driven so each batch parses only CHANGED manifests), "
    "with {'snapshot_id': N} offsets checkpointed for exactly-once "
    "resume (restart pytest in tests/test_streaming_multimodal.py). "
    "Three appends stream through a parquet spill and the aggregate "
    "must equal the all-at-once batch aggregate.",
    tags=("streaming", "lakehouse", "datasource", "extension"),
)
def x_stream_lakehouse_native_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from tutorial_iceberg_spark import scratch as _scratch
    from tutorial_iceberg_spark.lakehouse.datasource import LakeDataSource
    from tutorial_iceberg_spark.lakehouse.table import LakeTable

    spark.dataSource.register(LakeDataSource)
    ev = load_table(spark, sf_dir, "events")
    root = _scratch.defer_cleanup(
        _scratch.scratch_dir("tis_stream_native_source", unique=True)
    )
    table = LakeTable.create(
        spark,
        os.path.join(root, "events_src"),
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
        name="events_src",
    )
    for r in (0, 1, 2):  # three append snapshots = three changelog steps
        table.append(ev.filter(F.col("event_id") % 3 == r))
    spill = os.path.join(root, "spill")
    q = (
        spark.readStream.format("tis_lake")
        .load(table.location)
        .writeStream.format("parquet")
        .option("path", spill)
        .option("checkpointLocation", os.path.join(root, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(spill)
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"), dsum("value", "total_value"))
        .orderBy("event_type")
    )


ATTRIBUTION_WINDOW_MIN = 60


@register(
    "x_stream_stream_join",
    oracle=f"""
        SELECT c.event_id AS click_id,
               p.event_id AS purchase_id,
               c.user_id,
               CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS delay_s
        FROM events c
        JOIN events p
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase'
         AND c.event_type = 'click'
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL '{ATTRIBUTION_WINDOW_MIN} minutes'
        ORDER BY click_id, purchase_id
    """,
    doc="Stream-STREAM inner join (the attribution shape): clicks joined "
    "to purchases of the same user within a 60-min window, both sides "
    f"watermarked so the state store evicts clicks older than the join "
    "window plus the watermark — bounded state on an unbounded stream, "
    "which is exactly why the time-range condition is mandatory in "
    "Structured Streaming. availableNow -> deterministic final result "
    "hash-matched against the equivalent batch self-join oracle",
    tags=("streaming", "join", "extension"),
)
def x_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    base = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 day")
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 day")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (
            F.col("p_ts")
            <= F.col("c_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTES")
        ),
    )
    out = run_stream(joined, mode="append")
    return out.select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        (F.col("p_ts").cast("long") - F.col("c_ts").cast("long")).alias("delay_s"),
    ).orderBy("click_id", "purchase_id")


# ---------------------------------------------------------------------------
# Same sessionization on the CURRENT Spark 4 arbitrary-state API:
# transformWithStateInPandas with a StatefulProcessor + ValueState. The
# applyInPandasWithState form above is the long-stable API; this is where
# stateful Spark is going (typed state handles, timers, TTL) — the engine
# ships both so either generation of pipeline code ports over.
# ---------------------------------------------------------------------------


def _make_session_processor():
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    gap_s = SESSION_GAP_MIN * 60

    class SessionProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState("sess", SESSION_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            (user_id,) = key
            if self._state.exists():
                sess_id, start_s, last_s, n = self._state.get()
            else:
                sess_id, start_s, last_s, n = 0, None, None, 0
            out = []
            for pdf in rows:
                for ts in sorted(pdf["ts_s"]):
                    ts = int(ts)
                    if start_s is None:
                        sess_id, start_s, last_s, n = 1, ts, ts, 1
                    elif ts - last_s > gap_s:
                        out.append((user_id, sess_id, n, last_s - start_s))
                        sess_id, start_s, last_s, n = sess_id + 1, ts, ts, 1
                    else:
                        last_s, n = ts, n + 1
            self._state.update((sess_id, start_s, last_s, n))
            if out:
                yield pd.DataFrame(
                    out, columns=["user_id", "session_id", "n_events", "duration_s"]
                )

        def close(self) -> None:
            pass

    return SessionProcessor()


def _tws_available() -> bool:
    """transformWithStateInPandas speaks a protobuf state protocol to the
    JVM; this container ships a broken google.protobuf (no descriptor
    module), so the query registers only where the dependency works —
    the code itself is complete and pytest-gated when runnable."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def x_stream_sessionize_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir).select(
        "user_id", F.col("ts").cast("timestamp").cast("long").alias("ts_s")
    )
    sessions = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_session_processor(),
        outputStructType=SESSION_OUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )
    closed = run_stream(sessions, mode="append")
    residual = close_open_sessions(spark, sf_dir)
    return closed.unionByName(residual).orderBy("user_id", "session_id")


if _tws_available():
    register(
        "x_stream_sessionize_tws",
        oracle=None,  # multi-batch arbitrary-state operator: rows-only check
        doc=f"Gap-sessionization ({SESSION_GAP_MIN} min) on the modern "
        "transformWithStateInPandas API (StatefulProcessor + typed "
        "ValueState handle): closed sessions emit per micro-batch, open "
        "sessions flush at end-of-replay; equal to the batch x_sessionize",
        tags=("streaming", "stateful", "extension", "pandas-udf"),
    )(x_stream_sessionize_tws)


@register(
    "x_stream_hash_sample",
    oracle="""
        SELECT event_id, user_id, event_type, value
        FROM events
        WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 2) < '1a'
        ORDER BY event_id
    """,
    doc="Streaming hash-rate sampling: the same seedless md5-prefix gate as "
    "the batch x_hash_sample (functions/text.py), applied to the event "
    "stream — a STATELESS row filter, so there is no watermark, no state "
    "store, and no shuffle; each micro-batch thins independently and the "
    "exactly-once file sink makes the sampled stream replay-identical. "
    "Batch-stream parity is the point: one predicate definition gives the "
    "same ~10.2% sample whether applied to the table or the stream, so a "
    "pipeline can downsample at ingest and backfill from batch with "
    "identical selection. Oracle = the batch filter over the same events",
    tags=("streaming", "sampling", "extension"),
)
def x_stream_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    keep = F.substring(F.md5(F.col("event_id").cast("string")), 1, 2) < "1a"
    sampled = ev.filter(keep).select("event_id", "user_id", "event_type", "value")
    out = run_stream(sampled, mode="append")
    return out.orderBy("event_id")


MG_STREAM_CAP = 64  # per-partition-per-batch Misra-Gries counters
MG_STREAM_TOP = 20


@register(
    "x_stream_heavy_users",
    oracle=None,  # sketch: bounds-gated vs exact batch counts in pytest
    doc=f"Streaming heavy-hitter detection over user_id: each micro-batch "
    f"partition folds into a <= {MG_STREAM_CAP}-counter Misra-Gries "
    "partial (stateless mapInPandas — no state store, no watermark), the "
    "partials land in the exactly-once append sink, and the read-side "
    "merge sums surviving counters + decrement totals. The sketch-"
    "partials-at-ingest / compact-at-read pattern: per-batch state never "
    "exceeds counters x partitions rows, yet the merged (est_min, "
    "est_max) bounds remain valid across ANY number of micro-batches "
    "because Misra-Gries partials are mergeable by addition with summed "
    "error. Rows-only driver check; pytest gates bounds + containment "
    "vs exact batch counts",
    tags=("streaming", "sketch", "extension"),
)
def x_stream_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir).select("user_id")

    def mg(batches):
        yield mg_fold((pdf["user_id"] for pdf in batches), MG_STREAM_CAP, "user_id")

    partials = ev.mapInPandas(mg, "user_id long, cnt long, decr long")
    return mg_merge(run_stream(partials, mode="append"), "user_id", MG_STREAM_TOP)


@register(
    "x_stream_retention_bitmap",
    oracle=f"""
        WITH mn AS (
            SELECT min(CAST(date_trunc('day', ts) AS DATE)) AS d0 FROM events
        ), m AS (
            SELECT user_id,
                   bit_or(CAST(1 AS BIGINT)
                          << datediff('day', mn.d0,
                                      CAST(date_trunc('day', ts) AS DATE))) AS mask
            FROM events, mn GROUP BY user_id
        ), d AS (
            SELECT unnest(generate_series(0, 22)) AS day_idx
        )
        SELECT day_idx,
               count(*) FILTER (WHERE (mask >> day_idx) & 1 = 1) AS n_active,
               count(*) FILTER (WHERE (mask >> day_idx) & 1 = 1
                                  AND (mask >> (day_idx + 7)) & 1 = 1) AS n_retained_7d
        FROM m CROSS JOIN d GROUP BY day_idx ORDER BY day_idx
    """,
    doc="Streaming bitmap retention: bit_or is a MERGEABLE aggregate, so "
    "a complete-mode streaming groupBy(user_id).bit_or(day_bit) "
    "accumulates exactly the batch day-mask per user across micro-"
    "batches — per-user state is ONE 64-bit word (bounded by users, not "
    "events), and the final bit-arithmetic retention grid is computed "
    "from the spilled mask frame. Batch-stream parity is exact, which "
    "is why this STREAMING query carries a full value-hash ORACLE (the "
    "same SQL as x_retention_bitmap) rather than a rows-only check. "
    "Fixed epoch anchor (the fixture's first day) rather than a "
    "stream-computed min keeps day indices stable across batch arrival "
    "order",
    tags=("streaming", "temporal", "extension"),
)
def x_stream_retention_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tutorial_iceberg_spark.io import load_table as _lt
    from tutorial_iceberg_spark.operators.pipeline import RETENTION_BITMAP_DAYS

    # day-0 anchor from the batch table's footer-cheap min (a stream can't
    # know the global min before it ends; a fixed epoch is what production
    # retention jobs use)
    d0 = (
        _lt(spark, sf_dir, "events")
        .agg(F.min(F.date_trunc("day", F.col("ts")).cast("date")))
        .first()[0]
    )
    ev = read_events_stream(spark, sf_dir).select(
        "user_id",
        # Same loud span guard as the batch form: shiftleft wraps the
        # shift mod 64, so a >62-day offset would alias silently.
        F.expr(
            "if(assert_true(datediff(cast(date_trunc('day', ts) as date),"
            f" date'{d0}') <= 62, 'x_stream_retention_bitmap: event span"
            " exceeds 63 days; the 64-bit day mask would alias') is null,"
            " shiftleft(cast(1 as bigint),"
            f" datediff(cast(date_trunc('day', ts) as date), date'{d0}')),"
            " cast(null as bigint))"
        ).alias("b"),
    )
    masks = ev.groupBy("user_id").agg(F.bit_or("b").alias("mask"))
    out = run_stream(masks, mode="complete")
    days = spark.range(0, RETENTION_BITMAP_DAYS).select(
        F.col("id").cast("int").alias("day_idx")
    )
    active = F.expr("(shiftright(mask, day_idx) & 1) = 1")
    retained = F.expr(
        "(shiftright(mask, day_idx) & 1) = 1 AND (shiftright(mask, day_idx + 7) & 1) = 1"
    )
    return (
        out.crossJoin(F.broadcast(days))
        .groupBy("day_idx")
        .agg(
            F.count_if(active).alias("n_active"),
            F.count_if(retained).alias("n_retained_7d"),
        )
        .orderBy("day_idx")
    )
