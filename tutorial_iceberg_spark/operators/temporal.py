"""Temporal join operators: as-of join and bounded range join.

Spark has no native ASOF or range join (SURVEY.md §2.3 J4 notes the
*reference* doesn't either — these are north-star training-pipeline
extensions: event attribution and time-windowed feature engineering over
the ``events`` table). Both are built as compositions of existing
DataFrame ops per the custom-operator ladder (prompt/§2.11):

- **as-of**: union the two tagged streams, one window pass per user
  (`last(..., ignoreNulls)` over rows-unbounded-preceding). ONE shuffle on
  the join key, one sort within partitions — never a per-row point lookup
  and never a nested-loop join. Skew is bounded by per-user event counts.
- **range**: explode the build side into coarse time buckets sized to the
  range width, so every candidate pair shares an exact (key, bucket)
  equi-join key and the residual range predicate is a post-join filter.
  This is the standard trick that keeps Catalyst on a hash/sort-merge
  join instead of BroadcastNestedLoop; bucket fan-out is exactly 2 for a
  window equal to the bucket width.

DuckDB (the oracle engine) *does* have native ASOF JOIN — so the as-of
semantics get a real cross-engine differential check, not a self-check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tutorial_iceberg_spark.io import load_table
from tutorial_iceberg_spark.registry import register, register_sql


@register(
    "x_asof_attribution",
    oracle="""
        WITH c AS (
            SELECT user_id, ts AS click_ts, MAX(value) AS click_value
            FROM events WHERE event_type = 'click'
            GROUP BY user_id, ts
        ),
        p AS (
            SELECT event_id, user_id, ts, value AS purchase_value
            FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id, p.user_id, p.ts, p.purchase_value,
               c.click_ts, c.click_value
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.ts >= c.click_ts
        ORDER BY p.event_id
    """,
    doc="AS-OF join (last-touch attribution): every purchase is joined to "
    "the same user's most recent click at-or-before it, NULL when none "
    "exists. Implemented as tagged-union + one last(ignoreNulls) window "
    "pass — one shuffle on user_id total; the oracle uses DuckDB's native "
    "ASOF LEFT JOIN, so this is a true cross-engine semantic check. "
    "Clicks are pre-deduped per (user, ts) with MAX(value) on both "
    "engines to pin tie behavior at any scale",
    tags=("temporal", "join", "extension"),
)
def x_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("kind"),
            F.lit(None).cast("bigint").alias("event_id"),
            F.lit(None).cast("double").alias("purchase_value"),
            "click_value",
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        "event_id",
        F.col("value").alias("purchase_value"),
        F.lit(None).cast("double").alias("click_value"),
    )
    # at equal ts, kind=0 sorts first so `p.ts >= c.click_ts` (inclusive)
    # semantics hold; within a frame last() picks the latest prior click
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = clicks.unionByName(purchases)
    return (
        tagged.withColumn(
            "last_click_ts",
            F.last(F.when(F.col("kind") == 0, F.col("ts")), True).over(w),
        )
        .withColumn("last_click_value", F.last("click_value", True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            "purchase_value",
            F.col("last_click_ts").alias("click_ts"),
            F.col("last_click_value").alias("click_value"),
        )
        .orderBy("event_id")
    )


# Kept over its oracle text: the hour bucket is the feature; the text joins a user's clicks on user_id alone.
@register(
    "x_range_join_bucketed",
    oracle="""
        WITH c AS (
            SELECT user_id, ts FROM events WHERE event_type = 'click'
        ),
        p AS (
            SELECT event_id, user_id, ts
            FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id, p.user_id, p.ts,
               COUNT(c.ts) AS clicks_last_hour
        FROM p LEFT JOIN c
          ON c.user_id = p.user_id
         AND c.ts >  p.ts - INTERVAL '1 hour'
         AND c.ts <= p.ts
        GROUP BY p.event_id, p.user_id, p.ts
        ORDER BY p.event_id
    """,
    doc="Bounded range join (feature engineering: clicks in the hour before "
    "each purchase). The click side is exploded into its own hour bucket "
    "and the next one (fan-out exactly 2 for a 1h window on 1h buckets), "
    "turning the inequality join into a (user_id, bucket) equi-join with a "
    "residual range filter — Catalyst plans a hash join, not the "
    "BroadcastNestedLoop a naive inequality join degenerates to. The "
    "oracle states the same query as a plain inequality join",
    tags=("temporal", "join", "extension"),
)
def x_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("ts").alias("c_ts"),
            F.explode(
                F.array(hour, hour + F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
        .withColumnRenamed("user_id", "c_user")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", hour.alias("bucket")
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.c_user)
        & (purchases.bucket == clicks.bucket)
        & (clicks.c_ts > purchases.ts - F.expr("INTERVAL 1 HOUR"))
        & (clicks.c_ts <= purchases.ts),
        "left_outer",
    )
    return (
        joined.groupBy("event_id", "user_id", "ts")
        .agg(F.count("c_ts").alias("clicks_last_hour"))
        .orderBy("event_id")
    )


# Kept over its oracle text: its recursive CTE takes 10.2 s vs 0.26 s median, 10 sf0.1 pairs.
@register(
    "x_ema_daily",
    oracle="""
        WITH RECURSIVE idx AS (
            SELECT day, n_events, row_number() OVER (ORDER BY day) AS rn
            FROM (
                SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                       count(*) AS n_events
                FROM events GROUP BY 1
            )
        ), ema AS (
            SELECT rn, day, n_events, CAST(n_events AS DOUBLE) AS ema
            FROM idx WHERE rn = 1
            UNION ALL
            SELECT i.rn, i.day, i.n_events,
                   CAST(0.25 AS DOUBLE) * i.n_events
                   + CAST(0.75 AS DOUBLE) * e.ema
            FROM idx i JOIN ema e ON i.rn = e.rn + 1
        )
        SELECT CAST(day AS TIMESTAMP) AS day, n_events, ema
        FROM ema ORDER BY day
    """,
    doc="Exponential moving average over the daily event-count series "
    "(alpha = 0.25, both coefficients binary-exact so the fold is "
    "IEEE-bit-identical to the oracle's recursive CTE). EMA is an "
    "inherently ordered recursion no window frame expresses; here the "
    "distributed part is the daily groupBy (full shuffle agg over "
    "events), and only the CALENDAR-BOUNDED day series (30-90 rows at "
    "any data scale, fixed time span) is folded in one Catalyst "
    "higher-order `aggregate` — no Python UDF, no driver loop, and the "
    "collect_list never grows with row count, only with span days",
    tags=("temporal", "window", "extension"),
)
def x_ema_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMA smoothing of the events-per-day series.

    The recursion EMA_t = a*x_t + (1-a)*EMA_{t-1} cannot be a window
    function (each value depends on the previous OUTPUT, not input), so
    after the distributed daily aggregation the bounded series is packed
    into one sorted array and folded with `aggregate` — prefix EMAs
    accumulate in the fold state, then explode back to rows.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count("*").alias("n_events"))
    packed = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "n_events"))).alias("s")
    )
    unfolded = packed.select(
        F.explode(
            F.expr(
                """
                aggregate(
                  s,
                  cast(array() as array<struct<day: date, n_events: bigint, ema: double>>),
                  (acc, x) -> array_append(acc, named_struct(
                      'day', x.day,
                      'n_events', x.n_events,
                      'ema', if(size(acc) = 0,
                                cast(x.n_events as double),
                                cast(0.25 as double) * x.n_events
                                + cast(0.75 as double) * element_at(acc, -1).ema)))
                )
                """
            )
        ).alias("r")
    )
    return unfolded.select(
        F.col("r.day").cast("timestamp").alias("day"), "r.n_events", "r.ema"
    ).orderBy("day")


@register(
    "x_rolling_7day",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, CAST(day AS TIMESTAMP) AS day, n,
               CAST(SUM(n) OVER w AS BIGINT) AS rolling_sum,
               COUNT(*) OVER w AS rolling_days,
               CAST(SUM(n) OVER w AS DOUBLE) / COUNT(*) OVER w AS rolling_avg
        FROM daily
        WINDOW w AS (
            PARTITION BY event_type
            ORDER BY datediff('day', DATE '1970-01-01', day)
            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
        )
        ORDER BY event_type, day
    """,
    doc="7-day trailing window per event type over the daily series: a "
    "RANGE frame on the epoch-day ordinal, so calendar gaps shorten the "
    "frame instead of silently widening it (the ROWS-frame bug). One "
    "hash agg over events, then the window runs per (event_type) over "
    "the calendar-bounded daily frame — partition width is days, not "
    "rows, so the sort is invariant to data volume. Counts stay long; "
    "the average is one exact long/long IEEE divide",
    tags=("temporal", "window", "extension"),
)
def x_rolling_7day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    return (
        daily.select(
            "event_type",
            F.col("day").cast("timestamp").alias("day"),
            "n",
            F.sum("n").over(w).alias("rolling_sum"),
            F.count("*").over(w).alias("rolling_days"),
            (F.sum("n").over(w).cast("double") / F.count("*").over(w)).alias(
                "rolling_avg"
            ),
        )
        .orderBy("event_type", "day")
    )


register_sql(
    "x_event_transitions",
    text="""
        WITH seq AS (
            SELECT user_id, event_type AS from_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS to_type
            FROM events
        ), pairs AS (
            SELECT from_type, to_type, count(*) AS n
            FROM seq WHERE to_type IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT from_type, to_type, n,
               CAST(n AS DOUBLE)
                   / SUM(n) OVER (PARTITION BY from_type) AS p
        FROM pairs
        ORDER BY from_type, to_type
    """,
    doc="First-order Markov transition matrix of user event sequences: "
    "per-user lead() over (ts, event_id) — ONE shuffle on user_id with "
    "per-user sort bounded by user activity — then a hash agg to pair "
    "counts and row-normalization over the |types|^2-bounded matrix "
    "frame. Deterministic because (ts, event_id) totally orders each "
    "user's stream; transition probabilities are exact long counts "
    "under one IEEE divide",
    tags=("temporal", "window", "extension"),
)


@register(
    "x_regression_trend",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   datediff('day', DATE '1970-01-01',
                            CAST(date_trunc('day', ts) AS DATE)) AS x,
                   count(*) AS y
            FROM events GROUP BY 1, 2
        ), s AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx
            FROM daily GROUP BY event_type
        )
        SELECT event_type, n,
               (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)) AS slope_per_day,
               ((CAST(sy AS DOUBLE)
                 - (CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE))
                   * CAST(sx AS DOUBLE)) / n) AS intercept
        FROM s ORDER BY event_type
    """,
    doc="Exact least-squares trend of the daily event count per type "
    "(regr_slope/regr_intercept semantics WITHOUT the builtins' "
    "order-dependent double partials): x = epoch-day ordinal and y = "
    "count are integers, so every moment (sx, sy, sxy, sxx) is an exact "
    "BIGINT sum and the slope is one IEEE divide of exact integers — "
    "bit-identical at any partitioning, which the native regr_* "
    "aggregates cannot promise. One hash aggregate over the "
    "calendar-bounded daily frame; the volume-trend monitor a pipeline "
    "alerts on",
    tags=("temporal", "agg", "statistics", "extension"),
)
def x_regression_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", F.col("ts")).cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("x"),
    ).agg(F.count("*").alias("y"))
    s = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    slope = num / den
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n")
    return s.select(
        "event_type",
        "n",
        slope.alias("slope_per_day"),
        intercept.alias("intercept"),
    ).orderBy("event_type")


@register(
    "x_dow_profile",
    oracle="""
        SELECT event_type,
               CAST(datediff('day', DATE '1970-01-01',
                             CAST(date_trunc('day', ts) AS DATE)) % 7
                    AS INTEGER) AS dow,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    doc="Day-of-week seasonality profile per event type. The weekday "
    "index is epoch-days mod 7 (0 = Thursday, 1970-01-01) computed "
    "IDENTICALLY on both engines — deliberately not dayofweek(), whose "
    "numbering conventions differ cross-engine (Spark Sunday=1, DuckDB "
    "dow Sunday=0) and have caused real off-by-one bugs. One hash "
    "aggregate; the weekly-cycle baseline anomaly monitors compare "
    "against",
    tags=("temporal", "agg", "extension"),
)
def x_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dow = F.pmod(
        F.datediff(
            F.date_trunc("day", F.col("ts")).cast("date"),
            F.lit("1970-01-01").cast("date"),
        ),
        F.lit(7),
    ).cast("int")
    return (
        ev.groupBy("event_type", dow.alias("dow"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type", "dow")
    )


@register(
    "x_user_streaks",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('day', ts) AS DATE) AS d
            FROM events
        ), grp AS (
            SELECT user_id, d,
                   datediff('day', DATE '1970-01-01', d)
                     - row_number() OVER (
                           PARTITION BY user_id ORDER BY d) AS g
            FROM days
        ), streaks AS (
            SELECT user_id, g, COUNT(*) AS len
            FROM grp GROUP BY user_id, g
        )
        SELECT user_id,
               MAX(len) AS longest_streak,
               COUNT(*) AS n_streaks,
               CAST(SUM(len) AS BIGINT) AS active_days
        FROM streaks GROUP BY user_id ORDER BY user_id
    """,
    doc="Gaps-and-islands (the classic consecutive-runs SQL pattern, new "
    "coverage): per-user longest consecutive-day activity streak, streak "
    "count, and total active days. The island key is epoch-day minus the "
    "per-user day ordinal — constant within a consecutive run, so one "
    "distinct + one window + two hash aggregates replace any iterative "
    "or self-join formulation. Window partitions are per-user day "
    "sequences (calendar-bounded); day grain means integer-exact "
    "arithmetic on both engines",
    tags=("temporal", "window", "extension"),
)
def x_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.select(
        "user_id",
        "d",
        (
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("g"),
    )
    streaks = grp.groupBy("user_id", "g").agg(F.count("*").alias("len"))
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("len").alias("longest_streak"),
            F.count("*").alias("n_streaks"),
            F.sum("len").cast("bigint").alias("active_days"),
        )
        .orderBy("user_id")
    )


@register(
    "x_coverage_audit",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day
            FROM events GROUP BY 1, 2
        )
        SELECT event_type,
               CAST(MIN(day) AS TIMESTAMP) AS first_day,
               CAST(MAX(day) AS TIMESTAMP) AS last_day,
               COUNT(*) AS days_present,
               datediff('day', MIN(day), MAX(day)) + 1 AS days_span,
               datediff('day', MIN(day), MAX(day)) + 1 - COUNT(*) AS days_missing
        FROM daily GROUP BY event_type ORDER BY event_type
    """,
    doc="Time-coverage audit per event type: presence span vs distinct "
    "days observed, surfacing calendar gaps (a silent upstream-ingestion "
    "failure mode) without materializing the calendar — two hash aggs "
    "(distinct (type, day), then per-type min/max/count), no explode, no "
    "join; the gap count is pure date arithmetic, engine-identical",
    tags=("temporal", "audit", "extension"),
)
def x_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    span = F.datediff(F.max("day"), F.min("day")) + 1
    return (
        daily.groupBy("event_type")
        .agg(
            F.min("day").cast("timestamp").alias("first_day"),
            F.max("day").cast("timestamp").alias("last_day"),
            F.count("*").alias("days_present"),
            span.alias("days_span"),
            (span - F.count("*")).alias("days_missing"),
        )
        .orderBy("event_type")
    )
