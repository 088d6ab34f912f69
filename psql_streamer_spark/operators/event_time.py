"""Event-time windowing in oracle-checkable batch form (B1 + §2.8 rows).

The mux's count+time batching (mux/mux.go:51-86) maps to micro-batch
triggers in streaming; its *semantic* content — bucketing an event stream
by time — maps to event-time windows. These queries use the exact
streaming primitives (`F.window`, sessionization logic) on batch frames so
the DuckDB oracle can validate them; streaming/ wraps the same expressions
with watermarks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from psql_streamer_spark.caching import warehouse_table
from psql_streamer_spark.functions.numeric import dsum, sql_dsum
from psql_streamer_spark.registry import register
from psql_streamer_spark.sources.tables import load_table


@register(
    "evt_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           {v} AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """.format(v=sql_dsum("value")),
)
def evt_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "evt_sliding_1h_30m",
    oracle="""
    WITH starts AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, event_type, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE, event_type, value FROM events
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           event_type, COUNT(*) AS n_events, {v} AS sum_value
    FROM starts
    GROUP BY 1, 2, 3
    """.format(v=sql_dsum("value")),
)
def evt_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: each event lands in size/slide = 2 windows. Spark
    expands this internally (explode of window instances) — same shape as
    the oracle's UNION ALL of shifted buckets."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "evt_session_windows_30m",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events, {v} AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """.format(v=sql_dsum("value")),
)
def evt_session_windows_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap — the batch analogue
    of streaming `session_window(ts, '30 minutes')`. Two windowed passes
    over the same (user_id, ts) partitioning = ONE shuffle; the session
    assignment itself is shuffle-free after that."""
    e = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer-µs gap: unix_timestamp() truncates to whole seconds,
    # and double-seconds arithmetic rounds at ~0.24µs ULP near epoch scale
    # — a gap of exactly 1800s could misclassify; long microseconds cannot
    gap_ok = (
        F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    ) <= 30 * 60 * 1_000_000
    flagged = e.withColumn(
        "new_session", F.when(gap_ok, F.lit(0)).otherwise(F.lit(1))
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        dsum("value").alias("sum_value"),
    )


@register(
    "evt_dedup_keep_first",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def evt_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keep-first dedup per (user_id, event_type) — the batch
    analogue of `dropDuplicatesWithinWatermark` (F5's UUID-based downstream
    dedup for at-least-once replays). `dropDuplicates` itself keeps an
    arbitrary row; row_number makes the choice reproducible."""
    e = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


@register(
    "evt_late_data_cutoff",
    oracle="""
    SELECT event_type,
           COUNT(*) FILTER (WHERE ts >= cutoff) AS n_on_time,
           COUNT(*) FILTER (WHERE ts < cutoff) AS n_late
    FROM events, (SELECT MAX(ts) - INTERVAL 24 HOUR AS cutoff FROM events)
    GROUP BY event_type
    """,
)
def evt_late_data_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics in batch: with the watermark at max(ts)-24h,
    count events the streaming engine would accept vs drop. The scalar
    cutoff broadcasts (tiny cross join) — no shuffle of the fact side."""
    e = load_table(spark, "events", sf_dir)
    cutoff = e.agg(
        (F.max("ts") - F.expr("INTERVAL 24 HOURS")).alias("cutoff")
    )
    return (
        e.crossJoin(F.broadcast(cutoff))
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("ts") >= F.col("cutoff"), 1)).alias("n_on_time"),
            F.count(F.when(F.col("ts") < F.col("cutoff"), 1)).alias("n_late"),
        )
    )


# --------------------------------------------------------------------------
# Hierarchical rollup re-aggregation (the continuous-aggregate pattern):
# daily stats computed FROM the hourly pre-aggregate, never from raw rows.
# --------------------------------------------------------------------------
@register(
    "evt_rollup_daily_from_hourly",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             COUNT(*) AS n, {v} AS sv,
             MIN(value) AS mn, MAX(value) AS mx
      FROM events GROUP BY 1, 2
    )
    SELECT date_trunc('day', h) AS day, event_type,
           CAST(SUM(n) AS BIGINT) AS n_events,
           {sv2} AS sum_value,
           MIN(mn) AS min_value, MAX(mx) AS max_value,
           CAST(COUNT(*) AS INT) AS n_hours_active
    FROM hourly GROUP BY 1, 2
    """.format(v=sql_dsum("value"), sv2=sql_dsum("sv")),
)
def evt_rollup_daily_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level rollup: raw -> hourly -> daily, where the daily pass reads
    ONLY the hourly aggregate. This is the 100 TB reporting shape — the
    hourly layer is what a materialized/continuous aggregate stores, and
    every coarser window (day/week/month) re-aggregates ~24x fewer rows
    instead of rescanning raw events. Works because count/sum/min/max are
    reaggregable (decomposable aggregates); avg = sum/count derived at the
    end; percentiles need sketches (approx_percentile mergeable buffers)."""
    e = load_table(spark, "events", sf_dir)
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        dsum("value").alias("sv"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    return hourly.groupBy(
        F.date_trunc("day", "h").alias("day"), "event_type"
    ).agg(
        F.sum("n").alias("n_events"),
        dsum("sv").alias("sum_value"),
        F.min("mn").alias("min_value"),
        F.max("mx").alias("max_value"),
        F.count("*").cast("int").alias("n_hours_active"),
    )


# --------------------------------------------------------------------------
# Ordered funnel: view -> click -> purchase, each stage strictly after the
# previous one for the same user. The product-analytics staple a
# MATCH_RECOGNIZE engine runs; expressed here as decomposable conditional
# aggregates so BOTH engines compute it with two hash aggregates and a
# broadcast-sized intermediate — no per-user sequence scan, no UDF.
# --------------------------------------------------------------------------
@register(
    "evt_funnel_stages",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t_view
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t_click
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT COUNT(*) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase
    FROM v
    """,
)
def evt_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage user counts for the ordered funnel. Each stage is a
    per-user MIN over a filtered scan joined to the previous stage's
    timestamps — stage frames shrink monotonically (users who reached
    stage k). Stage 1's frame (all viewers) is unbounded in |users|, so
    it joins without a broadcast hint (shuffle join, or AQE may elect a
    runtime broadcast when it measures the frame as small); only the
    later, funnel-shrunk stage frames (c) carry an explicit broadcast.
    The events scan stays filter-pushed on event_type. Output is one
    row of stage counts (the funnel chart)."""
    e = load_table(spark, "events", sf_dir)
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    counts = lambda df, name: df.agg(F.count("*").alias(name))  # noqa: E731
    return (
        counts(v, "n_view")
        .crossJoin(counts(c, "n_view_click"))
        .crossJoin(counts(p, "n_view_click_purchase"))
    )


# --------------------------------------------------------------------------
# Cohort retention: users grouped by first-seen week; how many are still
# active k weeks later. The classic product-analytics matrix — two hash
# aggregates and one join, no window over raw events.
# --------------------------------------------------------------------------
@register(
    "evt_retention_cohorts",
    oracle="""
    WITH firstseen AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      FROM events
    )
    SELECT f.cohort_week AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS BIGINT)
             AS week_offset,
           COUNT(*) AS n_active_users
    FROM activity a JOIN firstseen f ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def evt_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention matrix rows (cohort_week, week_offset, n_active_users).
    Scale shape: first-seen is a map-side-combined MIN per user; activity
    is a distinct over (user, week) — both shuffle on user_id, and AQE
    coalesces the join since both sides share that partitioning. Never a
    per-user sequence scan; the matrix is |cohorts| x |weeks| tiny."""
    e = load_table(spark, "events", sf_dir)
    firstseen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    return (
        activity.join(firstseen, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_active_users"))
    )


@register(
    "evt_week_over_week",
    oracle="""
    WITH weekly AS (
      SELECT date_trunc('week', ts) AS week, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT week, event_type, n,
           n - LAG(n) OVER (PARTITION BY event_type ORDER BY week) AS wow_delta
    FROM weekly
    """,
)
def evt_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week event-count deltas per type: the trend line every
    ops dashboard draws. The window runs over the |weeks| x |types|
    aggregate (tiny at any raw-data scale), so the only corpus-sized work
    is the map-side-combined weekly rollup."""
    e = load_table(spark, "events", sf_dir)
    weekly = e.groupBy(
        F.date_trunc("week", "ts").alias("week"), "event_type"
    ).agg(F.count("*").alias("n"))
    w = W.partitionBy("event_type").orderBy("week")
    return weekly.select(
        "week",
        "event_type",
        "n",
        (F.col("n") - F.lag("n").over(w)).alias("wow_delta"),
    )


# --------------------------------------------------------------------------
# Date-partitioned lake layout + partition pruning — the most basic 100 TB
# lever there is: a fact table laid out as dt=YYYY-MM-DD directories means
# a time-range query plans PartitionFilters and never opens files outside
# the range. The bucketed band index (operators/dedup.py) demonstrates
# co-located JOINS; this demonstrates pruned SCANS. The reference has no
# lake layer (its sink is Kafka; pg/*.go), so this is §2.8 extended-engine
# scope like the rest of the events surface.
# --------------------------------------------------------------------------
#: Inclusive 3-day slice of the 30-day synthetic corpus. Literal (not
#: computed from data) so both engines plan it as a constant — exactly
#: how a production daily job parameterizes its window.
EVT_PRUNE_START = "2024-01-10"
EVT_PRUNE_END = "2024-01-12"


def events_date_partitioned_table(spark: SparkSession, sf_dir: str) -> str:
    """Write the events table ONCE per session as a date-partitioned
    table (``event_date=YYYY-MM-DD/`` directories) and return its name —
    the ingest-side half of partition pruning. 30 partitions at any SF
    (the synthetic corpus spans 30 days); on a real lake this is the
    daily-append layout, and the partition count grows with DAYS, never
    with rows/day — which is why pruning survives any corpus width."""

    def _build(table: str) -> None:
        e = load_table(spark, "events", sf_dir).withColumn(
            "event_date", F.to_date("ts")
        )
        e.write.partitionBy("event_date").mode("overwrite").saveAsTable(table)

    return warehouse_table(spark, "events_by_date", sf_dir, _build)


@register(
    "evt_pruned_date_range",
    oracle=f"""
    SELECT date_trunc('day', ts) AS event_day, event_type,
           COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '{EVT_PRUNE_START}'
                               AND DATE '{EVT_PRUNE_END}'
    GROUP BY 1, 2
    """,
)
def evt_pruned_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type rollup over a 3-day range read from the
    date-partitioned table: the range predicate is a PARTITION filter,
    so the scan opens only the 3 matching date directories of 30 —
    plan-guarded in tests/test_plan_quality.py both ways (PartitionFilters
    in the scan node AND inputFiles() confined to the 3 directories).
    The oracle replays the same rollup against the RAW events parquet,
    proving layout + pruning change nothing but the bytes read. At 100 TB
    (= years of days), this is the difference between a 3-day job and a
    full-lake scan."""
    t = spark.table(events_date_partitioned_table(spark, sf_dir))
    return (
        t.filter(
            (F.col("event_date") >= F.lit(EVT_PRUNE_START).cast("date"))
            & (F.col("event_date") <= F.lit(EVT_PRUNE_END).cast("date"))
        )
        .groupBy(
            # emit the partition value as a midnight timestamp: DuckDB's
            # pandas bridge renders DATE as datetime64 anyway, so a
            # timestamp on both sides hash-compares cleanly (UTC session)
            F.col("event_date").cast("timestamp").alias("event_day"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
    )
