"""Event/streaming-shaped queries over the ``events`` table.

These run the SAME window expressions the streaming module plans
statefully over a stream (``streaming/windows.py``) — certifying the
expressions batch-side against SQL oracles, while
``tests/test_streaming.py`` exercises the stateful path end-to-end.
Also covers the JSON-extraction surface (the reference left its
``characters`` JSON column unparsed — SURVEY.md §2.6 "no JSON functions").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.relational import (
    ANOMALY_TRAIL,
    ANOMALY_Z,
    hourly_anomaly_from_counts,
)
from .operators.sketches import (
    HLL_M,
    HLL_SALT,
    QSK_K,
    QSK_SALT,
    _HLL_LC,
    _HLL_NUM,
    _HLL_RANK_CAP,
    _QSK_PS,
    _hll_estimate_frame,
    _hll_registers,
    _qsk_est_cols,
)
from .registry import register
from .sources.readers import load_table
from .streaming.windows import (
    hourly_tumbling_agg,
    session_counts,
    trailing_window_explode,
    trailing_window_spine,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "hourly_event_counts",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           ROUND(AVG(value), 6) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window (the batch twin of the
    streaming aggregation; ``F.window`` evaluates identically on both)."""
    e = _t(spark, sf_dir, "events")
    return hourly_tumbling_agg(
        e,
        "ts",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        ],
    ).select("window_start", "event_type", "n_events", "total_value", "avg_value")


@register(
    "event_props_k_stats",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6)
               AS avg_k,
           MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def event_props_k_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (``get_json_object``) + typed aggregation over a
    semi-structured props column."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return e.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("k"), 6).alias("avg_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


@register(
    "user_session_counts",
    """
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM marked
    GROUP BY user_id
    """,
)
def user_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (5-minute inactivity gap) via Spark's
    native ``session_window``; the oracle reproduces the half-open gap
    semantics with lag(). Per-user session/event counts."""
    e = _t(spark, sf_dir, "events")
    return session_counts(e, "ts", "user_id", gap="5 minutes")


@register(
    "stateful_sessionization",
    """
    WITH marked AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            >= 300000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM numbered
    GROUP BY user_id, sid
    """,
)
def stateful_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING-state demonstrator, NOT the batch path: the explicit
    per-user state fold (streaming/stateful.py) exercised on bounded
    input via applyInPandas — the same code that runs under
    applyInPandasWithState on a stream. Oracle = gaps-and-islands SQL.

    The Python-state fold measured ~100k rows/s at sf5 (VERDICT r2) —
    that is the price of EXPLICIT STATE, which only an unbounded stream
    needs. For bounded data, route to ``batch_sessionization`` below:
    identical output, pure JVM window plan, ~3× faster at sf5 and
    shuffle-equivalent at any scale. This registration stays to certify
    the streaming operator's batch twin against the same oracle.
    """
    from .streaming.stateful import sessionize_with_state

    e = _t(spark, sf_dir, "events")
    out = sessionize_with_state(e, gap_seconds=300)
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
    )


SESSION_GAP_SECONDS = 300


@register(
    "batch_sessionization",
    """
    WITH marked AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            >= 300000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM numbered
    GROUP BY user_id, sid
    """,
)
def batch_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE batch sessionization path (VERDICT r2 #5): gaps-and-islands
    as a pure JVM window plan — lag() marks session starts, a running
    sum numbers sessions, one grouped aggregate emits the session
    frames. Same output as ``stateful_sessionization`` (certified by
    the same oracle) with no Python stage: both windows and the
    aggregate share one user_id shuffle, everything stays in
    whole-stage codegen, and per-user frame state is bounded — this is
    the plan to benchmark and the one a 100 TB batch job should run.
    Event-id tiebreak makes same-timestamp ordering deterministic."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(lag_ts)
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            lag_ts.isNull()
            | (gap_us >= SESSION_GAP_SECONDS * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = marked.select(
        "user_id",
        "ts",
        "value",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sid"),
    )
    return numbered.groupBy("user_id", "sid").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    ).drop("sid")


@register(
    "events_asof_last_click",
    """
    WITH p AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, ts, ts AS click_ts, value AS click_value
        FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.click_ts, c.click_value
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def events_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): attach to every purchase the
    user's most recent click at-or-before it (last-touch attribution).
    The oracle is DuckDB's NATIVE ``ASOF LEFT JOIN`` — an independent
    implementation of the same operator, so the union+window
    composition is cross-checked against a purpose-built engine."""
    from .operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    return asof_join(
        purchases,
        clicks,
        on="ts",
        by=["user_id"],
        right_cols=["click_ts", "click_value"],
        suffix="",
    )


@register(
    "sliding_6h_event_volume",
    """
    WITH w AS (
        SELECT date_trunc('hour', ts) - to_hours(CAST(k AS BIGINT))
                   AS window_start,
               value
        FROM events, unnest(range(0, 6)) AS u(k)
    )
    SELECT window_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM w GROUP BY window_start
    """,
)
def sliding_6h_event_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window (6h window, 1h slide — each event lands
    in 6 windows). Same expression plans statefully on a stream
    (streaming/windows.py sliding_agg); the oracle materializes the
    window membership with an unnest."""
    from .streaming.windows import sliding_agg

    e = _t(spark, sf_dir, "events")
    return sliding_agg(
        e,
        "ts",
        "6 hours",
        "1 hour",
        [],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ],
    ).select("window_start", "n_events", "total_value")


@register(
    "purchase_click_attribution",
    """
    SELECT p.event_id, p.user_id, p.ts, p.value,
           COUNT(c.ts) AS n_clicks_30m
    FROM (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT user_id, ts FROM events
               WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
    GROUP BY p.event_id, p.user_id, p.ts, p.value
    """,
)
def purchase_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: clicks within the 30-minute attribution
    window of each purchase, counted per purchase. The same
    ``interval_join`` expressions plan as a watermark-bounded
    stream-stream join (streaming/joins.py,
    tests/test_streaming_joins.py)."""
    from .streaming.joins import interval_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts"), "value"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    joined = interval_join(
        purchases, clicks, ["user_id"], "p_ts", "c_ts", "30 minutes"
    )
    # left semantics via count-over-group after an inner join + union of
    # zero-click purchases would cost an extra pass; aggregate the inner
    # result and left-join it back to keep purchases with no clicks.
    counts = joined.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_clicks_30m")
    )
    return (
        purchases.join(counts, "event_id", "left")
        .na.fill({"n_clicks_30m": 0})
        .select(
            "event_id",
            "user_id",
            F.col("p_ts").alias("ts"),
            "value",
            "n_clicks_30m",
        )
    )


@register(
    "event_value_quantiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 6) AS p25,
           ROUND(quantile_cont(value, 0.50), 6) AS p50,
           ROUND(quantile_cont(value, 0.90), 6) AS p90,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events
    GROUP BY event_type
    """,
)
def event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``). At 100 TB the exact
    version needs a per-group sort; swap in ``approx_percentile``
    (t-digest sketch, one pass, mergeable) behind the same column
    names when error tolerance allows."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        *[
            F.round(F.percentile("value", F.lit(q)), 6).alias(name)
            for name, q in [
                ("p25", 0.25),
                ("p50", 0.50),
                ("p90", 0.90),
                ("p99", 0.99),
            ]
        ]
    )


@register(
    "daily_event_type_pivot",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events
    GROUP BY 1
    """,
)
def daily_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional counts) — daily event-type matrix. Uses
    ``groupBy().pivot(values=...)`` with an explicit vocabulary: one
    shuffle, no vocabulary-discovery job, fixed output schema."""
    e = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.na.fill(0, subset=types)


@register(
    "tier_crossing_alerts",
    """
    WITH cum AS (
        SELECT user_id, ts, event_id,
               SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS running_total
        FROM events
    ),
    edges(tier, edge) AS (VALUES (1, 1000.0), (2, 2500.0), (3, 4500.0)),
    crossings AS (
        SELECT c.user_id, e.tier, c.ts, c.running_total,
               ROW_NUMBER() OVER (PARTITION BY c.user_id, e.tier
                                  ORDER BY c.ts, c.event_id) AS rn
        FROM cum c JOIN edges e ON c.running_total >= e.edge
    )
    SELECT user_id, tier, ts AS crossed_at,
           ROUND(running_total, 2) AS running_total
    FROM crossings WHERE rn = 1
    """,
)
def tier_crossing_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the transformWithState spend-tier alert operator
    (streaming/tws.py): first event where each user's running value total
    reaches each tier edge. The streaming side is certified against this
    exact frame in tests/test_streaming_tws.py."""
    from .streaming.tws import tier_alerts_batch

    return tier_alerts_batch(_t(spark, sf_dir, "events"))


@register("event_type_sketch_stats", None)  # approximate by nature
def event_type_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregations — the one-pass, MERGEABLE path for 100 TB:
    HyperLogLog++ distinct users and t-digest median value per event
    type. Both are algebraic sketches (partials merge associatively
    across partitions/days), unlike their exact counterparts which need
    a full shuffle (count_distinct) or a per-group sort (percentile).
    Approximate => no value oracle; tests/test_properties.py bounds the
    relative error against the exact aggregates instead (HLL++ rsd
    defaults to 5%)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.round(
            F.approx_percentile("value", F.lit(0.5), F.lit(10000)), 6
        ).alias("approx_median_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "unattributed_purchases",
    """
    SELECT p.event_id, p.user_id, p.ts,
           ROUND(p.value, 2) AS value
    FROM events p
    WHERE p.event_type = 'purchase'
      AND NOT EXISTS (
            SELECT 1 FROM events c
            WHERE c.event_type = 'click'
              AND c.user_id = p.user_id
              AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
      )
    """,
)
def unattributed_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTER interval join: purchases with NO click in their 30-minute
    attribution window (the complement of purchase_click_attribution).
    Uses interval_join(how='left_outer') + IS NULL filter — the plan
    Catalyst turns into the same range join with null-padding; on
    streams the identical expressions run as a watermark-bounded outer
    stream-stream join (emission deferred to watermark passage)."""
    from .streaming.joins import interval_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts"), "value"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    return (
        interval_join(
            purchases, clicks, ["user_id"], "p_ts", "c_ts",
            "30 minutes", how="left_outer",
        )
        .filter(F.col("c_ts").isNull())
        .select(
            "event_id",
            "user_id",
            F.col("p_ts").alias("ts"),
            F.round("value", 2).alias("value"),
        )
    )


@register(
    "event_stream_dedup",
    """
    SELECT user_id, event_type, MIN(ts) AS ts
    FROM events
    GROUP BY user_id, event_type
    """,
)
def event_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming ingest dedup (streaming/dedup.py
    ``dedup_stream``): one surviving row per (user_id, event_type) with
    the earliest timestamp. On a stream the same operator runs as
    ``dropDuplicatesWithinWatermark`` with state bounded by the
    watermark horizon — certified equivalent on keys in
    tests/test_streaming_dedup.py."""
    from .streaming.dedup import dedup_stream

    return dedup_stream(
        _t(spark, sf_dir, "events"), ["user_id", "event_type"], "ts"
    )


@register(
    "event_time_rollup",
    """
    SELECT CAST(ts AS DATE) AS day,
           CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY GROUPING SETS ((CAST(ts AS DATE)),
                            (CAST(ts AS DATE),
                             CAST(EXTRACT(hour FROM ts) AS INTEGER)))
    """,
)
def event_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical time rollup: daily AND hourly
    aggregates of the event stream in ONE pass. GROUPING SETS compiles
    to a single Expand over the scan — where the naive approach (one
    GROUP BY per granularity, UNION ALL) reads the 100 TB fact table
    once per level, this reads it once total; distinct-user counts
    partial-aggregate per grouping before the one shuffle. The same
    shape extends to week/month levels by adding sets, still one scan."""
    e = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.hour("ts").alias("hour"),
        "user_id",
        "value",
    )
    return e.groupingSets([["day"], ["day", "hour"]], "day", "hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@register(
    "event_hourly_anomaly",
    f"""
    WITH hourly AS (
        SELECT event_type,
               date_trunc('hour', ts) AS hour_ts,
               COUNT(*) AS n_events
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    ),
    scored AS (
        SELECT event_type, hour_ts, n_events,
               AVG(n_events) OVER w AS base_mean,
               STDDEV(n_events) OVER w AS base_std
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts
                     ROWS BETWEEN {ANOMALY_TRAIL} PRECEDING
                              AND 1 PRECEDING)
    )
    SELECT event_type, hour_ts, n_events,
           ROUND(base_mean, 4) AS base_mean,
           (ROUND((n_events - base_mean) / base_std, 4) + 0.0) AS zscore,
           ABS((n_events - base_mean) / base_std) >= {ANOMALY_Z}
               AS is_anomaly
    FROM scored
    WHERE base_std IS NOT NULL AND base_std > 0
    ORDER BY event_type, hour_ts
    """,
)
def event_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-baseline anomaly detection: each (event_type, hour)'s
    count scored against the mean/stddev of its previous
    {ANOMALY_TRAIL} OBSERVED hours (bounded ROWS frame, current row
    excluded — no leakage). The ops-monitoring shape of a streaming
    pipeline, here on the batch table; counts are integers so the
    frame aggregates are exact in both engines and the z-score is
    bit-reproducible after rounding.

    Scale: one shuffle for the hourly pre-agg (map-side combined), one
    for the per-type window — the frame is bounded (O(1) state per
    row), so the window never buffers more than {ANOMALY_TRAIL} rows
    per group. The post-spine scoring lives in
    :func:`hourly_anomaly_from_counts`, shared verbatim with the
    streaming ``HourlyAnomalySink`` twin."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return hourly_anomaly_from_counts(hourly)


# ---------------------------------------------------------------------------
# Ordered conversion funnel
# ---------------------------------------------------------------------------

FUNNEL_STEPS = ("view", "click", "purchase")
#: Max delay for a step to count as converting from the previous one.
FUNNEL_WINDOW_HOURS = 24


def conversion_funnel_steps(ev: DataFrame):
    """Per-user first-touch step times (s1, s2, s3 frames) for the
    ordered funnel: each step's first event strictly after the previous
    step's time and within FUNNEL_WINDOW_HOURS of it."""
    # v and c are each consumed from TWO branches downstream (the next
    # step's join + the caller's step count): left lazy, counting the
    # funnel re-scans events in a pyramid (6 scans for 3 steps).
    # Each frame is one small row per user — materialize once.
    v = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("s1"))
        .localCheckpoint(eager=True)
    )
    horizon = F.expr(f"INTERVAL {FUNNEL_WINDOW_HOURS} HOURS")
    c = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("s1"))
            & (F.col("ts") <= F.col("s1") + horizon)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("s2"))
        .localCheckpoint(eager=True)
    )
    p = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("s2"))
            & (F.col("ts") <= F.col("s2") + horizon)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("s3"))
    )
    return v, c, p


@register(
    "event_conversion_funnel",
    """
    WITH v AS (
        SELECT user_id, MIN(ts) AS s1 FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS s2
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.s1
          AND e.ts <= v.s1 + INTERVAL 24 HOUR
        GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS s3
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.s2
          AND e.ts <= c.s2 + INTERVAL 24 HOUR
        GROUP BY 1
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_step1_view,
           (SELECT COUNT(*) FROM c) AS n_step2_click,
           (SELECT COUNT(*) FROM p) AS n_step3_purchase,
           ROUND((SELECT COUNT(*) FROM c)
               / (SELECT COUNT(*) FROM v), 4) AS rate_step2,
           ROUND((SELECT COUNT(*) FROM p)
               / (SELECT COUNT(*) FROM c), 4) AS rate_step3,
           ROUND((SELECT COUNT(*) FROM p)
               / (SELECT COUNT(*) FROM v), 4) AS rate_overall
    """,
)
def event_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user counts
    at step k only with an event STRICTLY AFTER their step-k-1 time and
    within a 24-hour conversion window (first-touch semantics — the
    standard product-analytics funnel, not the unordered 'did all three
    ever' count).

    Scale: one conditional-min aggregate per step, each over a
    type-filtered scan (predicate pushed to the parquet reader), joined
    to the previous step's per-user frame on user_id — each step's
    frame only shrinks, and every shuffle is keyed on user_id so AQE
    coalesces the tail. No windows over the full event stream, no
    per-user sorting, no collect."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v, c, p = conversion_funnel_steps(ev)
    nv = v.agg(F.count(F.lit(1)).alias("n_step1_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_step2_click"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_step3_purchase"))
    return (
        nv.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_step1_view",
            "n_step2_click",
            "n_step3_purchase",
            F.round(
                F.col("n_step2_click") / F.col("n_step1_view"), 4
            ).alias("rate_step2"),
            F.round(
                F.col("n_step3_purchase") / F.col("n_step2_click"), 4
            ).alias("rate_step3"),
            F.round(
                F.col("n_step3_purchase") / F.col("n_step1_view"), 4
            ).alias("rate_overall"),
        )
    )


# ---------------------------------------------------------------------------
# Weekly cohort retention
# ---------------------------------------------------------------------------

RETENTION_MAX_WEEKS = 3
#: A user counts as retained in a week only with >= this many events
#: that week ("engaged-user" retention, not any-ping retention) — also
#: what gives the synthetic every-user-always-active corpus a real
#: attrition curve to certify.
ENGAGED_MIN_EVENTS = 16


@register(
    "event_cohort_retention",
    f"""
    WITH cohorts AS (
        SELECT user_id,
               CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    sizes AS (
        SELECT cohort_week, COUNT(*) AS n_cohort FROM cohorts GROUP BY 1
    ),
    activity AS (
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events
        GROUP BY 1, 2
        HAVING COUNT(*) >= {ENGAGED_MIN_EVENTS}
    ),
    j AS (
        SELECT c.cohort_week,
               date_diff('day', c.cohort_week, a.week) // 7 AS week_offset
        FROM activity a JOIN cohorts c USING (user_id)
        WHERE date_diff('day', c.cohort_week, a.week) // 7
                  BETWEEN 0 AND {RETENTION_MAX_WEEKS}
    ),
    ret AS (
        SELECT cohort_week, week_offset, COUNT(*) AS n_active
        FROM j GROUP BY 1, 2
    )
    SELECT r.cohort_week,
           CAST(r.week_offset AS INTEGER) AS week_offset,
           r.n_active, s.n_cohort,
           ROUND(r.n_active / s.n_cohort, 4) AS retention_rate
    FROM ret r JOIN sizes s USING (cohort_week)
    ORDER BY 1, 2
    """,
)
def event_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users cohorted by first-signup week;
    for each offset 0..3 weeks, how many were ENGAGED that week
    (>= ENGAGED_MIN_EVENTS events) and what fraction of the cohort
    that is -- the standard growth-analytics retention triangle.

    Scale: cohort assignment is one agg over the signup-filtered scan
    (predicate pushed); activity is a distinct over (user, week) —
    both shuffles keyed on user_id, then one tiny (cohort, offset)
    agg. No windows over the raw stream, no per-user state."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # cohorts feeds TWO branches (per-cohort sizes + the retention
    # join); one small row per signed-up user — materialize once so the
    # signup scan+agg doesn't recompute per branch.
    cohorts = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(
            F.date_trunc("week", F.min("ts"))
            .cast("date")
            .alias("cohort_week")
        )
        .localCheckpoint(eager=True)
    )
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    activity = (
        ev.groupBy(
            "user_id",
            F.date_trunc("week", "ts").cast("date").alias("week"),
        )
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= ENGAGED_MIN_EVENTS)
        .drop("__n")
    )
    offset = (
        F.datediff(F.col("week"), F.col("cohort_week")) / 7
    ).cast("int")
    ret = (
        activity.join(cohorts, "user_id")
        .withColumn("week_offset", offset)
        .filter(F.col("week_offset").between(0, RETENTION_MAX_WEEKS))
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        ret.join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "n_cohort",
            F.round(F.col("n_active") / F.col("n_cohort"), 4).alias(
                "retention_rate"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "event_props_map_explode",
    """
    WITH kv AS (
        SELECT e.event_type,
               k AS prop_key,
               json_extract_string(e.props, '$.' || k) AS prop_value
        FROM (SELECT event_type, props,
                     unnest(json_keys(props)) AS k
              FROM events) e
    )
    SELECT event_type, prop_key,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(COUNT(DISTINCT prop_value) AS BIGINT) AS n_distinct,
           MIN(TRY_CAST(prop_value AS INTEGER)) AS min_int,
           MAX(TRY_CAST(prop_value AS INTEGER)) AS max_int
    FROM kv GROUP BY 1, 2
    """,
)
def event_props_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured MAP pathway: ``from_json`` to
    ``map<string,string>`` then a map EXPLODE to (key, value) rows —
    the generic profile of a variable-schema props column (vs
    ``event_props_k_stats``' fixed-path extraction). Per (event_type,
    key): counts, distinct values, numeric min/max.

    Scale: parse + explode run at scan speed (JsonToStructs +
    Generate, no Python); the shuffle carries only the exploded
    (type, key, value) triples; distinct-value counting rides the
    same aggregate pass."""
    e = _t(spark, sf_dir, "events")
    kv = e.select(
        "event_type",
        F.explode(
            F.from_json(F.col("props"), "map<string,string>")
        ).alias("prop_key", "prop_value"),
    )
    return kv.groupBy("event_type", "prop_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.count_distinct("prop_value").cast("long").alias("n_distinct"),
        F.min(F.col("prop_value").cast("int")).alias("min_int"),
        F.max(F.col("prop_value").cast("int")).alias("max_int"),
    )


@register(
    "event_props_variant_stats",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER))
                AS BIGINT) AS sum_k,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.missing')
                              IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missing_path
    FROM events
    GROUP BY event_type
    """,
)
def event_props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 VARIANT path for semi-structured props: ``parse_json``
    to the binary-encoded VariantType once, then typed
    ``try_variant_get`` extractions — the modern engine's answer to
    repeated string-JSON parsing (one parse, many cheap typed reads;
    columnar shredding at rest when the sink supports it). Also
    exercises the null-safe miss path (``$.missing``), which
    try_variant_get returns NULL for instead of erroring.

    Same aggregate contract as ``event_props_k_stats`` (which reads
    the string column per-path) — the two queries certify both
    semi-structured pathways against one oracle family."""
    e = _t(spark, sf_dir, "events")
    v = e.select(
        "event_type", F.parse_json(F.col("props")).alias("__v")
    )
    k = F.try_variant_get(F.col("__v"), "$.k", "int")
    miss = F.try_variant_get(F.col("__v"), "$.missing", "string")
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(k).cast("long").alias("sum_k"),
        F.sum(F.when(miss.isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_missing_path"),
    )


TRAILING_HOURS = 24


@register(
    "trailing_24h_user_spend",
    f"""
    SELECT event_id, user_id, ts,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_purchases_24h,
           ROUND(SUM(value) OVER w, 4) AS spend_24h
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts
        RANGE BETWEEN INTERVAL {TRAILING_HOURS} HOURS PRECEDING
                  AND CURRENT ROW
    )
    """,
)
def trailing_24h_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE window frame: for every purchase, the user's
    purchase count and spend over the TRAILING 24 hours — the rolling
    per-entity feature every fraud/engagement model consumes. Distinct
    from ROWS frames (event_hourly_anomaly): the frame is bounded by a
    TIME interval, so variable event density changes the frame size
    per row.

    Spark bounds RANGE frames numerically → order by ``unix_micros(ts)``
    with a [-24h, 0] bound in MICROseconds, matching the timestamps' full
    precision. An epoch-SECONDS cast would truncate: two purchases inside
    the same second become RANGE peers (a later one counted in an earlier
    row's "trailing" frame) and rows up to 1s older than 24h slip in —
    exactly the drift DuckDB's exact INTERVAL arithmetic would expose on
    denser data. DuckDB's INTERVAL RANGE frame has the same
    both-ends-inclusive semantics, which the oracle hash certifies.
    Partitioned by user_id — parallel, frame state bounded per user; no
    single-partition window."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-TRAILING_HOURS * 3600 * 1_000_000, 0)
    )
    p = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    return p.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).cast("long").alias("n_purchases_24h"),
        F.round(F.sum("value").over(w), 4).alias("spend_24h"),
    )


ASOF_TOLERANCE_MIN = 30


@register(
    "events_asof_last_click_30m",
    f"""
    WITH p AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, ts, ts AS click_ts, value AS click_value
        FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value,
           CASE WHEN p.ts - c.ts <= INTERVAL {ASOF_TOLERANCE_MIN} MINUTE
                THEN c.click_ts END AS click_ts,
           CASE WHEN p.ts - c.ts <= INTERVAL {ASOF_TOLERANCE_MIN} MINUTE
                THEN c.click_value END AS click_value
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def events_asof_last_click_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of join's TOLERANCE arm: last click at-or-before each
    purchase, but only within a 30-minute lookback — stale matches
    become NULL while the purchase row survives (left semantics). This
    is the bounded-staleness point-in-time join every feature-store
    read uses ("latest feature value, but not older than X").

    The oracle composes DuckDB's native ASOF LEFT JOIN with the
    staleness CASE — an independent implementation of the same
    bounded-lookback semantics, so the operator's tolerance path is
    cross-engine certified, not just unit-tested."""
    from .operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    return asof_join(
        purchases,
        clicks,
        on="ts",
        by=["user_id"],
        right_cols=["click_ts", "click_value"],
        suffix="",
        tolerance=f"{ASOF_TOLERANCE_MIN} minutes",
    )


# ---------------------------------------------------------------------------
# Round-3 wave: rolling distinct actives, CDC latest-record compaction,
# event-type transition matrix.
# ---------------------------------------------------------------------------

ROLLING_ACTIVE_DAYS = 7


@register(
    "event_rolling_7d_active_users",
    f"""
    WITH user_days AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM user_days)
    SELECT d.day,
           CAST(COUNT(DISTINCT CASE WHEN u.day = d.day
                                    THEN u.user_id END) AS BIGINT)
               AS dau,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau_7d
    FROM days d
    JOIN user_days u
      ON u.day BETWEEN d.day - INTERVAL {ROLLING_ACTIVE_DAYS - 1} DAY
                   AND d.day
    GROUP BY d.day
    ORDER BY d.day
    """,
)
def event_rolling_7d_active_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling 7-day distinct active users per day (WAU) next to same-day
    actives (DAU) — the retention headline metric, and a shape windows
    CANNOT express: COUNT(DISTINCT) over a sliding frame isn't
    decomposable, so the standard scale plan is (1) collapse events to
    distinct (day, user) pairs — one dedup shuffle that shrinks the
    input to at most days×users — then (2) fan each pair out to the ≤7
    calendar days it supports via a broadcast range join against the
    tiny day dimension, then (3) one distinct-count per day. Work is
    linear in user-days × window, never events × window, and no
    per-user event history is ever held in memory (the collect_set
    alternative OOMs on power users at 100 TB)."""
    e = _t(spark, sf_dir, "events")
    user_days = e.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    # The day dimension is bounded by the calendar (~365 rows/year):
    # always broadcast-sized no matter the event volume.
    days = user_days.select("day").distinct().withColumnRenamed(
        "day", "anchor"
    )
    fanned = user_days.join(
        F.broadcast(days),
        (F.col("day") <= F.col("anchor"))
        & (
            F.col("day")
            >= F.date_sub(F.col("anchor"), ROLLING_ACTIVE_DAYS - 1)
        ),
    )
    return (
        fanned.groupBy("anchor")
        .agg(
            F.countDistinct(
                F.when(F.col("day") == F.col("anchor"), F.col("user_id"))
            )
            .cast("long")
            .alias("dau"),
            F.countDistinct("user_id").cast("long").alias("wau_7d"),
        )
        .withColumnRenamed("anchor", "day")
        .orderBy("day")
    )


@register(
    "events_latest_per_user",
    """
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_event_type,
           ROUND(value, 4) AS last_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-per-key compaction — THE change-data-capture /
    upsert-materialization primitive (snapshot = last version of every
    key), deterministic under same-timestamp ties via the event-id
    tiebreak. One user_id shuffle, rank-1 filter; at 100 TB this is the
    window form of a max_by aggregation and AQE handles key skew. The
    same plan compacts any append-only changelog into current state."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 4).alias("last_value"),
        )
    )


@register(
    "event_type_transitions",
    """
    WITH seq AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   AS to_type
        FROM events
    ),
    c AS (
        SELECT from_type, to_type, COUNT(*) AS n_transitions
        FROM seq WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type,
           CAST(n_transitions AS BIGINT) AS n_transitions,
           ROUND(n_transitions / SUM(n_transitions)
                 OVER (PARTITION BY from_type), 6) AS p_transition
    FROM c
    """,
)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: lead() pairs each event with the user's next one, a
    grouped count builds the matrix, and a tiny per-from_type window
    normalizes rows into probabilities — the behavioral-model / funnel
    diagnostic every product pipeline derives from its event stream.

    Scale: ONE user_id shuffle for the sequence window, then a
    types²-sized aggregate (the matrix is ~25 cells regardless of
    event volume) — the normalizing window runs on that tiny frame,
    not on events."""
    e = _t(spark, sf_dir, "events")
    seq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(seq_w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    c = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    norm_w = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n_transitions"),
        F.round(F.col("n") / F.sum("n").over(norm_w), 6).alias(
            "p_transition"
        ),
    )


#: 3 × 1.4826 (the normal-consistency constant): the classic robust
#: "beyond 3 sigma-equivalents" outlier cut. One literal shared with the
#: oracle so both engines compare against the identical double.
MAD_CUT = 4.4478


@register(
    "event_value_outliers_mad",
    f"""
    WITH med AS (
        SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
        FROM events GROUP BY 1
    ),
    dev AS (
        SELECT e.event_type, m.med,
               ROUND(abs(e.value - m.med), 6) AS dev
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, ROUND(quantile_cont(dev, 0.5), 6) AS mad
        FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ANY_VALUE(d.med) AS median_value,
           ANY_VALUE(a.mad) AS mad,
           CAST(SUM(CASE WHEN d.dev > ROUND({MAD_CUT} * a.mad, 6)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type
    """,
)
def event_value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation: per
    event type, median → per-row absolute deviation → median of
    deviations (MAD) → count of rows beyond 3×1.4826×MAD. Unlike
    mean/stddev z-scores (event_hourly_anomaly's shape), the MAD cut
    itself is immune to the outliers it hunts — the robust-statistics
    gate a value-distribution monitor actually ships.

    Scale: exact two-level medians genuinely cost two passes over the
    fact (no single-pass decomposition exists); each pass is a
    types-keyed exact percentile with the tiny per-type frames
    broadcast back. Every intermediate is rounded to 6 digits BEFORE
    the next stage so both engines interpolate and compare identical
    doubles. At 100 TB swap `percentile` for `approx_percentile` and
    one pass disappears — registered exact to keep the hash oracle."""
    e = _t(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.round(F.abs(F.col("value") - F.col("med")), 6).alias("dev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("dev", F.lit(0.5)), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.first("med").alias("median_value"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(
                    F.col("dev") > F.round(F.lit(MAD_CUT) * F.col("mad"), 6),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# CDC snapshot diff — what changed between two as-of materializations
# ---------------------------------------------------------------------------

SNAPSHOT_T1 = "2024-01-20 00:00:00"
SNAPSHOT_T2 = "2024-01-30 00:00:00"


@register(
    "events_snapshot_diff",
    f"""
    WITH s1 AS (
        SELECT user_id, event_type, event_id FROM (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '{SNAPSHOT_T1}'
        ) WHERE rn = 1
    ),
    s2 AS (
        SELECT user_id, event_type, event_id FROM (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '{SNAPSHOT_T2}'
        ) WHERE rn = 1
    )
    SELECT COALESCE(s2.user_id, s1.user_id) AS user_id,
           COALESCE(s2.event_type, s1.event_type) AS event_type,
           CASE WHEN s1.user_id IS NULL THEN 'inserted'
                WHEN s1.event_id <> s2.event_id THEN 'updated'
                ELSE 'unchanged' END AS status,
           s1.event_id AS old_event_id,
           s2.event_id AS new_event_id
    FROM s1 FULL OUTER JOIN s2
      ON s1.user_id = s2.user_id AND s1.event_type = s2.event_type
    """,
)
def events_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — classify every (user, event-type) key as
    inserted / updated / unchanged between two as-of compactions of the
    changelog (the table-versioning "what changed since T1" audit;
    deletes can't occur on an append-only log, so the full-outer shape
    still proves out the three-way CASE).

    Physical shape: both snapshots are rank-1 windows over the SAME
    key partitioning, and the diff is a full-outer join on that same
    key — one shuffle layout reused three times. At 100 TB the as-of
    filters push to the scan, and incremental engines would read two
    manifest versions instead; the relational semantics certified here
    are exactly what a snapshot-isolation reader must produce."""
    e = _t(spark, sf_dir, "events")

    def snap(hi: str, tag: str) -> DataFrame:
        w = Window.partitionBy("user_id", "event_type").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            e.filter(F.col("ts") < F.lit(hi).cast("timestamp"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                F.col("user_id").alias(f"{tag}_user"),
                F.col("event_type").alias(f"{tag}_type"),
                F.col("event_id").alias(f"{tag}_event_id"),
            )
        )

    s1, s2 = snap(SNAPSHOT_T1, "s1"), snap(SNAPSHOT_T2, "s2")
    j = s1.join(
        s2,
        (s1.s1_user == s2.s2_user) & (s1.s1_type == s2.s2_type),
        "full_outer",
    )
    return j.select(
        F.coalesce("s2_user", "s1_user").alias("user_id"),
        F.coalesce("s2_type", "s1_type").alias("event_type"),
        F.when(F.col("s1_user").isNull(), "inserted")
        .when(F.col("s1_event_id") != F.col("s2_event_id"), "updated")
        .otherwise("unchanged")
        .alias("status"),
        F.col("s1_event_id").alias("old_event_id"),
        F.col("s2_event_id").alias("new_event_id"),
    )


# ---------------------------------------------------------------------------
# SCD Type 2 — value-tier history intervals per user (gaps-and-islands)
# ---------------------------------------------------------------------------

SCD2_TIER_MID = 100.0
SCD2_TIER_HIGH = 300.0


@register(
    "user_value_scd2",
    f"""
    WITH tiers AS (
        SELECT user_id, ts, event_id,
               CASE WHEN value >= {SCD2_TIER_HIGH} THEN 'high'
                    WHEN value >= {SCD2_TIER_MID} THEN 'mid'
                    ELSE 'low' END AS tier
        FROM events WHERE event_type = 'purchase'
    ),
    flagged AS (
        SELECT *,
               CASE WHEN tier = lag(tier) OVER w THEN 0 ELSE 1 END
                   AS changed
        FROM tiers
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
        SELECT *,
               SUM(changed) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    ),
    intervals AS (
        SELECT user_id, tier, island,
               MIN(ts) AS valid_from,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM islands GROUP BY user_id, tier, island
    )
    SELECT user_id, tier, valid_from,
           lead(valid_from) OVER (
               PARTITION BY user_id ORDER BY valid_from, island) AS valid_to,
           CAST(lead(valid_from) OVER (
               PARTITION BY user_id ORDER BY valid_from, island) IS NULL
               AS BOOLEAN) AS is_current,
           n_events
    FROM intervals
    """,
)
def user_value_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 build — collapse each user's
    purchase history into tier intervals (valid_from / valid_to /
    is_current), where tier is a spend band per purchase and
    consecutive same-tier purchases merge into one interval
    (gaps-and-islands on attribute change, not time gap — the
    dimension-history twin of sessionization).

    Physical shape: every window partitions by user_id with the same
    (ts, event_id) total order, so ONE hash shuffle feeds the lag flag,
    the running island sum, the interval rollup, and the lead stitch —
    Catalyst collapses adjacent same-partitioning windows into a single
    exchange. Intervals are half-open ``[valid_from, valid_to)`` with a
    NULL-ended current row, the standard warehouse dimension contract."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    tiered = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("value") >= SCD2_TIER_HIGH, "high")
        .when(F.col("value") >= SCD2_TIER_MID, "mid")
        .otherwise("low")
        .alias("tier"),
    )
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = tiered.withColumn(
        "changed",
        F.when(
            F.col("tier") == F.lag("tier").over(seq), F.lit(0)
        ).otherwise(F.lit(1)),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("changed").over(
            seq.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    intervals = islands.groupBy("user_id", "tier", "island").agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    # island is the deterministic tiebreak: two adjacent islands share
    # valid_from when a user's tier changes between two same-ts
    # purchases, and valid_from alone would leave the lead() stitch
    # engine-defined for that pair (cross-engine hash flap).
    stitch = Window.partitionBy("user_id").orderBy("valid_from", "island")
    return intervals.select(
        "user_id",
        "tier",
        "valid_from",
        F.lead("valid_from").over(stitch).alias("valid_to"),
        F.lead("valid_from").over(stitch).isNull().alias("is_current"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Partition-pruned scan over a date-partitioned layout
# ---------------------------------------------------------------------------

PART_WEEK_LO = "2024-01-08"
PART_WEEK_HI = "2024-01-15"  # exclusive


def _partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Prepare (once per source-data version) a date-partitioned events
    layout — ``event_date=YYYY-MM-DD/`` directories — the standard
    time-partitioned fact table every warehouse lands its event stream
    into. The one-time partitioned write is what buys every subsequent
    time-ranged query its partition pruning. The cache tag fingerprints
    the source parquet's file stats, not just the path, so regenerating
    the same sf_dir invalidates the prepared copy instead of serving
    stale rows against a fresh oracle."""
    import pathlib

    from .sources.readers import source_fingerprint

    tag = source_fingerprint(sf_dir, "events")
    root = (
        pathlib.Path(__file__).resolve().parent.parent
        / "spark-warehouse"
        / f"part_events_{tag}"
    )
    if not (root / "_SUCCESS").exists():
        (
            _t(spark, sf_dir, "events")
            .withColumn("event_date", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(str(root))
        )
    return str(root)


@register(
    "partitioned_events_week",
    f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE CAST(ts AS DATE) >= DATE '{PART_WEEK_LO}'
      AND CAST(ts AS DATE) <  DATE '{PART_WEEK_HI}'
    GROUP BY 1
    """,
)
def partitioned_events_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One week's rollup read from the DATE-PARTITIONED events layout —
    the partition-pruning twin of `bucketed_priority_revenue`'s
    shuffle-free join: the date predicate resolves against partition
    DIRECTORIES at planning time (PartitionFilters in the scan,
    asserted by `tests/test_plans.py`), so the job reads 7 of 30 day
    partitions and never opens the rest — at 100 TB the difference
    between scanning a week and scanning three years. The oracle
    certifies the ANSWER against the unpartitioned raw table, so the
    layout round-trip (derive event_date, partitioned write, pruned
    read) is value-exact end-to-end."""
    path = _partitioned_events_path(spark, sf_dir)
    e = spark.read.parquet(path)
    return (
        e.filter(
            (F.col("event_date") >= F.lit(PART_WEEK_LO).cast("date"))
            & (F.col("event_date") < F.lit(PART_WEEK_HI).cast("date"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


EVENTS_CAL_LO = "2024-01-01"
EVENTS_CAL_HI = "2024-01-31"


@register(
    "weekend_events_dpp",
    f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '{EVENTS_CAL_LO}'
                               AND DATE '{EVENTS_CAL_HI}'
      AND isodow(CAST(ts AS DATE)) >= 6
    GROUP BY 1
    """,
)
def weekend_events_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend rollup via DYNAMIC partition pruning: the fact side is
    the date-partitioned events layout, the dim side is the generated
    calendar spine filtered to weekends, and the join key is the
    partition column — so Catalyst (a) infers the weekday predicate
    onto the fact scan through join-constraint propagation and (b)
    plants a ``dynamicpruningexpression`` PartitionFilter that reuses
    the dim's broadcast to enumerate exactly the weekend partition
    directories before any fact byte is read (asserted in
    ``tests/test_plans.py``). The selective-dim ⋈ partitioned-fact
    pattern is THE star-schema scan-killer at 100 TB — this certifies
    Spark's automatic version of it end-to-end against the raw-table
    oracle."""
    path = _partitioned_events_path(spark, sf_dir)
    e = spark.read.parquet(path)
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(EVENTS_CAL_LO).cast("date"),
                F.lit(EVENTS_CAL_HI).cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("cal_date")
    )
    weekends = spine.filter(F.weekday("cal_date") + 1 >= 6)
    return (
        e.join(weekends, e.event_date == weekends.cal_date)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("event_date").cast("long").alias("n_days"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct-count sketch with exact audit (round 6)
# ---------------------------------------------------------------------------

KMV_K = 64
KMV_SALT = "kmv-v1"
# the SHARED estimator constant (one definition — the bit-for-bit
# stream/batch parity must not rest on two literals staying in sync)
from .operators.sketches import KMV_HASH_RANGE as _KMV_RANGE  # noqa: E402


def _kmv_oracle() -> str:
    est = (
        f"CAST(ROUND({KMV_K - 1} * {_KMV_RANGE!r} / hk, 0) AS BIGINT)"
    )
    return f"""
    WITH m AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (
        SELECT event_type,
               CAST(('0x' || substr(md5('{KMV_SALT}|'
                    || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM m
    ),
    r AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h)
                   AS rn
        FROM h
    ),
    agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               MAX(CASE WHEN rn <= {KMV_K} THEN h END) AS hk
        FROM r GROUP BY event_type
    )
    SELECT event_type,
           n_exact AS n_exact_distinct,
           CAST(CASE WHEN n_exact <= {KMV_K} THEN n_exact
                ELSE {est} END AS BIGINT) AS kmv_estimate,
           ROUND((CAST(CASE WHEN n_exact <= {KMV_K} THEN n_exact
                       ELSE {est} END AS DOUBLE) - n_exact)
                 / n_exact, 6) AS rel_err
    FROM agg ORDER BY event_type
    """


@register("event_kmv_distinct", _kmv_oracle())
def event_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct-user cardinality via the KMV (bottom-k /
    k-minimum-values) sketch, audited against the exact count in the
    same row. Unlike the HLL row in ``event_type_sketch_stats`` (rows-
    only by nature — HLL register layouts are engine-internal), KMV is
    a DETERMINISTIC function of the data through the repo's portable
    md5 hash: estimate = (k-1) * 2^60 / h_(k), so a SQL oracle replays
    the sketch bit-for-bit and the driver hash-certifies an
    approximate-counting architecture end-to-end.

    Scale shape: KMV is the mergeable bounded-memory cardinality
    sketch — per partition keep the k smallest hashes, merge keeps the
    k smallest of the union. The Spark side runs the two-phase
    partial-agg merge form (``operators/sketches.py bottom_k_stats``):
    measured 2-6x faster than the ``row_number`` window form at 20M
    rows / 4M distinct per key with IDENTICAL h_k (BASELINE.md r6 —
    the window pays a full per-key sort of all distinct hashes), and
    memory-bounded by construction. The oracle keeps the window form —
    same h_k by definition, which is itself the cross-form
    certificate. Groups with <= k members report exactly (the sketch
    IS the set there); rel_err documents the (k-1)/h_k estimator's
    accuracy (~1/sqrt(k-1) ≈ 13% at k=64)."""
    from .operators.sketches import bottom_k_stats, kmv_hash

    d = _t(spark, sf_dir, "events")
    # the SHARED hash expression (operators/sketches.kmv_hash) — the
    # streaming KmvDistinctMonitorSink evaluates the same Column, so
    # streamed h_k ≡ this query's h_k bit-for-bit (e2e-tested)
    m = d.select("event_type", "user_id").distinct().select(
        "event_type", kmv_hash(F.col("user_id"), KMV_SALT).alias("h")
    )
    agg = bottom_k_stats(m, "event_type", "h", KMV_K)
    est = F.round(
        F.lit(float(KMV_K - 1)) * F.lit(_KMV_RANGE) / F.col("hk"), 0
    ).cast("long")
    kmv = F.when(F.col("n_exact") <= KMV_K, F.col("n_exact")).otherwise(
        est
    )
    return agg.select(
        "event_type",
        F.col("n_exact").alias("n_exact_distinct"),
        kmv.cast("long").alias("kmv_estimate"),
        F.round(
            (kmv.cast("double") - F.col("n_exact")) / F.col("n_exact"),
            6,
        ).alias("rel_err"),
    ).orderBy("event_type")


def _kmv_overlap_sql(
    m_cte: str, a: str, b: str, salt: str, k: int = KMV_K
) -> str:
    """The full KMV pair-overlap replay (sketch algebra + exact audit)
    parametrized over the domain: ``m_cte`` must yield ``m(k_, id_)``
    — distinct (key, member) pairs. Shared by
    ``event_kmv_type_overlap`` (types × users) and
    ``doc_source_vocab_overlap`` (sources × vocabulary); the output
    key columns are named ``a``/``b``."""
    return f"""
    WITH m AS ({m_cte}),
    h AS (
        SELECT DISTINCT k_,
               CAST(('0x' || substr(md5('{salt}|'
                    || CAST(id_ AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM m
    ),
    sk AS (
        SELECT k_, list(h ORDER BY h) AS hs FROM (
            SELECT k_, h,
                   ROW_NUMBER() OVER (PARTITION BY k_
                                      ORDER BY h) AS rn
            FROM h
        ) WHERE rn <= {k + 1}
        GROUP BY k_
    ),
    p AS (
        SELECT a.k_ AS {a}, b.k_ AS {b},
               a.hs AS hsa, b.hs AS hsb,
               list_slice(list_sort(list_distinct(
                   list_concat(a.hs, b.hs))), 1, {k + 1}) AS un
        FROM sk a JOIN sk b ON a.k_ < b.k_
    ),
    calc AS (
        SELECT {a}, {b},
               len(un) AS ku1,
               CAST(len(list_filter(list_slice(un, 1, {k}),
                    x -> list_contains(hsa, x)
                         AND list_contains(hsb, x))) AS BIGINT)
                   AS shared,
               un[{k}] AS hk,
               LEAST({k}, len(un)) AS den
        FROM p
    ),
    est AS (
        SELECT {a}, {b}, shared, den,
               CASE WHEN ku1 <= {k} THEN CAST(ku1 AS BIGINT)
                    ELSE CAST(ROUND({k - 1} * {_KMV_RANGE!r} / hk, 0)
                              AS BIGINT) END AS u_est
        FROM calc
    ),
    cnt AS (
        SELECT k_, CAST(COUNT(*) AS BIGINT) AS n
        FROM m GROUP BY k_
    ),
    ov AS (
        SELECT a.k_ AS {a}, b.k_ AS {b},
               CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM m a JOIN m b
          ON a.id_ = b.id_ AND a.k_ < b.k_
        GROUP BY 1, 2
    ),
    ex AS (
        SELECT ca.k_ AS {a}, cb.k_ AS {b},
               COALESCE(o.n_overlap, 0) AS n_exact_overlap,
               ca.n + cb.n - COALESCE(o.n_overlap, 0) AS n_exact_union
        FROM cnt ca JOIN cnt cb ON ca.k_ < cb.k_
        LEFT JOIN ov o ON o.{a} = ca.k_
                      AND o.{b} = cb.k_
    )
    SELECT ex.{a}, ex.{b},
           ex.n_exact_union, ex.n_exact_overlap,
           est.u_est AS kmv_union_estimate,
           CAST(ROUND(CAST(est.shared AS DOUBLE) * est.u_est
                      / est.den, 0) AS BIGINT) AS kmv_overlap_estimate,
           ROUND(CAST(est.shared AS DOUBLE) / est.den, 6) AS jaccard_est,
           ROUND(CAST(ex.n_exact_overlap AS DOUBLE)
                 / ex.n_exact_union, 6) AS jaccard_exact
    FROM ex JOIN est USING ({a}, {b})
    ORDER BY ex.{a}, ex.{b}
    """


def _kmv_overlap_oracle() -> str:
    return _kmv_overlap_sql(
        "SELECT DISTINCT event_type AS k_, user_id AS id_ FROM events",
        "type_a",
        "type_b",
        KMV_SALT,
    )


@register("event_kmv_type_overlap", _kmv_overlap_oracle())
def event_kmv_type_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distinct-user OVERLAP between every event-type pair estimated
    from the per-type KMV sketches alone — the SET-OPERATION algebra
    that makes bounded sketches composable (Beyer et al. / the
    theta-sketch idea): union = bottom-k of the two sketches' merged
    hash sets (the same k+1-discriminated exact-vs-estimator arm as
    ``KmvDistinctMonitorSink``), Jaccard = the fraction of the union's
    bottom-k present in BOTH sketches (each union survivor is a
    uniform random distinct member, so the shared fraction is an
    unbiased Jaccard estimate with the usual O(1/sqrt(k)) error), and
    intersection = Jaccard x union-estimate. Exact overlap/union audit
    in the same row.

    Why it matters at 100 TB: pairwise audience overlap across T
    segments exactly costs T^2 self-joins of the full (type, user)
    table; from persisted sketches it costs ONE scan to build (T x
    (k+1) rows of state — the same state the streaming monitor
    already maintains) and sketch-sized arithmetic for all T^2 pairs.
    The exact arm here IS that full self-join, present as the audit.
    "Distinct" means distinct 60-bit HASHES (the KMV honesty note).
    The pair spine is a type-cardinality sliver (T^2 rows), built by
    an inequality join of the per-type sketch arrays — nested-loop on
    a frame of T rows, never on data."""
    d = _t(spark, sf_dir, "events")
    m = d.select(
        F.col("event_type").alias("k_"), F.col("user_id").alias("id_")
    )
    return kmv_overlap_with_exact(m, "type_a", "type_b", KMV_SALT)


def kmv_overlap_with_exact(
    m: DataFrame, a: str, b: str, salt: str, k: int = KMV_K
) -> DataFrame:
    """Full KMV pair-overlap frame (sketch algebra + exact audit) over
    a ``(k_, id_)`` membership frame — the Spark twin of
    :func:`_kmv_overlap_sql`, shared by ``event_kmv_type_overlap``
    (types × users) and ``doc_source_vocab_overlap`` (sources ×
    vocabulary). ``m`` need not be distinct; it is deduplicated and
    localCheckpointed here (the Q15 discipline — the distinct pair
    frame is the substrate of the sketch arm AND both exact-audit
    arms; measured without it: 6 fact scans, with: 1)."""
    from .operators.sketches import (
        bottom_k_values,
        kmv_hash,
        kmv_pair_overlap,
    )

    m = m.distinct().localCheckpoint()
    h = m.select("k_", kmv_hash(F.col("id_"), salt).alias("h"))
    # the SHARED pair algebra (operators/sketches.kmv_pair_overlap) —
    # KmvDistinctMonitorSink.pair_overlaps evaluates the same operator
    # over its persisted state, so streamed pair estimates are this
    # frame's bit-for-bit (e2e-tested)
    est = kmv_pair_overlap(
        bottom_k_values(h, "k_", "h", k + 1), "k_", "h", k
    ).select(
        F.col("key_a").alias(a),
        F.col("key_b").alias(b),
        "u_est",
        "overlap_est",
        "jaccard_est",
    )
    cnt = m.groupBy("k_").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    mx = m.select(F.col("k_").alias(a), "id_")
    my = m.select(F.col("k_").alias(b), "id_")
    ov = (
        mx.join(my, "id_")
        .filter(F.col(a) < F.col(b))
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    ca = cnt.select(F.col("k_").alias(a), F.col("n").alias("na"))
    cb = cnt.select(F.col("k_").alias(b), F.col("n").alias("nb"))
    spine = ca.join(cb, F.col(a) < F.col(b))
    ex = spine.join(ov, [a, b], "left").select(
        a,
        b,
        F.coalesce("n_overlap", F.lit(0)).cast("long").alias(
            "n_exact_overlap"
        ),
        (
            F.col("na") + F.col("nb") - F.coalesce("n_overlap", F.lit(0))
        ).cast("long").alias("n_exact_union"),
    )
    return (
        ex.join(est, [a, b])
        .select(
            a,
            b,
            "n_exact_union",
            "n_exact_overlap",
            F.col("u_est").alias("kmv_union_estimate"),
            F.col("overlap_est").alias("kmv_overlap_estimate"),
            "jaccard_est",
            F.round(
                F.col("n_exact_overlap").cast("double")
                / F.col("n_exact_union"),
                6,
            ).alias("jaccard_exact"),
        )
        .orderBy(a, b)
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog distinct-count sketch with exact audit (round 8)
# ---------------------------------------------------------------------------


def _hll_reg_cte(key_sql: str, key: str) -> str:
    """h/r/m CTE text parametrized on the grouping-key expression —
    shared by :func:`_hll_oracle` and :func:`_hll_sliding_oracle` so
    the register construction cannot drift between the two replays."""
    return f"""h AS (
        SELECT {key_sql} AS {key},
               CAST(('0x' || substr(md5('{HLL_SALT}|'
                    || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM events
    ),
    r AS (
        SELECT {key}, h % {HLL_M} AS reg,
               LEAST(55 - length(bin(h // {HLL_M})), {_HLL_RANK_CAP})
                   AS rank
        FROM h
    ),
    m AS (
        SELECT {key}, reg, MAX(rank) AS mreg
        FROM r GROUP BY {key}, reg
    )"""


def _hll_fold_cte(key: str, src: str) -> str:
    """s/est CTE text: the integer harmonic fold + one-division raw
    estimate over a ``(key, reg, mreg)`` register frame ``src``."""
    return f"""s AS (
        SELECT {key},
               CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_RANK_CAP} - mreg))
                   AS BIGINT) AS s_present,
               CAST(COUNT(*) AS BIGINT) AS n_regs
        FROM {src} GROUP BY {key}
    ),
    est AS (
        SELECT {key},
               {HLL_M} - n_regs AS v,
               CAST(ROUND({_HLL_NUM!r} / (s_present
                    + ({HLL_M} - n_regs)
                      * (CAST(1 AS BIGINT) << {_HLL_RANK_CAP})), 0)
                   AS BIGINT) AS raw
        FROM s
    )"""


def _hll_est_case() -> str:
    """The linear-counting-vs-raw arm selection expression, over the
    ``est`` CTE's (v, raw) columns."""
    lc_list = "[" + ", ".join(str(x) for x in _HLL_LC) + "]"
    return (
        f"CASE WHEN raw <= {5 * HLL_M // 2} AND v > 0 "
        f"THEN list_extract({lc_list}, v) ELSE raw END"
    )


def _hll_oracle() -> str:
    est = _hll_est_case()
    return f"""
    WITH {_hll_reg_cte("event_type", "event_type")},
    {_hll_fold_cte("event_type", "m")},
    ex AS (
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY event_type
    )
    SELECT est.event_type,
           ex.n_exact AS n_exact_distinct,
           CAST({est} AS BIGINT) AS hll_estimate,
           CAST(v AS BIGINT) AS n_empty_registers,
           ROUND((CAST({est} AS DOUBLE) - ex.n_exact) / ex.n_exact, 6)
               AS rel_err
    FROM est JOIN ex USING (event_type)
    ORDER BY event_type
    """


@register("event_hll_distinct", _hll_oracle())
def event_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct-user cardinality via a PORTABLE HyperLogLog,
    audited against the exact count in the same row. The repo's HLL row
    (``event_type_sketch_stats``, Spark ``approx_count_distinct``) is
    rows-only by nature — engine-internal register layouts can't be
    replayed in SQL — so this query rebuilds the ALGORITHM on the
    portable 60-bit md5 hash where every step is engine-exact: register
    = h mod 64, rank = leading-zero count of the 54-bit remainder via
    LENGTH(BIN(rem)) (both engines print minimal binary), per-register
    MAX, then an INTEGER harmonic fold sum(2^(cap-rank)) — each term a
    power of two summed in BIGINT, so partition/summation order cannot
    drift — and ONE double division + ROUND for the alpha*m^2/Z
    estimate (the KMV estimator's determinism recipe). The small-range
    arm is classic linear counting m*ln(m/V), but ln() is PRECOMPUTED
    to a 64-entry integer table at import — neither engine evaluates a
    transcendental at query time, killing the cross-libm ULP risk.

    Scale shape: this is the sketch that wins when the KEY SPACE is
    what explodes — state is exactly m=64 registers per group (vs KMV's
    k=64 hashes but with a distinct() pre-shuffle): no distinct, no
    window, map-side partial MAX collapses each partition to
    (groups x 64) rows before the exchange, and registers merge by MAX
    (associative/commutative), the same mergeable-summaries property as
    the module's other sketches. Estimator error ~1.04/sqrt(64) = 13%;
    rel_err audits it per group. Groups small enough for the
    linear-counting arm report near-exactly."""
    from .operators.sketches import kmv_hash

    d = _t(spark, sf_dir, "events")
    h = d.select(
        "event_type", kmv_hash(F.col("user_id"), HLL_SALT).alias("h")
    )
    m = _hll_registers(h, "event_type")
    ex = d.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return (
        _hll_estimate_frame(m, "event_type")
        .join(ex, "event_type")
        .select(
            "event_type",
            F.col("n_exact").alias("n_exact_distinct"),
            "hll_estimate",
            "n_empty_registers",
            F.round(
                (F.col("hll_estimate").cast("double") - F.col("n_exact"))
                / F.col("n_exact"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


#: Sliding-window length in days for the HLL bucket-merge query.
HLL_WIN_DAYS = 7


def _trailing_spine_cte(w: int) -> str:
    """The n_days-per-window spine CTE shared by both sliding oracles
    (assumes a ``days(day)`` CTE in scope) — the SQL twin of
    :func:`trailing_window_spine`."""
    return f"""nd AS (
        SELECT t.wday AS day, CAST(COUNT(*) AS INTEGER) AS n_days
        FROM (SELECT d.day + CAST(r.i AS INTEGER) AS wday
              FROM days d CROSS JOIN range({w}) r(i)) t
        JOIN days dd ON dd.day = t.wday
        GROUP BY t.wday
    )"""


def _hll_sliding_oracle() -> str:
    est = _hll_est_case()
    w = HLL_WIN_DAYS
    return f"""
    WITH {_hll_reg_cte("CAST(ts AS DATE)", "day")},
    days AS (SELECT DISTINCT day FROM h),
    contrib AS (
        SELECT m.day + CAST(r.i AS INTEGER) AS wday, reg, mreg
        FROM m CROSS JOIN range({w}) r(i)
    ),
    wm AS (
        SELECT c.wday AS day, c.reg, MAX(c.mreg) AS mreg
        FROM contrib c JOIN days d ON d.day = c.wday
        GROUP BY c.wday, c.reg
    ),
    {_trailing_spine_cte(w)},
    {_hll_fold_cte("day", "wm")},
    pairs AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    ex AS (
        SELECT e.wday AS day,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_exact
        FROM (SELECT p.day + CAST(r.i AS INTEGER) AS wday, p.user_id
              FROM pairs p CROSS JOIN range({w}) r(i)) e
        JOIN days d ON d.day = e.wday
        GROUP BY e.wday
    )
    SELECT est.day, nd.n_days AS n_days_in_window,
           ex.n_exact AS n_exact_distinct,
           CAST({est} AS BIGINT) AS hll_estimate,
           CAST(v AS BIGINT) AS n_empty_registers,
           ROUND((CAST({est} AS DOUBLE) - ex.n_exact) / ex.n_exact, 6)
               AS rel_err
    FROM est JOIN ex USING (day) JOIN nd USING (day)
    ORDER BY est.day
    """


@register("event_hll_sliding_distinct", _hll_sliding_oracle())
def event_hll_sliding_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trailing-{HLL_WIN_DAYS}-day distinct-user counts per day via
    MAX-MERGED daily HLL buckets — the sketch-composition-over-time
    shape that makes windowed distincts tractable at 100 TB: the raw
    stream is scanned ONCE to build (day x 64) register maxima, and
    every sliding window is then a merge of {HLL_WIN_DAYS} bucket
    slices (registers fold under MAX — associative, commutative,
    idempotent), never a re-scan. The naive exact form re-reads every
    event {HLL_WIN_DAYS} times and pays a COUNT(DISTINCT) shuffle of
    the full (window, user) pair explosion per window — that arm
    exists here as the in-row audit (n_exact_distinct / rel_err) and
    is the cost the bucket merge avoids; the day-grain bucket table is
    also what a streaming twin persists (``HllDistinctMonitorSink``'s
    state keyed by day instead of type — same register arithmetic,
    shared via ``_hll_registers``/``_hll_estimate_frame``).

    Windows at the head of the range merge fewer than {HLL_WIN_DAYS}
    buckets (there is no day -6 before the first day);
    ``n_days_in_window`` states each row's actual bucket count rather
    than hiding the partial-window head. Only days OBSERVED in the
    data emit rows (the bucket explode is joined back to the day set,
    broadcast — a sliver frame of distinct days)."""
    from .operators.sketches import kmv_hash
    from .plans.layout import broadcast_if_small

    d = _t(spark, sf_dir, "events")
    h = d.select(
        F.to_date("ts").alias("day"),
        kmv_hash(F.col("user_id"), HLL_SALT).alias("h"),
    )
    # checkpoint the (days × 64) bucket STATE once — the window merge,
    # the observed-day set, and the spine all read it instead of
    # re-scanning/re-folding the fact table
    m = _hll_registers(h, "day").localCheckpoint()
    days = broadcast_if_small(m.select("day").distinct())
    wm = (
        trailing_window_explode(m, "day", HLL_WIN_DAYS, days)
        .groupBy("day", "reg")
        .agg(F.max("mreg").alias("mreg"))
    )
    nd = trailing_window_spine(days, "day", HLL_WIN_DAYS)
    pairs = d.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    ex = (
        trailing_window_explode(pairs, "day", HLL_WIN_DAYS, days)
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    )
    return (
        _hll_estimate_frame(wm, "day")
        .join(ex, "day")
        .join(nd, "day")
        .select(
            "day",
            "n_days_in_window",
            F.col("n_exact").alias("n_exact_distinct"),
            "hll_estimate",
            "n_empty_registers",
            F.round(
                (F.col("hll_estimate").cast("double") - F.col("n_exact"))
                / F.col("n_exact"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Bounded-memory quantile sketch: bottom-k uniform row sample (round 8)
# ---------------------------------------------------------------------------


def _qsk_est_sql() -> str:
    """Sample-order-statistic SELECT columns (shared by the per-type
    and sliding oracles)."""
    return ", ".join(
        f"MAX(CASE WHEN vrn = ({num} * ns + {den} - 1) // {den} "
        f"THEN value END) AS {name}_est"
        for name, num, den in _QSK_PS
    )


def _qsk_ex_sql() -> str:
    """Exact-order-statistic SELECT columns (shared likewise)."""
    return ", ".join(
        f"MAX(CASE WHEN rn = ({num} * n_rows + {den} - 1) // {den} "
        f"THEN value END) AS {name}_exact"
        for name, num, den in _QSK_PS
    )


def _quantile_sketch_oracle() -> str:
    est_cols = _qsk_est_sql()
    ex_cols = _qsk_ex_sql()
    return f"""
    WITH h AS (
        SELECT event_type, value,
               CAST(('0x' || substr(md5('{QSK_SALT}|'
                    || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   AS h
        FROM events
    ),
    r AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY h, value) AS rn
        FROM h
    ),
    sr AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value) AS vrn,
               COUNT(*) OVER (PARTITION BY event_type) AS ns
        FROM r WHERE rn <= {QSK_K}
    ),
    est AS (
        SELECT event_type, CAST(MAX(ns) AS BIGINT) AS n_sample,
               {est_cols}
        FROM sr GROUP BY event_type
    ),
    er AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n_rows
        FROM events
    ),
    ex AS (
        SELECT event_type, CAST(MAX(n_rows) AS BIGINT) AS n_rows,
               {ex_cols}
        FROM er GROUP BY event_type
    )
    SELECT est.event_type, ex.n_rows, est.n_sample,
           p50_est, p50_exact, p90_est, p90_exact, p99_est, p99_exact
    FROM est JOIN ex USING (event_type)
    ORDER BY est.event_type
    """


@register("event_value_quantile_sketch", _quantile_sketch_oracle())
def event_value_quantile_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-type value quantiles (p50/p90/p99) from a BOUNDED-MEMORY
    uniform row sample, audited against the exact order statistics in
    the same row — the DISTRIBUTION member of the sketch family
    (Bloom: membership, CMS: frequency, MG: top-set, KMV/HLL:
    cardinality). The sample is the k rows with the smallest portable
    hashes of their unique event_id (``operators/sketches.
    bottom_k_sample``) — uniform by construction, mergeable by the
    bottom-k multiset merge, state k values per key — and the
    p-quantile estimate is the sample's order statistic at ceil(p*k),
    carrying the classical O(sqrt(p(1-p)/k)) rank error (~3% at
    k=256). t-digest/KLL beat that constant but their compaction
    layouts are engine-internal (the rows-only gap
    ``event_type_sketch_stats`` documents); this sketch is a
    deterministic function of the data through the portable hash, so
    the oracle replays the SAMPLE bit-for-bit and the driver
    hash-certifies the whole architecture — the same portability trade
    the KMV/HLL pair makes for cardinality.

    Scale shape: the sketch arm is the two-phase partial-agg merge
    (k minima per (key, partition), re-reduce — never a window, no
    per-key sort of the full group); the EXACT arm pays the per-key
    sort and exists to certify, not to run at 100 TB. Groups with
    n <= k report exactly (the sample IS the group). Quantile values
    pass through unrounded — both engines return parquet doubles, no
    arithmetic to drift."""
    from .operators.sketches import bottom_k_sample, kmv_hash

    d = _t(spark, sf_dir, "events")
    base = d.select(
        "event_type",
        kmv_hash(F.col("event_id"), QSK_SALT).alias("h"),
        "value",
    )
    samp = bottom_k_sample(base, "event_type", "h", "value", QSK_K)
    vals = F.array_sort("sample")
    est = samp.select(
        "event_type",
        F.size("sample").cast("long").alias("n_sample"),
        *_qsk_est_cols(vals),
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = d.select("event_type", "value", "event_id").withColumn(
        "rn", F.row_number().over(w)
    )
    cnt = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    ex = (
        ranked.join(cnt, "event_type")
        .groupBy("event_type")
        .agg(F.first("n_rows").alias("n_rows"), *_qsk_exact_cols())
    )
    return (
        est.join(ex, "event_type")
        .select(
            "event_type",
            "n_rows",
            "n_sample",
            "p50_est",
            "p50_exact",
            "p90_est",
            "p90_exact",
            "p99_est",
            "p99_exact",
        )
        .orderBy("event_type")
    )


def _qsk_exact_cols() -> list[F.Column]:
    """Exact order-statistic columns over (rn, n_rows, value) — the
    Spark twin of :func:`_qsk_ex_sql`."""
    return [
        F.max(
            F.when(
                F.col("rn")
                == F.expr(f"({num} * n_rows + {den} - 1) DIV {den}"),
                F.col("value"),
            )
        ).alias(f"{name}_exact")
        for name, num, den in _QSK_PS
    ]


#: Sliding-window length for the quantile bucket-merge query (the
#: HLL_WIN_DAYS analogue on the distribution member).
QSK_WIN_DAYS = 7


def _sliding_quantile_oracle() -> str:
    w, k = QSK_WIN_DAYS, QSK_K
    return f"""
    WITH b AS (
        SELECT CAST(ts AS DATE) AS day, value, event_id,
               CAST(('0x' || substr(md5('{QSK_SALT}|'
                    || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   AS h
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM b),
    wo AS (
        SELECT t.wday, t.h, t.value, t.event_id FROM (
            SELECT b.day + CAST(r.i AS INTEGER) AS wday,
                   b.h, b.value, b.event_id
            FROM b CROSS JOIN range({w}) r(i)
        ) t JOIN days d ON d.day = t.wday
    ),
    r AS (
        SELECT wday, value,
               ROW_NUMBER() OVER (PARTITION BY wday
                                  ORDER BY h, value) AS rn
        FROM wo
    ),
    sr AS (
        SELECT wday, value,
               ROW_NUMBER() OVER (PARTITION BY wday
                                  ORDER BY value) AS vrn,
               COUNT(*) OVER (PARTITION BY wday) AS ns
        FROM r WHERE rn <= {k}
    ),
    est AS (
        SELECT wday, CAST(MAX(ns) AS BIGINT) AS n_sample,
               {_qsk_est_sql()}
        FROM sr GROUP BY wday
    ),
    er AS (
        SELECT wday, value,
               ROW_NUMBER() OVER (PARTITION BY wday
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY wday) AS n_rows
        FROM wo
    ),
    ex AS (
        SELECT wday, CAST(MAX(n_rows) AS BIGINT) AS n_rows,
               {_qsk_ex_sql()}
        FROM er GROUP BY wday
    ),
    {_trailing_spine_cte(w)}
    SELECT est.wday AS day, nd.n_days AS n_days_in_window,
           ex.n_rows, est.n_sample,
           p50_est, p50_exact, p90_est, p90_exact, p99_est, p99_exact
    FROM est JOIN ex USING (wday) JOIN nd ON nd.day = est.wday
    ORDER BY est.wday
    """


@register("event_value_sliding_quantiles", _sliding_quantile_oracle())
def event_value_sliding_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trailing-{QSK_WIN_DAYS}-day value quantiles (p50/p90/p99) per
    day from MERGED daily bottom-k row samples — the quantile member's
    windowed composition, the exact analogue of
    ``event_hll_sliding_distinct`` on the distribution sketch: ONE
    scan builds (day x k) sample state
    (``operators/sketches.bottom_k_rows`` — hashes kept, so slices
    re-merge), and every sliding window re-reduces ≤{QSK_WIN_DAYS}
    day slices with the same bottom-k operator. Because bottom-k is an
    associative multiset merge, the merged window sample IS
    bit-for-bit the sample direct sketching of the window's rows
    would produce — which is exactly what the oracle replays (the
    window-explode form), so the driver certifies the distributivity
    itself, not just the arithmetic. The exact arm (full per-window
    sort of the x{QSK_WIN_DAYS} row explosion) is the audit — the
    cost the bucket merge avoids at 100 TB.

    Head windows merge fewer buckets; ``n_days_in_window`` states it.
    Day-keyed ``QuantileSketchMonitorSink`` state is this same
    substrate, streamed."""
    from .operators.sketches import bottom_k_rows, kmv_hash
    from .plans.layout import broadcast_if_small

    W = QSK_WIN_DAYS
    d = _t(spark, sf_dir, "events")
    base = d.select(
        F.to_date("ts").alias("day"),
        kmv_hash(F.col("event_id"), QSK_SALT).alias("h"),
        "value",
    )
    # checkpoint the (day × k) sample STATE once — the window merge
    # and the observed-day set read it, never the fact table again
    day_rows = bottom_k_rows(
        base, "day", "h", "value", QSK_K
    ).localCheckpoint()
    days = broadcast_if_small(day_rows.select("day").distinct())
    wo = trailing_window_explode(day_rows, "day", W, days)
    wsamp = bottom_k_rows(wo, "day", "h", "value", QSK_K)
    samp = wsamp.groupBy("day").agg(
        F.array_sort(F.collect_list("value")).alias("__vals")
    )
    est = samp.select(
        "day",
        F.size("__vals").cast("long").alias("n_sample"),
        *_qsk_est_cols(F.col("__vals")),
    )
    raw = d.select(
        F.to_date("ts").alias("day"), "value", "event_id"
    )
    ex_rows = trailing_window_explode(raw, "day", W, days)
    win = Window.partitionBy("day").orderBy("value", "event_id")
    # n_rows via an unbounded count window over the SAME partitioning
    # as the rank — one shuffle, one scan (a groupBy+rejoin here was
    # a second scan of the exploded frame)
    ranked = ex_rows.withColumn(
        "rn", F.row_number().over(win)
    ).withColumn(
        "n_rows",
        F.count(F.lit(1)).over(Window.partitionBy("day")).cast("long"),
    )
    ex = ranked.groupBy("day").agg(
        F.first("n_rows").alias("n_rows"), *_qsk_exact_cols()
    )
    nd = trailing_window_spine(days, "day", W)
    return (
        est.join(ex, "day")
        .join(nd, "day")
        .select(
            "day",
            "n_days_in_window",
            "n_rows",
            "n_sample",
            "p50_est",
            "p50_exact",
            "p90_est",
            "p90_exact",
            "p99_est",
            "p99_exact",
        )
        .orderBy("day")
    )
