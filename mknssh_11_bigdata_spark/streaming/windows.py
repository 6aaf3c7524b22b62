"""Event-time windowed aggregation — batch/stream agnostic builders.

Each builder takes a DataFrame (static OR streaming — the expressions are
identical; Spark plans stateful versions automatically for streams) and
returns the windowed aggregate. ``with_watermark`` gates late data for
streaming use; on a static frame it is a no-op marker.

Scale: windowed aggregation shuffles on (window, keys); watermarking
bounds state size — without it a 100 TB stream's window state grows
unboundedly. Session windows use Spark's native gap-merging state
operator. ``trailing_window_explode``/``trailing_window_spine`` are the
trailing-day bucket merge that the sliding sketch queries and their
monitor sinks share.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.readers import NANOS_TS_COLUMNS, normalize_event_time

__all__ = [
    "tumbling_agg",
    "sliding_agg",
    "hourly_tumbling_agg",
    "session_counts",
    "stream_from_parquet_events",
    "trailing_window_explode",
    "trailing_window_spine",
]


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregation.

    Output flattens the window struct to ``window_start`` so batch
    oracles (``date_trunc``) and downstream sinks see a plain timestamp.
    """
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, duration).alias("__w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("__w.start"))
        .drop("__w")
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Sliding window aggregation (each event lands in duration/slide
    windows; state cost scales with that ratio — keep it small)."""
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, duration, slide).alias("__w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("__w.start"))
        .drop("__w")
    )


def hourly_tumbling_agg(
    df: DataFrame, ts_col: str, keys: Sequence[str], aggs: Sequence[Column]
) -> DataFrame:
    return tumbling_agg(df, ts_col, "1 hour", keys, aggs)


def session_counts(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    gap: str = "5 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Per-user session counts with a gap-based session window.

    A session closes when no event arrives within ``gap`` of the last
    event (half-open: an event at exactly last+gap opens a NEW session —
    mirrored by the ``>=`` in the SQL oracle). Output:
    ``(user, n_sessions, n_events)``.
    """
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    per_session = df.groupBy(
        F.session_window(ts_col, gap).alias("__s"), user_col
    ).agg(F.count(F.lit(1)).alias("n"))
    return per_session.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n").alias("n_events"),
    )


def stream_from_parquet_events(
    spark, sf_dir: str, table: str = "events"
) -> DataFrame:
    """readStream over the driver's events parquet — for streaming tests.

    ``maxFilesPerTrigger=1`` gives deterministic micro-batching locally.
    Handles the table's TIMESTAMP(NANOS) column the same way the batch
    reader does (sources/readers.py NANOS_TS_COLUMNS).
    """
    nanos_cols = NANOS_TS_COLUMNS.get(table, ())
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    # FileStreamSource only monitors directories. The testdata layout is a
    # single file per table, so stage a directory of symlinks to stream it
    # (a production deployment points this at the real landing directory).
    src = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isfile(src):
        stage = tempfile.mkdtemp(prefix=f"stream_{table}_")
        os.symlink(src, os.path.join(stage, f"{table}.parquet"))
    else:
        stage = src
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return normalize_event_time(stream, nanos_cols)


def trailing_window_explode(
    df: DataFrame, day_col: str, window: int, days: DataFrame
) -> DataFrame:
    """Explode each row to the ``window`` trailing target days it
    contributes to, keeping only targets present in ``days`` (the
    observed-bucket set, column ``day_col``) — the ONE windowing block
    every sliding bucket-merge member shares (sliding HLL and
    quantiles, their monitor views, the per-window audit arms, and
    the n_days spine: 9 call sites, previously 9 inline copies).
    Returns ``df``'s other columns keyed by the target day under the
    same ``day_col`` name."""
    other = [c for c in df.columns if c != day_col]
    wday = F.explode(
        F.sequence(
            F.col(day_col), F.date_add(F.col(day_col), window - 1)
        )
    ).alias("__wday")
    return (
        df.select(wday, *other)
        .join(days, F.col("__wday") == days[day_col])
        .select(F.col("__wday").alias(day_col), *other)
    )


def trailing_window_spine(
    days: DataFrame, day_col: str, window: int
) -> DataFrame:
    """``(day, n_days_in_window)`` — how many observed buckets each
    trailing window actually merges (honest partial-head-window
    accounting), via the same explode."""
    return (
        trailing_window_explode(
            days.select(day_col), day_col, window, days
        )
        .groupBy(day_col)
        .agg(F.count(F.lit(1)).cast("int").alias("n_days_in_window"))
    )
