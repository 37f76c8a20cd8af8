"""Structured Streaming operators (SURVEY §2.9 stretch goal) and
the one AvailableNow runner every drain goes through.

The reference is batch-only; its "incremental mode" is anti-join
discovery + a ledger (plans/watermarks.py). These streaming jobs
are the same *logical* aggregations as queries/windows.py
(hourly_event_rollup, sessionization) expressed over
``readStream``, with a real event-time watermark for late data —
the 7-day ``days_back`` late-arrival window of
``transform_trading_signals.py:913-946`` maps to
``withWatermark("ts", "7 days")`` at daily grain; the hourly-grain
builders here hold ``WATERMARK``. Each builder is the body of one
registered query in queries/streaming.py and emits that query's
columns.

``Trigger.AvailableNow`` turns any of these into an incremental
batch job with exactly-once file-source progress tracking — the
Spark-native replacement for the reference's staleness polling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# event-time lateness every aggregation/join builder tolerates
WATERMARK = "2 hours"
# tumbling and sliding windows: size and slide
WINDOW = "1 hour"
SLIDE = "15 minutes"
# inactivity that closes a session
SESSION_GAP = "30 minutes"
# how long after a view a click is attributed to it
ATTRIBUTION = "1 hour"
# exact dedup: event-time column and how long a seen hash is held
DEDUP_TS_COL = "ts"
DEDUP_WATERMARK = "1 hour"
# seconds an AvailableNow drain may take before it is stopped
DRAIN_TIMEOUT_S = 300


def _total_value() -> Column:
    return F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value")


def read_events_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over events-shaped parquet. ts normalization
    is schema-driven (sources.catalog.normalize_event_ts): the caller's
    ``schema`` (from a batch probe of the same files) decides whether
    ts arrives as INT64 nanos, TIMESTAMP_NTZ micros, or TimestampType —
    never a session conf, which could have been set after the schema
    was captured and disagree with it.

    ``max_files_per_trigger`` bounds a micro-batch; oracle-verified
    queries pass the TOTAL staged file count so the whole directory
    lands in ONE micro-batch — parquet parts carry no event-time
    order, so letting AvailableNow split them across micro-batches
    would let the watermark advance past (and drop) late rows that
    the batch oracle keeps."""
    from ..sources.catalog import normalize_event_ts

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    return normalize_event_ts(df)


def hourly_rollup_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of queries.windows.hourly_event_rollup:
    tumbling ``WINDOW`` per event_type with late-data watermark."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _total_value())
        .select(F.col("win.start").alias("hour"), "event_type", "n", "total_value")
    )


def sliding_rollup_stream(events: DataFrame) -> DataFrame:
    """Sliding-window rollup: each event contributes to
    ``WINDOW``/``SLIDE`` overlapping windows (hour-of-activity
    smoothing). Same watermark semantics as the tumbling variant; the
    window assignment is Spark's `window(ts, size, slide)` in both
    batch and streaming, so the batch twin is the literal same
    expression over a static read (differentially tested)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW, SLIDE).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _total_value())
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_stats_stream(events: DataFrame) -> DataFrame:
    """Streaming gap-sessionization: ``session_window(ts,
    SESSION_GAP)`` merges events per user into dynamic sessions that
    close after the gap of inactivity — the streaming twin of the
    batch lag-based sessionizer (queries/windows.user_session_stats),
    which it must agree with on session boundaries and stats
    (differential test): session start = first event, session end =
    last event + gap, so batch duration = (end − gap) − start. The two
    agree whenever no inter-event gap is exactly the gap
    (session_window's end is exclusive; the lag sessionizer keeps
    ``diff == gap`` together)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), _total_value())
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def click_attribution_stream(events: DataFrame) -> DataFrame:
    """STREAM-STREAM interval join: each click joins the views by
    the same user in the preceding ``ATTRIBUTION`` window — the
    attribution shape (impression→conversion) that needs BOTH sides
    buffered in state. Watermarks on both event times bound that
    state: a view can be evicted once no on-time click can still
    match it (watermark + attribution window), which is what keeps
    a forever-running join from accumulating forever. The time-range
    predicate is what lets Spark derive that eviction bound — an
    unconstrained stream-stream join would be unbounded state."""
    v = events.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    ).withWatermark("view_ts", WATERMARK)
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", WATERMARK)
    cond = (
        (v["user_id"] == c["c_user_id"])
        & (c["click_ts"] >= v["view_ts"])
        & (c["click_ts"] <= v["view_ts"] + F.expr(f"INTERVAL {ATTRIBUTION}"))
    )
    return v.join(c, cond, "inner").select("user_id", "view_id", "view_ts", "click_id", "click_ts")


def dedup_stream(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup — the streaming twin of
    ``queries.dedup.dedup_exact``: first-seen document per content
    hash survives (with ``content_md5`` added); later copies are
    dropped even when they arrive in a LATER micro-batch (keyed state
    holds seen hashes). ``dropDuplicatesWithinWatermark`` on
    ``DEDUP_TS_COL`` bounds that state: a hash can be evicted once
    every on-time duplicate of it must have arrived, so state size
    tracks the watermark window, not corpus history — the property
    that keeps this runnable forever at ingest scale. Emission is
    append-mode immediate (no watermark-closure wait)."""
    from ..functions.text import content_hash

    hashed = docs.withColumn("content_md5", content_hash(F.col("text")))
    return hashed.withWatermark(DEDUP_TS_COL, DEDUP_WATERMARK).dropDuplicatesWithinWatermark(
        ["content_md5"]
    )


def await_available_now(writer, checkpoint: str, what: str) -> None:
    """Start ``writer`` as an AvailableNow query over ``checkpoint``
    and block until the source is drained. A drain still running
    after ``DRAIN_TIMEOUT_S`` is stopped and raises TimeoutError:
    ``awaitTermination`` returns False on timeout without raising,
    and reading the sink then would silently return PARTIAL results."""
    q = writer.option("checkpointLocation", checkpoint).trigger(availableNow=True).start()
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"streaming drain into {what} exceeded {DRAIN_TIMEOUT_S}s")


def upsert_stream(
    stream_df: DataFrame,
    io,
    table: str,
    keys: list[str],
    checkpoint: str,
) -> None:
    """Streaming upsert sink: drain the stream with
    ``Trigger.AvailableNow`` and MERGE each micro-batch into a
    warehouse table via ``foreachBatch`` + ``TableIO.upsert`` —
    the streaming form of the reference's INSERT…ON CONFLICT (S7).
    Restart-safe: the checkpoint tracks consumed source files, and
    the key-based upsert makes a replayed batch idempotent (the
    exactly-once story for file sources). Update mode so stateful
    aggregations emit refreshed rows per batch rather than waiting
    for watermark closure."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        io.upsert(batch_df, table, keys)

    await_available_now(
        stream_df.writeStream.foreachBatch(_merge).outputMode("update"), checkpoint, table
    )
