"""Driver queries for the Structured Streaming operators (§2.9) —
each runs the REAL streaming job (``readStream`` file source,
event-time watermark, ``Trigger.AvailableNow`` drain) and returns
the sink as a DataFrame, so a DuckDB oracle verifies STREAMING
output against batch SQL semantics. An AvailableNow drain over a
static parquet directory is deterministic (same files, same
watermark trajectory), which is what makes a bit-exact oracle
legitimate here.

Per-call hygiene: fresh checkpoint dir + unique memory-sink name, so
repeated invocations in one session never collide. A file-source
stream reads a DIRECTORY, so the source table is staged
into a temp dir: symlinked as-is (``_stage_dir``), or re-written as
N key-ordered files with pinned mtimes (``_stage_ordered``) when the
query needs N ordered micro-batches. Every drain goes through
``_await_drain``, which removes the staged and checkpoint dirs once
the drain returns: the memory sink and the twins' stores hold
everything the result reads. The twins' stores back their lazy
results, so they are removed at process exit
(``corpus_build.retire_at_exit``).

The two ingest twins hold no stage logic of their own: each
micro-batch runs the batch code — ``streaming_corpus_ingest`` the
stored-index ladder and its commit
(``corpus_build._stored_ingest_ladder`` /
``commit_ingest_batch``), ``streaming_semdedup_ingest`` the per-cell
probe kernel (``similarity.cell_probe_new_vs_prior``) — against a
store that grows by each batch.

Scale notes: these are the same jobs a cluster would run against an
object-store landing zone; AvailableNow gives incremental
exactly-once file progress (the Spark-native form of the reference's
staleness polling), watermarks bound aggregation/join/dedup state,
and the memory sink stands in for a live stream's sink (the
foreachBatch upsert of streaming/stream_agg.upsert_stream, or the
ingest twins' stores): every query here drains through the same
runner, ``stream_agg.await_available_now``.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType as T_IntegerType
from pyspark.sql.types import LongType as T_LongType

from ..streaming import stream_agg as SA

# temp dirs the calling thread's next drain reads: staged sources and
# the checkpoint. Per thread, so queries drained concurrently never
# remove each other's inputs.
_PENDING = threading.local()


def _scratch_dir(prefix: str) -> Path:
    """A fresh temp dir that the calling thread's next
    :func:`_await_drain` removes once the drain returns."""
    d = Path(tempfile.mkdtemp(prefix=prefix))
    _PENDING.__dict__.setdefault("dirs", []).append(d)
    return d


def _stage_dir(sf_dir: str, name: str) -> tuple[str, int]:
    """Symlink <sf_dir>/<name>.parquet (file or directory of parts)
    into a fresh temp dir usable as a file-source stream path.
    Returns (dir, n_files) so callers can size maxFilesPerTrigger to
    swallow the whole directory in one micro-batch — parts carry no
    event-time order, so a multi-micro-batch split could advance the
    watermark past late rows the batch oracle keeps."""
    # resolve() — a RELATIVE sf_dir would otherwise produce symlinks
    # that dangle from inside the temp dir, and a file-source stream
    # over dangling links SILENTLY yields zero rows (caught by the
    # sf5 replica sweep, which passes ".testdata/sf5")
    src = (Path(sf_dir.rstrip("/")) / f"{name}.parquet").resolve()
    d = _scratch_dir(f"stream_{name}_")
    if src.is_dir():
        parts = sorted(src.glob("*.parquet"))
        for i, part in enumerate(parts):
            (d / f"part_{i}.parquet").symlink_to(part.resolve())
        n = len(parts)
    else:
        (d / f"{name}.parquet").symlink_to(src)
        n = 1
    staged = sorted(d.glob("*.parquet"))
    if n == 0 or not all(p.exists() for p in staged):
        raise FileNotFoundError(f"staging {src} -> {d} produced no readable files")
    return str(d), n


def _stage_ordered(df: DataFrame, key_sql: str, n_batches: int) -> str:
    """Write ``df`` as ``n_batches`` parquet files split at the
    quantiles of the SQL expression ``key_sql`` — file i holds the
    i-th contiguous key range — into a fresh directory, with strictly
    increasing pinned mtimes so a file source delivers them in key
    order, one file per trigger at ``maxFilesPerTrigger=1``. Returns
    the directory. One scalar-row job computes every split point
    (no key is collected); the scratch write dir is
    removed. Raises FileNotFoundError when nothing is staged."""
    key = F.expr(key_sql)
    qs = [i / n_batches for i in range(1, n_batches)]
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.expr(f"percentile({key_sql}, {q})").alias(f"c{i}") for i, q in enumerate(qs)],
    ).collect()[0]
    if stats["n"] == 0:
        raise FileNotFoundError("ordered staging of an empty frame produced no files")
    bounds = [None, *[stats[f"c{i}"] for i in range(len(qs))], None]
    scratch = Path(tempfile.mkdtemp(prefix="stage_scratch_"))
    stage = _scratch_dir("stage_ordered_")
    try:
        for i in range(n_batches):
            part = df
            if bounds[i] is not None:
                part = part.filter(key >= F.lit(bounds[i]))
            if bounds[i + 1] is not None:
                part = part.filter(key < F.lit(bounds[i + 1]))
            part.coalesce(1).write.parquet(str(scratch / f"b{i}"))
            src = next((scratch / f"b{i}").glob("*.parquet"), None)
            if src is None:
                raise FileNotFoundError(f"ordered staging wrote no file for batch {i}")
            dst = stage / f"batch_{i}.parquet"
            # MOVE (not symlink): Java lastModified follows symlinks,
            # so only a moved file's own pinned mtime controls order
            os.rename(src, dst)
            os.utime(dst, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return str(stage)


def _ordered_stream(df: DataFrame, key_sql: str, n_batches: int = 2) -> DataFrame:
    """``df`` as a file-source stream of ``n_batches`` key-ordered
    micro-batches (:func:`_stage_ordered`)."""
    stage = _stage_ordered(df, key_sql, n_batches)
    return (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )


def _events_stream_time_ordered(
    spark: SparkSession, sf_dir: str, n_batches: int = 2
) -> DataFrame:
    """The events table as ``n_batches`` TIME-ORDERED micro-batches
    (:func:`_ordered_stream` split at ts quantiles). Each micro-batch
    holds a contiguous time slice (every bar in batch k precedes
    every bar in batch k+1, per key and globally), so a stateful
    query exercises cross-batch state carriage INSIDE the
    value-oracled path while the ordered-replay oracle stays
    bit-exact: per-key fold order is identical to the one-batch
    sort."""
    from ..sources.catalog import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")
    # ts may be INT64-nanos (already numeric) or a timestamp flavor
    # (TIMESTAMP/TIMESTAMP_NTZ reject a direct double cast — go
    # through unix_micros, monotone either way)
    if isinstance(df.schema["ts"].dataType, (T_LongType, T_IntegerType)):
        key_sql = "CAST(ts AS DOUBLE)"
    else:
        key_sql = "CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS DOUBLE)"
    return normalize_event_ts(_ordered_stream(df, key_sql, n_batches))


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # schema probe via batch read; nanosAsLong first so a nanos-typed
    # file probes as long (normalize_event_ts handles either)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = f"{sf_dir.rstrip('/')}/events.parquet"
    schema = spark.read.parquet(src).schema
    staged, n_files = _stage_dir(sf_dir, "events")
    return SA.read_events_stream(spark, staged, schema, max_files_per_trigger=n_files)


def _await_drain(writer, what: str) -> None:
    """Drain ``writer`` through ``stream_agg.await_available_now`` over
    a fresh checkpoint dir; then remove the checkpoint and every dir
    staged for it (:func:`_scratch_dir`)."""
    try:
        SA.await_available_now(writer, str(_scratch_dir("ckpt_")), what)
    finally:
        for d in _PENDING.__dict__.pop("dirs", []):
            shutil.rmtree(d, ignore_errors=True)


def _drain(stream_df: DataFrame, mode: str) -> DataFrame:
    """AvailableNow drain into a uniquely-named memory sink; returns
    the sink table (NOT collected — the caller does that)."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    _await_drain(
        stream_df.writeStream.format("memory").queryName(name).outputMode(mode), name
    )
    return stream_df.sparkSession.table(name)


def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window rollup (W-windowed agg over
    ``readStream`` with a 2h watermark), drained AvailableNow —
    oracle is plain batch GROUP BY date_trunc('hour'). Streaming twin
    of queries/windows.hourly_event_rollup (reference analog:
    transform_trading_signals.py incremental daily rollups)."""
    rolled = SA.hourly_rollup_stream(_events_stream(spark, sf_dir))
    return _drain(rolled, "complete").orderBy("hour", "event_type")


ORACLE_STREAMING_HOURLY_ROLLUP = """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY hour, event_type
"""


def streaming_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-sessionization via ``session_window(ts, 30 min)``
    — dynamic merging session state per user — verified against the
    INDEPENDENT batch formulation (lag-based island sessionizer) as
    SQL: session_start = first event, session_end = last event + gap.
    The two agree whenever no inter-event gap is exactly the gap
    (streaming/stream_agg.session_stats_stream) — true for this data's
    microsecond timestamps."""
    sess = SA.session_stats_stream(_events_stream(spark, sf_dir))
    return _drain(sess, "complete").orderBy("user_id", "session_start")


ORACLE_STREAMING_SESSION_STATS = """
WITH t AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
    CASE WHEN LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w IS NULL
           OR epoch_us(CAST(ts AS TIMESTAMP)) - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > 1800000000
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM t
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM s
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def streaming_dedup_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` on
    the normalized content hash over a documents stream — keyed state
    crosses micro-batches, watermark bounds it. WHICH doc survives
    per hash is a first-arrival race, so the driver-compared output
    is the surviving HASH SET (deterministic ≡ batch DISTINCT md5),
    not the arbitrary winner rows."""
    docs_schema = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet").schema
    staged, n_files = _stage_dir(sf_dir, "documents")
    stream = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", n_files)
        .parquet(staged)
        .withColumn(SA.DEDUP_TS_COL, F.lit("2024-01-01 00:00:00").cast("timestamp"))
    )
    out = _drain(SA.dedup_stream(stream).select("content_md5"), "append")
    return out.orderBy("content_md5")


ORACLE_STREAMING_DEDUP_HASHES = r"""
SELECT DISTINCT md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS content_md5
FROM documents
ORDER BY content_md5
"""


def streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join: clicks join views by the same
    user within a preceding 1h attribution window, both sides
    watermarked (the time-range predicate is what lets Spark bound
    the buffered state). Drained AvailableNow; oracle is the
    identical interval join in batch SQL — the inner join's result
    set is order-free and exactly reproducible."""
    joined = SA.click_attribution_stream(_events_stream(spark, sf_dir))
    return _drain(joined, "append").orderBy("user_id", "view_id", "click_id")


ORACLE_STREAMING_CLICK_ATTRIBUTION = """
WITH v AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts, event_id AS view_id
  FROM events WHERE event_type = 'view'
), c AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts, event_id AS click_id
  FROM events WHERE event_type = 'click'
)
SELECT v.user_id, view_id, view_ts, click_id, click_ts
FROM v JOIN c ON v.user_id = c.user_id
 AND click_ts >= view_ts
 AND click_ts <= view_ts + INTERVAL 1 HOUR
ORDER BY v.user_id, view_id, click_id
"""


def streaming_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SLIDING-window rollup (1h window / 15min slide —
    every event lands in exactly 4 overlapping windows). The oracle
    reconstructs Spark's epoch-aligned window assignment
    independently in SQL: the k-th containing window starts at
    time_bucket(15min, ts) − k·15min, k ∈ 0..3 (both engines align
    the 15-minute grid to the epoch midnight)."""
    rolled = SA.sliding_rollup_stream(_events_stream(spark, sf_dir))
    return _drain(rolled, "complete").orderBy("win_start", "event_type")


ORACLE_STREAMING_SLIDING_ROLLUP = """
WITH assigned AS (
  SELECT time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP))
           - k * INTERVAL 15 MINUTE AS win_start,
         event_type, value
  FROM events, LATERAL (SELECT unnest(range(0, 4)) AS k)
)
SELECT win_start,
       win_start + INTERVAL 1 HOUR AS win_end,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM assigned
GROUP BY win_start, event_type
ORDER BY win_start, event_type
"""


def streaming_zone_signals_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The W18 RSI-zone state machine as a TRUE streaming operator:
    ``applyInPandasWithState`` holds per-user zone state across
    micro-batches. Events stand in for the price series: the 30/70
    zone machine runs on ``value`` directly, with ``bar =
    unix_micros(ts)`` as the (unique per user — verified) event-time
    sort key, so per-batch folding is deterministic.

    The oracle covers CROSS-BATCH state carriage. The state machine
    itself is not SQL, but its OUTPUT is — the de-stating proof for
    the batch twin
    (operators/signals.zone_confirmation_signals: a fire requires
    ``prev_rsi <= 30``, which itself forces the zone flag at the
    previous row, so the flags carry no information the lag doesn't)
    applies verbatim to the streamed fold. The events arrive via
    ``_events_stream_time_ordered`` as TWO time-sliced micro-batches
    (every bar in batch 0 precedes every bar in batch 1), so a zone
    entered in batch 0 must SURVIVE the state store to fire in
    batch 1 — and because per-key fold order across the two batches
    equals the one-batch sort, the LAG-based SQL below remains a
    bit-exact oracle of the multi-batch run.
    tests/test_streaming_stateful.py additionally drives the fold
    file-by-file with golden series."""
    from ..streaming.stateful_signals import zone_signals_stateful

    ev = _events_stream_time_ordered(spark, sf_dir, n_batches=2)
    bars = ev.select(
        F.col("user_id").alias("symbol_id"),
        F.unix_micros("ts").alias("bar"),
        F.col("value").alias("rsi"),
    )
    return _drain(zone_signals_stateful(bars), "append").orderBy("symbol_id", "bar")


ORACLE_STREAMING_ZONE_SIGNALS_STATEFUL = """
WITH b AS (
  SELECT user_id AS symbol_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS bar,
         CAST(value AS DOUBLE) AS rsi
  FROM events
  -- mirror the stateful fold's skip set exactly: _fold drops NULL
  -- AND NaN rows without touching prev_rsi, while DuckDB orders NaN
  -- above all values (and, unlike IEEE, evaluates NaN = NaN as TRUE)
  -- — an unguarded NaN would make LAG(rsi) >= 70 true and fire a
  -- spurious sell here (ADVICE r09).
  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
), x AS (
  SELECT symbol_id, bar, rsi,
    (LAG(rsi) OVER w <= 30 AND rsi > 30 AND rsi < 70) AS buy_signal,
    (LAG(rsi) OVER w >= 70 AND rsi < 70 AND rsi > 30) AS sell_signal
  FROM b
  WINDOW w AS (PARTITION BY symbol_id ORDER BY bar)
)
SELECT symbol_id, bar, rsi, buy_signal, sell_signal,
       CASE WHEN buy_signal THEN rsi ELSE 100.0 - rsi END AS signal_strength
FROM x WHERE buy_signal OR sell_signal
ORDER BY symbol_id, bar
"""


def streaming_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of queries/windows.event_mix_drift — the
    drift tripwire wired the way production runs it: the STREAM
    maintains the windowed per-(hour, type) counts incrementally
    (the only input-sized work); the hour-over-hour total-variation
    post-stage runs on the drained aggregate, which is
    |hours|·|types| rows no matter how much raw traffic flowed.
    Same integer-numerator TVD, same oracle as the batch twin."""
    from .windows import tvd_drift_from_counts

    ev = _events_stream(spark, sf_dir)
    rolled = (
        ev.withWatermark("ts", SA.WATERMARK)
        .groupBy(F.window("ts", SA.WINDOW).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("win.start").alias("hour"), "event_type", "c")
    )
    return tvd_drift_from_counts(_drain(rolled, "complete"))


# identical contract to the batch twin — one source of truth
from .windows import ORACLE_EVENT_MIX_DRIFT as ORACLE_STREAMING_MIX_DRIFT  # noqa: E402


def streaming_top_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leaderboard — complete-mode per-user running totals
    (the unbounded aggregation only complete/update modes can hold),
    drained AvailableNow and ranked to a top-10 AFTER the drain: the
    rank is a view over the maintained state, recomputed per emit,
    which is exactly how a live leaderboard serves (the stream
    maintains |users| rows of state; ranking state is never itself
    streamed). Deterministic tie-break on user_id; oracle is the
    batch GROUP BY + rank."""
    from pyspark.sql import Window

    ev = _events_stream(spark, sf_dir)
    totals = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_spend"),
        F.count(F.lit(1)).alias("n_events"),
    )
    drained = _drain(totals, "complete")
    w = Window.orderBy(F.desc("total_spend"), F.asc("user_id"))
    return (
        drained.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("rank", "user_id", "total_spend", "n_events")
    )


ORACLE_STREAMING_TOP_SPENDERS = """
SELECT rank, user_id, total_spend, n_events FROM (
  SELECT user_id,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
         COUNT(*) AS n_events,
         ROW_NUMBER() OVER (ORDER BY CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) DESC,
                            user_id) AS rank
  FROM events GROUP BY user_id
) WHERE rank <= 10
"""


def streaming_segment_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC dimension enrichment — the most common
    production streaming shape: the event stream broadcast-joins
    the (batch) customer dimension per micro-batch, then maintains
    per-(market segment, event type) running totals. The static
    side is planned as a broadcast into each micro-batch, so the
    stream is never shuffled for the join — only for its own
    aggregation state. Oracle: the identical batch join+rollup."""
    from ..sources.catalog import load_table

    ev = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = ev.join(F.broadcast(cust), "user_id")
    rolled = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    return _drain(rolled, "complete").orderBy("c_mktsegment", "event_type")


ORACLE_STREAMING_SEGMENT_ACTIVITY = """
SELECT c_mktsegment, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
ORDER BY c_mktsegment, event_type
"""


def streaming_semdedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous semantic-dedup ingest as a REAL streaming job —
    the production form of ``incremental_semdedup_ingest``: the new
    (odd-id) vectors ARRIVE as a file-source stream in TWO id-ordered
    micro-batches, and each ``foreachBatch`` runs the shared per-cell
    probe kernel (``cell_probe_new_vs_prior``) over the store rows in
    the batch's cells plus the batch — the store being the even-id
    corpus in its even-trained cells plus every previously-arrived
    odd vector — keeps the batch's own rows, and appends the batch
    to the store. State genuinely crosses micro-batches: a batch-2
    vector's duplicates include batch-1 arrivals.

    Because the batches are id-ordered, "arrived in an earlier batch"
    coincides with "smaller id" — the kernel's first-wins rule — so
    the result is VALUE-IDENTICAL to the batch incremental query and
    verifies against the SAME DuckDB oracle.

    Scale shape: the store is a TableIO parquet table (at 100 TB:
    partitioned by cell → each micro-batch's probe is partition
    pruning + per-cell kernels); probe cost per batch ∝ the batch's
    cell footprint."""
    from ..sources.io import TableIO
    from .corpus_build import retire_at_exit
    from .similarity import SEMDEDUP_THETA, _emb, _even_trained_cells, cell_probe_new_vs_prior

    odd = F.col("vec_id") % 2 == 1
    v = _emb(spark, sf_dir).select("vec_id", "embedding").join(
        _even_trained_cells(spark, sf_dir), "vec_id"
    )
    io = TableIO(spark, retire_at_exit(tempfile.mkdtemp(prefix="stream_semdedup_")))
    io.overwrite(v.filter(~odd), "probe_store")

    def probe_batch(b: DataFrame, batch_id: int) -> None:
        store = io.read("probe_store").join(b.select("cell").distinct(), "cell", "left_semi")
        probed = cell_probe_new_vs_prior(store.unionByName(b), SEMDEDUP_THETA).join(
            b.select("vec_id"), "vec_id", "left_semi"
        )
        io.append(probed.withColumn("ingested", F.col("n_dup_matches") == 0), "results")
        io.append(b, "probe_store")  # later batches probe this one

    _await_drain(
        _ordered_stream(v.filter(odd), "vec_id").writeStream.foreachBatch(probe_batch),
        "streaming_semdedup_ingest",
    )
    return io.read("results").orderBy("vec_id")


def streaming_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous corpus CURATION as a real streaming job — the
    streaming form of ``corpus_build_ingest``: new documents
    (odd ids) ARRIVE as a file-source stream in TWO id-ordered
    micro-batches. The existing corpus's published index store (the
    one ``corpus_build_ingest`` probes, see ``_index_store``) is
    copied into a private store, which the commits extend; each
    ``foreachBatch`` runs THE ingest ladder
    (``_stored_ingest_ladder``) against it, records the batch's drop
    rows, and commits the batch (``commit_ingest_batch``) so the
    next micro-batch probes it through the same tables. After the
    drain the manifest tail (``_ingest_manifest``) weighs and shards
    the committed kept rows over the copied base.

    Because micro-batches are id-ordered, "arrived earlier ⟺
    smaller id", so every probe reproduces the batch query's
    deterministic first-wins contracts and the result is
    VALUE-IDENTICAL to ``corpus_build_ingest`` — it registers the
    SAME DuckDB oracle verbatim."""
    from ..sources.catalog import load_table
    from ..sources.io import TableIO
    from .corpus_build import (
        _drop_rows,
        _ingest_manifest,
        _index_store,
        _stored_ingest_ladder,
        commit_ingest_batch,
        retire_at_exit,
    )

    io = TableIO(spark, retire_at_exit(tempfile.mkdtemp(prefix="stream_corpus_")))
    shutil.copytree(_index_store(spark, sf_dir).warehouse, io.warehouse, dirs_exist_ok=True)
    odd = F.col("doc_id") % 2 == 1
    emb_b = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 2 == 1)

    def refresh(b: DataFrame, batch_id: int) -> None:
        lad = _stored_ingest_ladder(spark, sf_dir, io, b, emb_b)
        io.append(_drop_rows(lad["be"], lad), "drop_rows")
        commit_ingest_batch(io, lad)

    docs_b = load_table(spark, sf_dir, "documents").filter(odd)
    _await_drain(
        _ordered_stream(docs_b, "doc_id").writeStream.foreachBatch(refresh),
        "streaming_corpus_ingest",
    )
    # the committed manifest = the copied (even) base + every
    # batch's kept rows
    kept = io.read("kept_manifest")
    return _ingest_manifest(kept.filter(~odd), kept.filter(odd), io.read("drop_rows"))


def streaming_vpin_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time VPIN (the ``vpin_dollar_buckets`` batch query as a
    live toxicity monitor): per-series tick-rule sign carry, open
    dollar-bucket flow accumulators, and the trailing toxicity
    window all live in the state store
    (streaming/stateful_vpin.py) and survive across micro-batches —
    a bucket OPENED in batch 0 completes and emits in batch 1.

    Events arrive via ``_events_stream_time_ordered`` as two
    time-sliced micro-batches, so cross-batch state carriage is
    INSIDE the value-oracled path. The stream emits completed
    buckets only (each series' final open bucket cannot know it is
    final), so the oracle below is the batch VPIN SQL restricted to
    ``bucket < max(bucket) per user`` — completed buckets' trailing
    windows never contain the open bucket, making the restriction
    exact, not approximate. Flow arithmetic is integer cents and the
    trailing mean folds ascending-sorted doubles — bit-exact."""
    from ..streaming.stateful_vpin import vpin_stateful
    from .microstructure import DOLLAR_BAR_CENTS, VPIN_WINDOW

    ev = _events_stream_time_ordered(spark, sf_dir, n_batches=2)
    ticks = ev.select(
        "user_id",
        F.unix_micros("ts").alias("seq"),
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cc"),
    )
    return _drain(
        vpin_stateful(ticks, DOLLAR_BAR_CENTS, VPIN_WINDOW), "append"
    ).orderBy("user_id", "bucket")


def _streaming_vpin_oracle() -> str:
    from .microstructure import DOLLAR_BAR_CENTS, VPIN_WINDOW

    return f"""
WITH c AS (
  SELECT user_id, ts, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cc
  FROM events
),
p AS (
  SELECT *,
         SUM(cc) OVER w2 - cc AS pre_cum,
         cc - LAG(cc) OVER w1 AS dc
  FROM c
  WINDOW w1 AS (PARTITION BY user_id ORDER BY ts, event_id),
         w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT *,
         LAST_VALUE(CASE WHEN dc > 0 THEN 1 WHEN dc < 0 THEN -1 END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sign,
         CAST(FLOOR(pre_cum / {DOLLAR_BAR_CENTS}) AS BIGINT) AS bucket
  FROM p
),
pb AS (
  SELECT user_id, bucket,
         ABS(SUM(CASE WHEN sign = 1 THEN cc ELSE 0 END)
           - SUM(CASE WHEN sign = -1 THEN cc ELSE 0 END)) AS num,
         SUM(CASE WHEN sign = 1 THEN cc ELSE 0 END)
           + SUM(CASE WHEN sign = -1 THEN cc ELSE 0 END) AS den
  FROM s WHERE sign IS NOT NULL
  GROUP BY user_id, bucket
),
-- completed buckets only: the stream can never emit each series'
-- final open bucket; null-toxicity buckets (den = 0) are skipped by
-- the fold and excluded here BEFORE the trailing window
comp AS (
  SELECT user_id, bucket,
         CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS toxicity
  FROM (SELECT *, MAX(bucket) OVER (PARTITION BY user_id) AS max_b FROM pb)
  WHERE bucket < max_b AND den > 0
),
tr AS (
  SELECT user_id, bucket, toxicity,
         list_sort(list(toxicity) OVER (PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN {VPIN_WINDOW - 1} PRECEDING AND CURRENT ROW)) AS trail
  FROM comp
)
SELECT user_id, bucket, toxicity,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), trail), (acc, x) -> acc + x)
         / {float(VPIN_WINDOW)!r} AS vpin
FROM tr
WHERE len(trail) = {VPIN_WINDOW}
ORDER BY user_id, bucket
"""


def streaming_tick_bars_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-imbalance bars as a LIVE stream: the sign carry, the
    open bar's (θ, n), the adaptive expectation E, and the bar
    counter live in the state store
    (streaming/stateful_tick_bars.py) and survive across
    micro-batches — a bar accumulating in batch 0 closes and emits
    in batch 1 with the threshold E carried through the store.

    Because an imbalance bar closes ON the tick that reaches the
    threshold (|θ| moves ±1 per signed tick), the streamed output
    is IDENTICAL to the batch walk — the recursive-CTE oracle of
    ``tick_imbalance_bars`` applies VERBATIM, with no
    completed-only restriction (only each series' final partial
    bar is absent from both). Events arrive as two time-sliced
    micro-batches (the zone-machine staging)."""
    from ..streaming.stateful_tick_bars import tick_bars_stateful
    from .microstructure import TIB_E_INIT, TIB_E_MIN

    ev = _events_stream_time_ordered(spark, sf_dir, n_batches=2)
    ticks = ev.select(
        "user_id",
        F.unix_micros("ts").alias("seq"),
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cc"),
    )
    return _drain(
        tick_bars_stateful(ticks, TIB_E_INIT, TIB_E_MIN), "append"
    ).orderBy("user_id", "bar_seq")


def _tick_bars_oracle() -> str:
    from .microstructure import ORACLE_TICK_IMBALANCE_BARS

    return ORACLE_TICK_IMBALANCE_BARS


QUERIES = {
    "streaming_tick_bars_stateful": streaming_tick_bars_stateful,
    "streaming_vpin_stateful": streaming_vpin_stateful,
    "streaming_corpus_ingest": streaming_corpus_ingest,
    "streaming_semdedup_ingest": streaming_semdedup_ingest,
    "streaming_segment_activity": streaming_segment_activity,
    "streaming_top_spenders": streaming_top_spenders,
    "streaming_hourly_rollup": streaming_hourly_rollup,
    "streaming_mix_drift": streaming_mix_drift,
    "streaming_session_stats": streaming_session_stats,
    "streaming_dedup_hashes": streaming_dedup_hashes,
    "streaming_click_attribution": streaming_click_attribution,
    "streaming_sliding_rollup": streaming_sliding_rollup,
    "streaming_zone_signals_stateful": streaming_zone_signals_stateful,
}

from .corpus_build import ORACLE_CORPUS_BUILD_INGEST as _OCBI
from .similarity import ORACLE_INCREMENTAL_SEMDEDUP_INGEST as _OSI

ORACLES = {
    # value-identical to the batch incremental queries BY
    # CONSTRUCTION (id-ordered micro-batches), so they share those
    # oracles verbatim
    "streaming_semdedup_ingest": _OSI,
    "streaming_corpus_ingest": _OCBI,
    "streaming_segment_activity": ORACLE_STREAMING_SEGMENT_ACTIVITY,
    "streaming_top_spenders": ORACLE_STREAMING_TOP_SPENDERS,
    "streaming_hourly_rollup": ORACLE_STREAMING_HOURLY_ROLLUP,
    "streaming_mix_drift": ORACLE_STREAMING_MIX_DRIFT,
    "streaming_session_stats": ORACLE_STREAMING_SESSION_STATS,
    "streaming_dedup_hashes": ORACLE_STREAMING_DEDUP_HASHES,
    "streaming_click_attribution": ORACLE_STREAMING_CLICK_ATTRIBUTION,
    "streaming_sliding_rollup": ORACLE_STREAMING_SLIDING_ROLLUP,
    # the de-stating proof makes the stateful fold's OUTPUT
    # SQL-expressible (see its docstring)
    "streaming_zone_signals_stateful": ORACLE_STREAMING_ZONE_SIGNALS_STATEFUL,
    # completed-bucket VPIN — the batch SQL restricted to
    # bucket < max(bucket) per series (see the query docstring)
    "streaming_vpin_stateful": _streaming_vpin_oracle(),
    # imbalance bars close ON their threshold tick, so the
    # batch walk's recursive oracle applies verbatim
    "streaming_tick_bars_stateful": _tick_bars_oracle(),
}
