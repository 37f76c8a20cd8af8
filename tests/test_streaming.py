"""Structured Streaming: the streaming hourly rollup over the
events parquet must agree with the equivalent batch aggregation."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from fin_trade_craft_spark.queries.streaming import _drain  # noqa: E402
from fin_trade_craft_spark.sources.catalog import load_table  # noqa: E402
from fin_trade_craft_spark.streaming.stream_agg import (  # noqa: E402
    hourly_rollup_stream,
    read_events_stream,
)

from conftest import SF_SMOKE  # noqa: E402


def test_stream_rollup_matches_batch(spark, tmp_path):
    # schema as stored on disk (ts is INT64 nanos under nanosAsLong)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{SF_SMOKE}/events.parquet").schema
    # file-source streams require a directory: stage via symlink
    src_dir = tmp_path / "events_in"
    src_dir.mkdir()
    (src_dir / "events.parquet").symlink_to(f"{SF_SMOKE}/events.parquet")
    stream = read_events_stream(spark, str(src_dir), schema)
    rows = _drain(hourly_rollup_stream(stream), "complete").collect()
    got = {(r.hour, r.event_type): (r.n, r.total_value) for r in rows}

    ev = load_table(spark, SF_SMOKE, "events")
    batch = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .collect()
    )
    want = {(r.hour, r.event_type): (r.n, r.total_value) for r in batch}
    assert got == want
    assert len(got) > 100  # sf0.001: ~30 days x 24h x 5 types, sparse


def test_sliding_stream_matches_batch_window_expr(spark, tmp_path):
    from fin_trade_craft_spark.streaming.stream_agg import sliding_rollup_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{SF_SMOKE}/events.parquet").schema
    src_dir = tmp_path / "events_in"
    src_dir.mkdir()
    (src_dir / "events.parquet").symlink_to(f"{SF_SMOKE}/events.parquet")
    stream = read_events_stream(spark, str(src_dir), schema)
    rows = _drain(sliding_rollup_stream(stream), "complete").collect()
    got = {(r.win_start, r.win_end, r.event_type): (r.n, r.total_value) for r in rows}

    ev = load_table(spark, SF_SMOKE, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "total_value",
        )
        .collect()
    )
    want = {(r.win_start, r.win_end, r.event_type): (r.n, r.total_value) for r in batch}
    assert got == want
    # every event lands in exactly size/slide = 4 windows
    n_events = ev.count()
    assert sum(v[0] for v in got.values()) == 4 * n_events


def test_session_stream_matches_batch_lag_sessionizer(spark, tmp_path):
    """session_window (streaming) vs the INDEPENDENT lag-based batch
    sessionizer: same 30-min gap rule, so session starts, event
    counts, durations, and value sums must align exactly."""
    from fin_trade_craft_spark.queries.windows import user_session_stats
    from fin_trade_craft_spark.streaming.stream_agg import session_stats_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{SF_SMOKE}/events.parquet").schema
    src_dir = tmp_path / "events_in"
    src_dir.mkdir()
    (src_dir / "events.parquet").symlink_to(f"{SF_SMOKE}/events.parquet")
    stream = read_events_stream(spark, str(src_dir), schema)
    rows = _drain(session_stats_stream(stream), "complete").collect()
    # stream session end = last event + gap; batch duration = max-min
    def _us(td):  # exact integer microseconds (total_seconds() is float)
        return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds

    got = {
        (r.user_id, r.session_start): (
            r.n_events,
            _us(r.session_end - r.session_start) - 1_800_000_000,
            r.total_value,
        )
        for r in rows
    }

    batch = user_session_stats(spark, SF_SMOKE).collect()
    want = {
        (r.user_id, r.session_start): (r.n_events, r.duration_us, r.total_value)
        for r in batch
    }
    assert got == want
    assert len(got) > 50


def test_stream_static_dim_join(spark, tmp_path):
    """Stream-static join: streaming events enriched with a static
    dimension — the dim is re-read per micro-batch, no state."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{SF_SMOKE}/events.parquet").schema
    src_dir = tmp_path / "events_in"
    src_dir.mkdir()
    (src_dir / "events.parquet").symlink_to(f"{SF_SMOKE}/events.parquet")
    stream = read_events_stream(spark, str(src_dir), schema)
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 5.0), ("signup", 3.0), ("error", -1.0)],
        "event_type string, weight double",
    )
    joined = stream.join(dim, "event_type").withColumn(
        "weighted", F.col("value") * F.col("weight")
    )
    rows = _drain(joined.groupBy("event_type").count(), "complete").collect()
    got = {r.event_type: r["count"] for r in rows}
    want = {
        r.event_type: r["count"]
        for r in load_table(spark, SF_SMOKE, "events").groupBy("event_type").count().collect()
    }
    assert got == want


def test_stream_upsert_into_warehouse(spark, tmp_path):
    """foreachBatch streaming upsert (S7 in streaming form): two
    incremental drains; the second updates overlapping keys and the
    warehouse table converges to the full-batch answer."""
    from fin_trade_craft_spark.sources.io import TableIO
    from fin_trade_craft_spark.streaming.stream_agg import upsert_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    io = TableIO(spark, str(tmp_path / "wh"))
    ev = load_table(spark, SF_SMOKE, "events")
    half1 = ev.filter(F.col("event_id") % 2 == 0)

    src_dir = tmp_path / "in"
    src_dir.mkdir()

    def agg_stream():
        s = (
            spark.readStream.schema(spark.read.parquet(str(src_dir / "part1")).schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src_dir))
        )
        return s.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )

    # drain 1: half the data
    half1.select("user_id", "event_type", "value").write.parquet(str(src_dir / "part1"))
    upsert_stream(agg_stream(), io, "agg/users", ["user_id"], str(tmp_path / "ck"))
    n_after_1 = io.read("agg/users").count()
    assert n_after_1 > 0

    # drain 2: rest of the data arrives; same checkpoint continues
    ev.filter(F.col("event_id") % 2 == 1).select(
        "user_id", "event_type", "value"
    ).write.parquet(str(src_dir / "part2"))
    upsert_stream(agg_stream(), io, "agg/users", ["user_id"], str(tmp_path / "ck"))

    got = {r.user_id: (r.n, r.total) for r in io.read("agg/users").collect()}
    want = {
        r.user_id: (r.n, r.total)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .collect()
    }
    assert got == want


def test_stream_dedup_state_spans_batches(spark, tmp_path):
    """Streaming exact dedup (dropDuplicatesWithinWatermark): the
    first-seen doc per content hash survives; a duplicate arriving
    in a LATER micro-batch is dropped (keyed state crosses the
    micro-batch boundary), and the emitted hash set equals the batch
    dedup answer."""
    from datetime import datetime

    from fin_trade_craft_spark.streaming.stream_agg import dedup_stream

    t = datetime(2024, 5, 1, 10, 0, 0)
    schema = "doc_id long, text string, ts timestamp"
    batch1 = spark.createDataFrame(
        [(1, "alpha beta gamma", t), (2, "alpha  beta gamma ", t), (3, "unique one", t)],
        schema,
    )
    batch2 = spark.createDataFrame(
        [(4, "alpha beta gamma", t), (5, "unique two", t), (6, "unique one", t)],
        schema,
    )
    src = tmp_path / "docs_in"
    src.mkdir()

    def _stage(df, name):
        out = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(out))
        part = next(out.glob("part-*.parquet"))
        part.rename(src / f"{name}.parquet")

    _stage(batch1, "f1")
    _stage(batch2, "f2")

    stream = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)  # force one file per micro-batch
        .parquet(str(src))
    )
    rows = _drain(dedup_stream(stream), "append").collect()

    # 3 distinct contents -> 3 emitted rows, one per hash
    hashes = [r.content_md5 for r in rows]
    assert len(rows) == 3 and len(set(hashes)) == 3
    # matches the batch dedup answer on the same data
    batch_hashes = {
        r.h
        for r in batch1.unionByName(batch2)
        .select(F.md5(F.regexp_replace(F.trim("text"), r"\s+", " ")).alias("h"))
        .distinct()
        .collect()
    }
    assert set(hashes) == batch_hashes
    # the cross-batch duplicates (docs 4 and 6) were dropped by
    # state carried over from micro-batch 1
    assert not {4, 6} & {r.doc_id for r in rows}


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream click-attribution join (watermarked both sides,
    time-range predicate) must produce exactly the batch join's
    matches on the same data."""
    from fin_trade_craft_spark.streaming.stream_agg import click_attribution_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{SF_SMOKE}/events.parquet").schema
    src_dir = tmp_path / "events_in"
    src_dir.mkdir()
    (src_dir / "events.parquet").symlink_to(f"{SF_SMOKE}/events.parquet")

    def views_clicks(df):
        return (
            df.filter(F.col("event_type") == "view"),
            df.filter(F.col("event_type") == "click"),
        )

    stream = read_events_stream(spark, str(src_dir), schema)
    rows = _drain(click_attribution_stream(stream), "append").collect()
    got = sorted((r.user_id, r.view_id, r.click_id) for r in rows)
    assert len(got) > 0

    bv, bc = views_clicks(load_table(spark, SF_SMOKE, "events"))
    v = bv.select("user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id"))
    c = bc.select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    batch = v.join(
        c,
        (v["user_id"] == c["c_user_id"])
        & (c["click_ts"] >= v["view_ts"])
        & (c["click_ts"] <= v["view_ts"] + F.expr("INTERVAL 1 hour")),
    )
    want = sorted((r.user_id, r.view_id, r.click_id) for r in batch.collect())
    assert got == want


def test_normalize_event_ts_fail_fast(spark):
    """Unexpected ts types must raise a descriptive error naming the
    loaded type, not fall through to confusing query-time epoch math
    (round-2 ADVICE)."""
    import pytest

    from fin_trade_craft_spark.sources.catalog import normalize_event_ts

    ok_ntz = spark.sql("SELECT TIMESTAMP_NTZ '2024-01-01 00:00:00' AS ts")
    assert dict(normalize_event_ts(ok_ntz).dtypes)["ts"] == "timestamp"
    ok_long = spark.sql("SELECT CAST(1700000000000000000 AS LONG) AS ts")
    out = normalize_event_ts(ok_long)
    assert dict(out.dtypes)["ts"] == "timestamp"
    # nanos -> micros truncation, exact integer division
    assert out.collect()[0].ts.microsecond == 0
    bad = spark.sql("SELECT 'not a time' AS ts")
    with pytest.raises(TypeError, match="string"):
        normalize_event_ts(bad)


def test_stream_rollup_multi_microbatch_matches_batch(spark, tmp_path):
    """Complete-mode windowed rollup must equal batch REGARDLESS of
    how the files are batched: split the fixture into 3 files (not
    event-time ordered) and force one file per micro-batch — the
    windowed state must absorb out-of-order arrival across batches."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev_raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    src_dir = tmp_path / "events_in"
    # 3 parts hash-split by event_id: each micro-batch spans the whole
    # time range, so every batch contains rows "late" vs the previous
    ev_raw.repartition(3, "event_id").write.parquet(str(src_dir))
    schema = spark.read.parquet(str(src_dir)).schema
    stream = read_events_stream(spark, str(src_dir), schema, max_files_per_trigger=1)
    rows = _drain(hourly_rollup_stream(stream), "complete").collect()
    got = {(r.hour, r.event_type): (r.n, r.total_value) for r in rows}

    ev = load_table(spark, SF_SMOKE, "events")
    batch = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .collect()
    )
    want = {(r.hour, r.event_type): (r.n, r.total_value) for r in batch}
    assert got == want


def test_drain_timeout_stops_query_and_raises(spark, monkeypatch):
    """A drain still running at the runner's timeout is stopped and
    raises instead of handing back a partially filled sink."""
    import pytest

    from fin_trade_craft_spark.queries.streaming import _events_stream
    from fin_trade_craft_spark.streaming import stream_agg

    stream = _events_stream(spark, SF_SMOKE)
    monkeypatch.setattr(stream_agg, "DRAIN_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError, match="exceeded 0.001s"):
        _drain(hourly_rollup_stream(stream), "complete")
    assert spark.streams.active == []
