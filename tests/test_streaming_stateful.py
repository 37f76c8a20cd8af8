"""Streaming stateful zone signals: the golden 15-bar reference
series split across TWO micro-batches must produce exactly the
batch result (BUY@7, SELL@14) — proving zone state survives the
batch boundary (the boundary at bar 10 sits INSIDE the overbought
dwell, so losing state would suppress the SELL)."""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from fin_trade_craft_spark.streaming.stateful_signals import zone_signals_stateful  # noqa: E402
from fin_trade_craft_spark.streaming.stream_agg import await_available_now  # noqa: E402

GOLDEN = [35, 31, 30, 28, 22, 28, 29, 31, 40, 68, 72, 73, 74, 70, 65]


def _run_batch(spark, src_dir, ckpt, out_dir):
    stream = spark.readStream.schema("symbol_id long, bar long, rsi double").parquet(str(src_dir))
    writer = (
        zone_signals_stateful(stream)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .outputMode("append")
    )
    await_available_now(writer, str(ckpt), "zone signals")
    return spark.read.parquet(str(out_dir)).collect()


def test_state_survives_microbatch_boundary(spark, tmp_path):
    src = tmp_path / "bars"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "signals_out"

    def write_file(name, bars):
        pdf = pd.DataFrame(
            [(1, i, float(v)) for i, v in bars], columns=["symbol_id", "bar", "rsi"]
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(str(src))

    # batch 1: bars 0..9 — enters oversold, fires BUY@7, enters
    # overbought at bar... (68 at bar 9 is not >= 70 yet)
    write_file("b1", list(enumerate(GOLDEN[:10])))
    out1 = _run_batch(spark, src, ckpt, out)
    assert [(r.bar, r.buy_signal, r.sell_signal) for r in sorted(out1, key=lambda r: r.bar)] == [
        (7, True, False)
    ]
    assert abs(out1[0].signal_strength - 31.0) < 1e-9

    # batch 2: bars 10..14 — dwell (72,73,74,70) then cross below at
    # 65. prev_rsi and the overbought flag from batch 1/2 interplay
    # must carry for the SELL to fire.
    write_file("b2", list(enumerate(GOLDEN))[10:])
    all_out = _run_batch(spark, src, ckpt, out)
    out2 = [r for r in all_out if r.bar >= 10]
    assert [(r.bar, r.buy_signal, r.sell_signal) for r in sorted(out2, key=lambda r: r.bar)] == [
        (14, False, True)
    ]
    assert abs(out2[0].signal_strength - 35.0) < 1e-9


def test_vpin_fold_cross_batch_carriage_matches_one_shot():
    """Splitting the tick series at ANY point and folding with
    carried state must equal the one-shot fold — and at least one
    split must emit, in its second half, a bucket whose flow began
    in the first half (state actually rides the store)."""
    import pandas as pd

    from fin_trade_craft_spark.streaming.stateful_vpin import _fold

    T, W = 500, 3
    # deterministic synthetic ticks: alternating drift, enough
    # dollars for ~12 buckets of size T
    vals = [(97 + (i * 37) % 130) for i in range(60)]
    ticks = pd.DataFrame(
        {"seq": range(60), "event_id": range(60), "cc": vals}
    )

    def run(chunks):
        state = (None, 0, 0, None, 0, 0, [])
        rows = []
        for ch in chunks:
            out, state = _fold(7, ch, T, W, *state)
            rows.extend(out)
        return rows, state

    one_shot, st_one = run([ticks])
    assert one_shot, "fixture must emit at least one VPIN row"
    carriage_proven = False
    for cut in range(1, 60):
        a, b = ticks.iloc[:cut], ticks.iloc[cut:]
        split_rows, st_split = run([a, b])
        assert split_rows == one_shot
        assert st_split == st_one
        # does the second half emit a bucket the first half opened?
        first_half, _ = run([a])
        second = [r for r in split_rows if r not in first_half]
        open_bucket_at_cut = run([a])[1][3]
        if any(r[1] == open_bucket_at_cut for r in second):
            carriage_proven = True
    assert carriage_proven


def test_tick_bars_fold_cross_batch_carriage_matches_one_shot():
    """Split-anywhere ≡ one-shot for the imbalance-bar fold, and at
    least one split emits, in its second half, a bar whose ticks
    began accumulating in the first half."""
    import pandas as pd

    from fin_trade_craft_spark.streaming.stateful_tick_bars import _fold

    E0, EMIN = 5, 2
    vals = [(97 + (i * 37) % 130) for i in range(80)]
    ticks = pd.DataFrame(
        {"seq": range(80), "event_id": range(80), "cc": vals}
    )

    def run(chunks):
        state = (None, 0, 0, 0, E0, 0)
        rows = []
        for ch in chunks:
            out, state = _fold(3, ch, E0, EMIN, *state)
            rows.extend(out)
        return rows, state

    one_shot, st_one = run([ticks])
    assert one_shot, "fixture must close at least one bar"
    carriage = False
    for cut in range(1, 80):
        a, b = ticks.iloc[:cut], ticks.iloc[cut:]
        rows, st = run([a, b])
        assert rows == one_shot
        assert st == st_one
        first_half, st_half = run([a])
        if st_half[3] > 0 and len(rows) > len(first_half):
            # open bar at the cut (n_in > 0) that closes later
            nxt = rows[len(first_half)]
            # the first post-cut close counts more signed ticks than
            # arrived after the cut alone — its bar began before it
            if nxt[3] > st_half[3]:
                carriage = True
    assert carriage
