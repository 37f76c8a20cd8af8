"""Streaming stateful zone-confirmation signals — the Structured
Streaming form of the reference's ``rsi_crossing`` state machine
(W18, SURVEY §2.9 stretch goal).

In batch, the state machine de-states into lag expressions
(operators/signals.py). In a true stream the zone flags must
SURVIVE across micro-batches — a bar entering the oversold zone in
batch N can fire on a bar arriving in batch N+7. That is exactly
``applyInPandasWithState``: per-symbol state (zone flags + previous
RSI) lives in the state store, each micro-batch folds its rows
through the reference's update rules, and emission is incremental.

Assumes per-symbol event-time order within and across batches (the
test feeds ordered files; production would sort within batch and
gate with a watermark)."""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("symbol_id", LongType()),
        StructField("bar", LongType()),
        StructField("rsi", DoubleType()),
        StructField("buy_signal", BooleanType()),
        StructField("sell_signal", BooleanType()),
        StructField("signal_strength", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("in_low", BooleanType()),
        StructField("in_high", BooleanType()),
        StructField("prev_rsi", DoubleType()),
    ]
)


def _fold(rows: pd.DataFrame, in_low: bool, in_high: bool, prev_rsi: float | None):
    """The reference's per-row update rules
    (transform_trading_signals.py:315-384), resumable from carried
    state."""
    out = []
    for r in rows.itertuples(index=False):
        rsi = r.rsi
        if rsi is None or rsi != rsi:
            continue
        if rsi <= 30:
            in_low, in_high = True, False
        elif rsi >= 70:
            in_high, in_low = True, False
        elif in_low and rsi > 30:
            if prev_rsi is not None and prev_rsi <= 30:
                out.append((int(r.symbol_id), int(r.bar), float(rsi), True, False, float(rsi)))
                in_low = False
        elif in_high and rsi < 70:
            if prev_rsi is not None and prev_rsi >= 70:
                out.append((int(r.symbol_id), int(r.bar), float(rsi), False, True, float(100 - rsi)))
                in_high = False
        prev_rsi = rsi
    return out, in_low, in_high, prev_rsi


def zone_signals_stateful(bars: DataFrame) -> DataFrame:
    """bars (stream): (symbol_id long, bar long, rsi double) →
    fired signals, state carried across micro-batches."""

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            in_low, in_high, prev_rsi = state.get
        else:
            in_low, in_high, prev_rsi = False, False, None
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values("bar")
        out, in_low, in_high, prev_rsi = _fold(batch, in_low, in_high, prev_rsi)
        state.update((bool(in_low), bool(in_high), None if prev_rsi is None else float(prev_rsi)))
        yield pd.DataFrame(out, columns=[f.name for f in OUTPUT_SCHEMA.fields])

    return bars.groupBy("symbol_id").applyInPandasWithState(
        fn, OUTPUT_SCHEMA, STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )

