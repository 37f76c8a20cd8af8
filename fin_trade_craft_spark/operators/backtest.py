"""Backtest trade simulator + metrics (SURVEY §2.10 U5, §2.4 A11,
§2.5 W8).

The reference's simulator (`backtesting/backtest_strategies.py:
171-302`) is an inherently sequential per-(strategy, symbol) state
machine: open on buy if flat and past the cooldown, close on sell,
force-close at end of period. State never crosses symbols
(positions/cooldowns are dicts keyed by symbol, `:186-187`), so
group-parallel execution is semantics-preserving: the ledger runs in
one pandas island (``operators.ewm.grouped_map``) whose kernel scans
frames of whole groups, and the frames scale out across executors.

Economics defaults mirror the reference: $100k capital, 2% position
size, 0.1% commission per side, 60-day cooldown
(`backtest_strategies.py:54-62,171-178`).

Metrics (win rate, profit factor, Sharpe·√252, max drawdown via
running-peak) are plain DataFrame aggregations/windows — no UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

def _check_unique_bars(pdf: pd.DataFrame, keys: list[str]) -> None:
    """Uniqueness guard on the simulator's input contract: the
    decision-row filter and the ledger scan's group-boundary logic
    both assume (symbol, date) is unique in ``prices`` (true of bar
    data and every testdata SF).
    A duplicated bar — or an all-null-date symbol, whose rows are
    mutually "equal" under the null-safe last-bar predicate — would
    otherwise silently double-close positions; fail loudly instead.
    One vectorized ``duplicated`` per kernel invocation, and only
    decision rows + each group's last bar reach the kernel, so the
    duplicate classes that can alter the ledger are exactly the rows
    checked."""
    dup = pdf.duplicated(keys)
    if dup.any():
        first = pdf[dup].iloc[0]
        raise ValueError(
            "simulate_trades: duplicate bar for "
            + ", ".join(f"{k}={first[k]!r}" for k in keys)
            + " — (symbol, date) must be unique in prices/signals"
        )


TRADE_SCHEMA = StructType(
    [
        StructField("strategy", StringType()),
        StructField("symbol", LongType()),
        StructField("entry_date", TimestampType()),
        StructField("exit_date", TimestampType()),
        StructField("entry_price", DoubleType()),
        StructField("exit_price", DoubleType()),
        StructField("shares", DoubleType()),
        StructField("pnl", DoubleType()),
        StructField("pnl_pct", DoubleType()),
        StructField("commission", DoubleType()),
        StructField("exit_reason", StringType()),
    ]
)


def simulate_trades(
    signals: DataFrame,
    prices: DataFrame,
    capital: float = 100_000.0,
    position_pct: float = 0.02,
    commission_pct: float = 0.001,
    cooldown_days: float = 60.0,
) -> DataFrame:
    """signals: (symbol, date, strategy, buy_signal, sell_signal);
    prices: (symbol, date, close). Returns closed trades."""
    strategies = signals.select("strategy").distinct()
    series = (
        prices.crossJoin(F.broadcast(strategies))
        .join(signals, ["strategy", "symbol", "date"], "left")
        .select(
            "strategy",
            "symbol",
            "date",
            "close",
            F.coalesce("buy_signal", F.lit(False)).alias("buy_signal"),
            F.coalesce("sell_signal", F.lit(False)).alias("sell_signal"),
        )
    )
    position_value = capital * position_pct

    # Decide with small rows: the state machine
    # below transitions ONLY on buy/sell rows — a row with neither
    # signal is a no-op in every branch — plus the group's LAST row
    # (end-of-period force close reads its date/close). So rows
    # without signals never need to cross the JVM->Python boundary
    # or the grouped_map shuffle: keep signal rows and each
    # (strategy, symbol) group's last row, drop the rest. The loop
    # over the filtered sequence is step-for-step identical (skipped
    # rows changed no state); groups with zero signal rows keep only
    # their last row and still emit zero trades. At sf0.1 this cuts
    # the island input from |strategies| x |price panel| (~440k
    # rows) to the sparse signal set; the reduction grows with
    # panel density at scale. Pinned by the backtest_sma_events /
    # backtest_edge_cases value oracles and tests/test_backtest.py.
    #
    # The "last row per (strategy, symbol)" predicate is computed
    # WITHOUT shuffling the panel: a
    # row_number() window over (strategy, symbol) would insert a
    # full-panel Exchange+Sort just to find each group's last row.
    # But `series` is prices × strategies — every group's date set
    # IS its symbol's price-date set — so the group's last row is
    # determined by a per-SYMBOL max(date) over `prices` alone:
    # a map-side-combined aggregate of n_symbols rows, attached by
    # broadcast. The panel itself is never shuffled; only decision
    # rows reach the grouped-map exchange below. Equivalence needs
    # (symbol, date) unique in prices (true of bar data; the window
    # variant's row_number()==1 was only deterministic under the
    # same assumption). eqNullSafe on both keys keeps the null-
    # symbol and all-null-date group behavior: such groups still
    # retain (at least) their force-close row.
    last_bar = prices.groupBy(F.col("symbol").alias("__sym")).agg(
        F.max("date").alias("__last_date")
    )
    series = (
        series.join(F.broadcast(last_bar), F.col("symbol").eqNullSafe(F.col("__sym")), "left")
        .filter(
            F.col("buy_signal")
            | F.col("sell_signal")
            | F.col("date").eqNullSafe(F.col("__last_date"))
        )
        .drop("__sym", "__last_date")
    )

    # The ledger as one linear scan over the (strategy, symbol,
    # date)-sorted frame, resetting the state at each group boundary:
    # open on buy when flat and past the cooldown (the `close and
    # close > 0` truthiness guard keeps its NaN behavior), floor to
    # whole shares, BUY wins on a both-signal row, force-close at the
    # group's last row. One scan per frame rather than one pandas
    # slice + sort + frame build per group (~1 ms/group, 16.5k groups
    # at sf0.1). Pinned by tests/test_backtest.py's per-group
    # reference loop and the backtest_sma_events / backtest_edge_cases
    # value oracles.
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["strategy", "symbol", "date"], kind="stable").reset_index(drop=True)
        _check_unique_bars(pdf, ["strategy", "symbol", "date"])
        out = []

        def close_out(strategy, symbol, trades):
            for (ed, ep, sh), (xd, xp), reason in trades:
                entry_value = ep * sh
                commission = (entry_value + xp * sh) * commission_pct
                pnl = xp * sh - entry_value - commission
                out.append(
                    {
                        "strategy": strategy,
                        "symbol": symbol,
                        "entry_date": ed,
                        "exit_date": xd,
                        "entry_price": float(ep),
                        "exit_price": float(xp),
                        "shares": float(sh),
                        "pnl": float(pnl),
                        # net of commission, relative to entry value
                        # (backtest_strategies.py:231-234)
                        "pnl_pct": float(pnl / entry_value * 100.0),
                        "commission": float(commission),
                        "exit_reason": reason,
                    }
                )

        cur = None  # (strategy, symbol)
        entry = None
        last_exit_date = None
        trades: list = []
        prev = None  # previous row (last row of the running group)
        for row in pdf.itertuples(index=False):
            key = (row.strategy, row.symbol)
            if key != cur:
                if cur is not None:
                    if entry is not None and prev is not None:
                        trades.append((entry, (prev.date, prev.close), "end_of_period"))
                    close_out(cur[0], cur[1], trades)
                cur = key
                entry = None
                last_exit_date = None
                trades = []
            if entry is None and row.buy_signal:
                if (
                    last_exit_date is not None
                    and (row.date - last_exit_date).total_seconds() < cooldown_days * 86400.0
                ):
                    prev = row
                    continue
                if row.close and row.close > 0:
                    # reference floors to whole shares and skips the
                    # trade entirely when the price exceeds the
                    # position value (backtest_strategies.py:207-210)
                    sh = int(position_value / row.close)
                    if sh > 0:
                        entry = (row.date, row.close, sh)
            elif entry is not None and row.sell_signal:
                trades.append((entry, (row.date, row.close), "sell_signal"))
                last_exit_date = row.date
                entry = None
            prev = row
        if cur is not None:
            if entry is not None and prev is not None:
                trades.append((entry, (prev.date, prev.close), "end_of_period"))
            close_out(cur[0], cur[1], trades)
        return pd.DataFrame(out, columns=[f.name for f in TRADE_SCHEMA.fields])

    from .ewm import grouped_map

    return grouped_map(series, ["strategy", "symbol"], kernel, TRADE_SCHEMA)


def backtest_metrics(trades: DataFrame) -> DataFrame:
    """Per-strategy rollup (A11): win rate, totals, profit factor,
    annualized Sharpe, max drawdown over the equity curve (W8)."""
    w = Window.partitionBy("strategy").orderBy("exit_date", "symbol", "entry_date")
    cum = F.sum("pnl").over(w.rowsBetween(Window.unboundedPreceding, 0))
    curve = trades.withColumn("cum_pnl", cum)
    runmax = F.max("cum_pnl").over(w.rowsBetween(Window.unboundedPreceding, 0))
    curve = curve.withColumn("dd", F.col("cum_pnl") - runmax)
    return (
        curve.groupBy("strategy")
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            (F.count(F.when(F.col("pnl") > 0, 1)) / F.count(F.lit(1))).alias("win_rate"),
            F.sum("pnl").alias("total_pnl"),
            F.avg("pnl_pct").alias("avg_pnl_pct"),
            # NULL when there are no losing trades (gross loss = 0):
            # the explicit guard makes the division-by-zero policy
            # intentional rather than an accident of non-ANSI mode
            # (the reference's numpy float division would give inf)
            F.when(
                F.abs(F.sum(F.when(F.col("pnl") < 0, F.col("pnl")).otherwise(0.0))) > 0,
                F.sum(F.when(F.col("pnl") > 0, F.col("pnl")).otherwise(0.0))
                / F.abs(F.sum(F.when(F.col("pnl") < 0, F.col("pnl")).otherwise(0.0))),
            ).alias("profit_factor"),
            (F.avg("pnl_pct") / F.stddev_samp("pnl_pct") * F.sqrt(F.lit(252.0))).alias("sharpe"),
            F.min("dd").alias("max_drawdown"),
            F.sum("commission").alias("total_commission"),
        )
    )
