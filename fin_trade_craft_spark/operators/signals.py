"""Signal-detection operators (SURVEY §2.5 W17-W19, W3-variant).

The reference iterates ``for i in range(1, len(df))`` per symbol
(`transform_trading_signals.py:237-267` etc.); these are the
vectorized window equivalents — one declarative plan instead of an
O(n) Python loop per key, so 21k or 21M keys cost the same shape.
"""

from __future__ import annotations

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F


def crossover(fast: Column, slow: Column, w: WindowSpec) -> tuple[Column, Column]:
    """prev fast≤slow & now fast>slow (and mirror) — the generic
    crossover pattern behind ema/sma/macd/bollinger/%R signals
    (W17, transform_trading_signals.py:221-267)."""
    prev_le = F.lag(fast).over(w) <= F.lag(slow).over(w)
    prev_ge = F.lag(fast).over(w) >= F.lag(slow).over(w)
    up = prev_le & (fast > slow)
    down = prev_ge & (fast < slow)
    return up, down


def rsi_simple(value: Column, w: WindowSpec, n: int = 14, scale: int = 2) -> Column:
    """Simple-moving-average RSI — the reference's econ/commodity
    variant (`transform_economic_indicators.py:278-297`), NOT
    Wilder's RMA (that one is an EWM recurrence → operators.ewm).

    delta, gains, losses are exact decimals so the windowed sums are
    order-independent; the final 100 − 100/(1+rs) is a fixed double
    expression.
    """
    d = value.cast(f"decimal(12,{scale})") - F.lag(value.cast(f"decimal(12,{scale})")).over(w)
    gain = F.when(d > 0, d).otherwise(F.lit(0).cast(f"decimal(13,{scale})"))
    loss = F.when(d < 0, -d).otherwise(F.lit(0).cast(f"decimal(13,{scale})"))
    frame = w.rowsBetween(-(n - 1), 0)
    avg_gain = F.sum(gain).over(frame).cast("double")
    avg_loss = F.sum(loss).over(frame).cast("double")
    cnt = F.count(d).over(frame)
    # flat window (gain = loss = 0) is NULL, not 100: the pandas
    # reference computes rs = 0/0 = NaN there and drops the row —
    # emitting 100 would read as extreme-overbought and could fire a
    # spurious crossing when the series resumes moving
    rsi = (
        F.when((avg_loss == 0) & (avg_gain > 0), F.lit(100.0))
        .when(avg_loss == 0, F.lit(None).cast("double"))
        .otherwise(F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + avg_gain / avg_loss))
    )
    return F.when(cnt >= n, rsi)


def zone_confirmation_signals(
    rsi: Column, w: WindowSpec, low: float = 30.0, high: float = 70.0
) -> tuple[Column, Column]:
    """The reference's stateful ``rsi_crossing`` strategy
    (`transform_trading_signals.py:315-384`), de-stated.

    The reference runs a per-row state machine (zone flags +
    reset-after-fire). Its elif-chain makes the state redundant:

    - BUY requires ``prev ≤ low AND curr > low`` *and* the oversold
      flag; but any bar with rsi ≤ low sets the flag, so at a
      qualifying crossing bar the flag is always True.
    - A crossing that lands in the opposite zone (curr ≥ high) takes
      the zone-entry branch instead and never fires.
    - Reset-after-fire can't suppress a later qualifying fire: the
      prev-bar ≤ low condition re-sets the flag before any fire.

    Hence: BUY ⇔ prev ≤ low < curr < high; SELL ⇔ prev ≥ high > curr
    > low — pure lag expressions, golden-tested against the
    reference's own 15-bar series (test_rsi_crossing.py:8-29 fixture
    → BUY@bar7, SELL@bar14). Callers must first drop null-rsi rows
    (the reference dropna's before iterating).
    """
    prev = F.lag(rsi).over(w)
    buy = (prev <= low) & (rsi > low) & (rsi < high)
    sell = (prev >= high) & (rsi < high) & (rsi > low)
    return buy, sell
