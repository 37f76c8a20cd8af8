"""Rolling-window feature primitives (SURVEY §2.5 W1, W11-W13, W15,
W16, W7-W8).

The reference computes these with per-symbol pandas loops
(`transform_time_series_daily_adjusted.py:177-187`,
`transform_economic_indicators.py:196-236`); here each is a single
window expression — Spark parallelizes across partition keys with no
Python in the loop, which is the whole scale story: 21k symbols or
21M keys is the same plan.

Numeric discipline: every windowed SUM/AVG/STD runs through exact
DECIMAL accumulation (see functions/exact.py) so results don't
depend on the engine's frame-evaluation strategy (sliding vs
recompute) — required for bit-exact oracle parity and for run-to-run
determinism on a cluster.

``min_periods`` follows pandas `rolling(n)` semantics (NULL until
the frame is full) via an explicit frame-count guard.
"""

from __future__ import annotations

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F


def rows_window(part: str | list[str], order: str | list[str] | list[Column]) -> WindowSpec:
    part = [part] if isinstance(part, str) else part
    order = [order] if isinstance(order, str) else order
    return Window.partitionBy(*part).orderBy(*order)


def _frame(w: WindowSpec, n: int) -> WindowSpec:
    return w.rowsBetween(-(n - 1), 0)


def _dec(col: Column, precision: int, scale: int) -> Column:
    return col.cast(f"decimal({precision},{scale})")


def _guard(expr: Column, col: Column, w: WindowSpec, n: int, min_periods: int | None) -> Column:
    mp = n if min_periods is None else min_periods
    cnt = F.count(col).over(_frame(w, n))
    return F.when(cnt >= mp, expr)


def rolling_mean(col: Column, w: WindowSpec, n: int, scale: int = 2, min_periods: int | None = None) -> Column:
    """SMA with pandas min_periods semantics (W1)."""
    s = F.sum(_dec(col, 12, scale)).over(_frame(w, n)).cast("double")
    c = F.count(col).over(_frame(w, n))
    return _guard(s / c, col, w, n, min_periods)


def rolling_std(col: Column, w: WindowSpec, n: int, scale: int = 2, min_periods: int | None = None) -> Column:
    """Sample std via exact sum / sum-of-squares (W11). The final
    sqrt((s2 - s²/c)/(c-1)) is a fixed double expression — identical
    inputs give identical results in any engine. The variance is
    clamped at 0: for a CONSTANT window the exact decimal sums are
    equal but the double subtraction can round to a tiny NEGATIVE
    (e.g. ten 0.01 values → var = -2.4e-20), where sqrt must give 0,
    not NaN (any mirroring SQL oracle needs the same GREATEST(var,0)
    — DuckDB's sqrt of a negative RAISES)."""
    d = _dec(col, 12, scale)
    s = F.sum(d).over(_frame(w, n)).cast("double")
    s2 = F.sum(d * d).over(_frame(w, n)).cast("double")
    c = F.count(col).over(_frame(w, n))
    var = F.greatest((s2 - s * s / c) / (c - F.lit(1)), F.lit(0.0))
    return _guard(F.sqrt(var), col, w, n, min_periods)


def rolling_zscore(col: Column, w: WindowSpec, n: int, scale: int = 2, eps: float = 1e-8) -> Column:
    """(x − roll_mean) / (roll_std + eps) (W12; the reference's
    epsilon guard, transform_economic_indicators.py:200-205)."""
    return (col - rolling_mean(col, w, n, scale)) / (rolling_std(col, w, n, scale) + F.lit(eps))


def rolling_slope(
    col: Column,
    x: Column,
    w: WindowSpec,
    n: int,
    scale: int = 2,
    min_periods: int | None = None,
    precision: int = 12,
) -> Column:
    """Closed-form OLS slope over the trailing n rows (W13; replaces
    rolling.apply(np.polyfit), transform_economic_indicators.py:
    262-276). ``x`` is an integer position column the caller must
    materialize in a prior projection (window functions can't nest).
    All sums exact.

    NULL discipline: the x-sums are masked to rows where ``col`` is
    non-null, so a null y inside the window never mixes x-sums over
    all rows with y-sums over fewer rows (which would be no valid
    regression at all). For pandas dropna-then-polyfit PARITY on
    gappy series, pass the cumulative NON-NULL rank as ``x``
    (``F.count(col).over(w.rowsBetween(unboundedPreceding, 0))``) —
    within any frame those ranks are consecutive, and OLS slope is
    shift-invariant in x, exactly matching polyfit over the
    compacted series. ``precision`` sizes the y decimal: the default
    12 holds |y| < 1e6 at scale 2 — widen for large-magnitude
    series or the cast goes NULL silently in non-ANSI mode."""
    y = _dec(col, precision, scale)
    xd = F.when(col.isNotNull(), x.cast("decimal(12,0)"))
    sx = F.sum(xd).over(_frame(w, n)).cast("double")
    sy = F.sum(y).over(_frame(w, n)).cast("double")
    sxy = F.sum(xd * y).over(_frame(w, n)).cast("double")
    sxx = F.sum(xd * xd).over(_frame(w, n)).cast("double")
    c = F.count(col).over(_frame(w, n)).cast("double")
    slope = (c * sxy - sx * sy) / (c * sxx - sx * sx)
    return _guard(slope, col, w, n, min_periods)


def rolling_max(col: Column, w: WindowSpec, n: int, min_periods: int | None = None) -> Column:
    return _guard(F.max(col).over(_frame(w, n)), col, w, n, min_periods)


def rolling_min(col: Column, w: WindowSpec, n: int, min_periods: int | None = None) -> Column:
    return _guard(F.min(col).over(_frame(w, n)), col, w, n, min_periods)


def centered_extrema_flags(col: Column, w: WindowSpec, half: int = 2) -> tuple[Column, Column]:
    """Local pivot low/high: value equals the min/max of the
    centered (2·half+1)-row window, full frames only (W16;
    transform_trading_signals.py:683-752)."""
    cw = w.rowsBetween(-half, half)
    full = F.count(col).over(cw) == (2 * half + 1)
    is_low = full & (col == F.min(col).over(cw))
    is_high = full & (col == F.max(col).over(cw))
    return is_low, is_high


def drawdown(cum: Column, runmax: Column) -> Column:
    """(equity − running peak) / running peak
    (backtest_strategies.py:346-351)."""
    return F.when(runmax != 0, (cum - runmax) / runmax)
