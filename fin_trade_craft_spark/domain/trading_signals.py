"""The 11 trading-signal strategies — Spark re-expression of
``transforms/transform_trading_signals.py`` (W17-W19; per-strategy
reference lines cited below). The reference evaluates each strategy
with an O(n) Python loop per symbol; here every strategy is a
window expression over the feature frame, evaluated for all symbols
in one pass. Nine lag-based / stateless strategies share one fused
window pass (``_fused_lag_signals``); ``price_breakout`` and
``rsi_divergence`` keep their own plans.

Faithful semantics notes:
- Each strategy first drops rows with nulls in ITS required columns
  (reference ``dropna(subset=…)``), so lags skip feature-warmup
  rows — implemented as a filter before the lag window.
- buy/sell branches are if/elif: on a row satisfying both, BUY wins
  (matters for price_breakout wide-range days).
- Output grain matches ``transforms.trading_signals``: (symbol,
  symbol_id, date, buy_signal, sell_signal, trade_strategy,
  signal_strength), unique on (symbol_id, date, trade_strategy).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.memo import pin_on_first_action

_OUT = ["symbol", "symbol_id", "date", "buy_signal", "sell_signal", "trade_strategy", "signal_strength"]


def _w():
    return Window.partitionBy("symbol_id").orderBy("date")


def _emit(df: DataFrame, strategy: str, buy: Column, sell: Column, strength: Column) -> DataFrame:
    out = df.select(
        "symbol",
        "symbol_id",
        "date",
        F.coalesce(buy, F.lit(False)).alias("buy_signal"),
        F.coalesce(sell & ~F.coalesce(buy, F.lit(False)), F.lit(False)).alias("sell_signal"),
        F.lit(strategy).alias("trade_strategy"),
        strength.alias("signal_strength"),
    )
    return out.filter(F.col("buy_signal") | F.col("sell_signal")).select(*_OUT)


def _dropna(df: DataFrame, cols: list[str]) -> DataFrame:
    return df.na.drop(subset=cols)


def price_breakout(feat: DataFrame) -> DataFrame:
    """`:631-681` — high breaks prev 20-day rolling high (BUY wins
    on a row that also breaks the low — reference elif)."""
    d = _dropna(feat, ["high", "low"])
    w = _w()
    h20 = F.when(F.count("high").over(w.rowsBetween(-19, 0)) >= 20, F.max("high").over(w.rowsBetween(-19, 0)))
    l20 = F.when(F.count("low").over(w.rowsBetween(-19, 0)) >= 20, F.min("low").over(w.rowsBetween(-19, 0)))
    d = d.select("*", h20.alias("__h20"), l20.alias("__l20")).na.drop(subset=["__h20", "__l20"])
    w2 = _w()
    ph, pl = F.lag("__h20").over(w2), F.lag("__l20").over(w2)
    buy = F.col("high") > ph
    sell = F.col("low") < pl
    strength = F.when(buy, F.least(F.lit(100.0), (F.col("high") - ph) / ph * 100)).otherwise(
        F.least(F.lit(100.0), (pl - F.col("low")) / pl * 100)
    )
    return _emit(d, "price_breakout", buy, sell, strength)


def rsi_divergence(feat: DataFrame) -> DataFrame:
    """`:683-752` — consecutive price-pivot compare: lower price low
    with higher RSI low → BUY; higher high with lower RSI high →
    SELL. Pivots = centered rolling(5) extrema on the dropna'd
    frame; symbols with <20 usable rows are excluded (reference
    guard)."""
    d = _dropna(feat, ["close", "ohlcv_rsi_14"])
    d = d.withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("symbol_id"))).filter(
        F.col("__n") >= 20
    )
    w = _w()
    cw = w.rowsBetween(-2, 2)
    full = F.count("close").over(cw) == 5
    is_low = full & (F.col("close") == F.min("close").over(cw))
    is_high = full & (F.col("close") == F.max("close").over(cw))
    d = d.select("*", is_low.alias("__plow"), is_high.alias("__phigh"))

    lows = d.filter("__plow")
    wl = _w()
    lo = lows.select(
        "symbol",
        "symbol_id",
        "date",
        "close",
        "ohlcv_rsi_14",
        F.lag("close").over(wl).alias("__pc"),
        F.lag("ohlcv_rsi_14").over(wl).alias("__pr"),
    )
    buys = lo.filter((F.col("close") < F.col("__pc")) & (F.col("ohlcv_rsi_14") > F.col("__pr"))).select(
        "symbol",
        "symbol_id",
        "date",
        F.lit(True).alias("buy_signal"),
        F.lit(False).alias("sell_signal"),
        F.lit("rsi_divergence").alias("trade_strategy"),
        F.least(F.lit(100.0), F.col("ohlcv_rsi_14") - F.col("__pr")).alias("signal_strength"),
    )
    highs = d.filter("__phigh")
    hi = highs.select(
        "symbol",
        "symbol_id",
        "date",
        "close",
        "ohlcv_rsi_14",
        F.lag("close").over(wl).alias("__pc"),
        F.lag("ohlcv_rsi_14").over(wl).alias("__pr"),
    )
    sells = hi.filter((F.col("close") > F.col("__pc")) & (F.col("ohlcv_rsi_14") < F.col("__pr"))).select(
        "symbol",
        "symbol_id",
        "date",
        F.lit(False).alias("buy_signal"),
        F.lit(True).alias("sell_signal"),
        F.lit("rsi_divergence").alias("trade_strategy"),
        F.least(F.lit(100.0), F.col("__pr") - F.col("ohlcv_rsi_14")).alias("signal_strength"),
    )
    return buys.unionByName(sells).select(*_OUT)


def _fused_lag_signals(feat: DataFrame) -> DataFrame:
    """The nine lag-based / stateless strategies in ONE window pass +
    ONE generate ("very wide unions produce enormous plans"): an
    11-way union plans each strategy as its own
    filter→Window→project branch over the checkpointed frame — 9
    structurally identical WindowExecs and ~50 KB of physical plan,
    whose driver-side planning/codegen (~2 s) and per-task
    deserialization dominated fin_signals_pipeline. Here the shared frame
    is scanned ONCE: every strategy's lag is a masked running
    last-value in a single Window node, and the per-strategy
    emit/filter algebra becomes array(struct×9) → inline → filter.

    Equivalence to the per-strategy reference functions (the
    definitional surface, kept in tests/test_domain_signals.py, one
    ``_dropna`` + ``lag`` + ``_emit`` plan per strategy):

    - Each reference strategy first drops rows with nulls in ITS
      required columns, then takes ``lag(col)`` over the REMAINING
      rows — so its "previous value" skips masked-out rows. On the
      full frame that is exactly
      ``last(when(mask, col), ignorenulls=True) over (-inf, -1)``:
      the most recent preceding row where mask holds (when(mask, col)
      is non-null precisely on mask rows, since mask requires col
      non-null). At mask rows this equals the dropna'd frame's lag;
      at non-mask rows the strategy emits nothing (see next point).
    - ``_emit`` on the dropna'd frame computes
      buy = coalesce(raw_buy, false),
      sell = coalesce(raw_sell & ~buy, false) and keeps buy|sell
      rows. Here the same algebra runs with ``mask & raw_buy`` /
      ``mask & raw_sell``: on mask rows the conjunction is a no-op,
      on non-mask rows (false AND x) = false, so the row emits
      nothing for that strategy — identical to having been dropped.
    - Strength expressions are copied verbatim (same arithmetic on
      the same row-local columns ⇒ bit-identical doubles); they are
      only observable on surviving rows.

    Differential pinned by tests/test_domain_signals.py::
    test_fused_lag_signals_matches_per_strategy_union (nulls, warmup
    gaps, zero divisors, both-signal rows) and end-to-end by the
    fin_signals_pipeline value oracle."""
    w = _w()
    pw = w.rowsBetween(Window.unboundedPreceding, -1)

    def mlag(col: Column, mask: Column) -> Column:
        return F.last(F.when(mask, col), ignorenulls=True).over(pw)

    c = F.col("close")
    e8, e21 = F.col("ohlcv_ema_8"), F.col("ohlcv_ema_21")
    rsi = F.col("ohlcv_rsi_14")
    h = F.col("ohlcv_macd_histogram")
    u, lo = F.col("ohlcv_bb_upper"), F.col("ohlcv_bb_lower")
    vol, vs20 = F.col("volume"), F.col("ohlcv_volume_sma_20")
    r = F.col("ohlcv_willr_14")
    s5, s10, s20, s50 = (F.col(f"ohlcv_sma_{n}") for n in (5, 10, 20, 50))

    # one mask per distinct dropna(subset=...) in the strategies below
    m_ema = e8.isNotNull() & e21.isNotNull()
    m_rsi = rsi.isNotNull()
    m_macd = h.isNotNull()
    m_boll = c.isNotNull() & u.isNotNull() & lo.isNotNull()
    m_vol = c.isNotNull() & vol.isNotNull() & vs20.isNotNull()
    m_wil = r.isNotNull()
    m_rib = (
        c.isNotNull() & s5.isNotNull() & s10.isNotNull() & s20.isNotNull() & s50.isNotNull()
    )
    m_tf = (
        c.isNotNull() & s50.isNotNull() & e8.isNotNull() & e21.isNotNull() & rsi.isNotNull()
    )

    lagged = feat.select(
        "*",
        mlag(e8, m_ema).alias("__p8"),
        mlag(e21, m_ema).alias("__p21"),
        mlag(rsi, m_rsi).alias("__prsi"),
        mlag(h, m_macd).alias("__ph"),
        mlag(c, m_boll).alias("__pcb"),
        mlag(u, m_boll).alias("__pu"),
        mlag(lo, m_boll).alias("__pl"),
        mlag(c, m_vol).alias("__pcv"),
        mlag(r, m_wil).alias("__pr"),
    )

    p8, p21 = F.col("__p8"), F.col("__p21")
    prsi, ph = F.col("__prsi"), F.col("__ph")
    pcb, pu, pl = F.col("__pcb"), F.col("__pu"), F.col("__pl")
    pcv, pr = F.col("__pcv"), F.col("__pr")

    def sig(name: str, mask: Column, buy: Column, sell: Column, strength: Column) -> Column:
        b = F.coalesce(mask & buy, F.lit(False))
        s = F.coalesce(mask & sell & ~b, F.lit(False))
        return F.struct(
            b.alias("buy_signal"),
            s.alias("sell_signal"),
            F.lit(name).alias("trade_strategy"),
            strength.alias("signal_strength"),
        )

    # raw buy/sell/strength expressions copied verbatim from the
    # per-strategy reference functions (same names, same order)
    vr = vol / vs20
    chg = (c - pcv) / pcv * 100
    rib_buy = (c > s5) & (s5 > s10) & (s10 > s20) & (s20 > s50)
    tf_buy = (c > s50) & (e8 > e21) & (rsi > 50)
    strategies = [
        sig(
            "ema_crossover",
            m_ema,
            (p8 <= p21) & (e8 > e21),
            (p8 >= p21) & (e8 < e21),
            F.least(F.lit(100.0), F.abs(e8 - e21) / e21 * 100),
        ),
        sig(
            "rsi_mean_reversion",
            m_rsi,
            (prsi <= 30) & (rsi > 30),
            (prsi >= 70) & (rsi < 70),
            F.when((prsi <= 30) & (rsi > 30), rsi).otherwise(100 - rsi),
        ),
        sig(
            "rsi_crossing",
            m_rsi,
            (prsi <= 30.0) & (rsi > 30.0) & (rsi < 70.0),
            (prsi >= 70.0) & (rsi < 70.0) & (rsi > 30.0),
            F.when((prsi <= 30.0) & (rsi > 30.0) & (rsi < 70.0), rsi).otherwise(100 - rsi),
        ),
        sig(
            "macd_histogram_reversal",
            m_macd,
            (ph <= 0) & (h > 0),
            (ph >= 0) & (h < 0),
            F.least(F.lit(100.0), F.abs(h) * 10),
        ),
        sig(
            "bollinger_breakout",
            m_boll,
            (pcb <= pu) & (c > u),
            (pcb >= pl) & (c < lo),
            F.when((pcb <= pu) & (c > u), F.least(F.lit(100.0), (c - u) / u * 100)).otherwise(
                F.least(F.lit(100.0), (lo - c) / lo * 100)
            ),
        ),
        sig(
            "volume_spike",
            m_vol,
            (vr > 2.0) & (chg > 2.0),
            (vr > 2.0) & (chg < -2.0),
            F.least(F.lit(100.0), vr * 10),
        ),
        sig(
            "williams_extremes",
            m_wil,
            (pr <= -80) & (r > -80),
            (pr >= -20) & (r < -20),
            F.least(F.lit(100.0), F.abs(r + 50) * 2),
        ),
        sig(
            "ma_ribbon",
            m_rib,
            rib_buy,
            (c < s5) & (s5 < s10) & (s10 < s20) & (s20 < s50),
            F.when(rib_buy, F.least(F.lit(100.0), (c - s50) / s50 * 100)).otherwise(
                F.least(F.lit(100.0), (s50 - c) / s50 * 100)
            ),
        ),
        sig(
            "trend_following",
            m_tf,
            tf_buy,
            (c < s50) & (e8 < e21) & (rsi < 50),
            F.when(tf_buy, F.least(F.lit(100.0), rsi)).otherwise(
                F.least(F.lit(100.0), 100 - rsi)
            ),
        ),
    ]
    out = lagged.select("symbol", "symbol_id", "date", F.inline(F.array(*strategies)))
    return out.filter(F.col("buy_signal") | F.col("sell_signal")).select(*_OUT)


def all_signals(feat: DataFrame) -> DataFrame:
    """Every strategy over one feature frame, unioned — the
    ``transforms.trading_signals`` table.

    The feature frame is persisted and filled eagerly (one
    ``count()``) before the fan-out: left lazy, the union branches
    race to compute the indicator lineage (including the EWM pandas
    island) before the cache fills — measured 13.8s vs 8.0s on the
    sf0.1 bench. The result is pinned on the feature frame with
    ``fill=False``: dropping it releases the cache, so a caller must
    keep it referenced until its write has run (operators/memo.py).
    The reference materializes the same boundary implicitly (features
    live in a Postgres table); on a cluster where executor loss
    matters, swap for a temp-table write (``TableIO.overwrite`` +
    re-read) — same plan shape, replicated storage.
    """
    # Project to exactly the columns the 11 strategies read BEFORE
    # materializing (r12, guide §5 "project early"): the checkpoint
    # barrier blocks column pruning, so checkpointing the full
    # ~74-column indicator frame forced the window stage to compute
    # (and the checkpoint to store, and every strategy branch to
    # carry) dozens of indicator/target columns no strategy uses.
    # With the projection, Catalyst prunes the unused window
    # expressions below the checkpoint entirely. Keep this list in
    # sync with the strategy bodies above — a missed column fails
    # fast at plan time (unresolved attribute), and the end-to-end
    # fin_signals_pipeline value oracle pins the semantics.
    feat = feat.select(
        "symbol",
        "symbol_id",
        "date",
        "close",
        "high",
        "low",
        "volume",
        "ohlcv_sma_5",
        "ohlcv_sma_10",
        "ohlcv_sma_20",
        "ohlcv_sma_50",
        "ohlcv_ema_8",
        "ohlcv_ema_21",
        "ohlcv_rsi_14",
        "ohlcv_macd_histogram",
        "ohlcv_bb_upper",
        "ohlcv_bb_lower",
        "ohlcv_volume_sma_20",
        "ohlcv_willr_14",
    )
    # A cached frame keeps its plan's output partitioning and
    # ordering under AQE: the feature frame is hash-partitioned by
    # symbol_id and sorted by (symbol_id, date), which satisfies
    # every windowed strategy branch — 0 Exchanges, 0 Sorts above the
    # cache scan. (An eager localCheckpoint under AQE forgets both,
    # and the branches re-shuffle and re-sort it.) The width is
    # pinned by the explicit signal_partitions repartition inside
    # compute_indicators.
    feat = feat.persist()
    feat.count()
    # The nine lag-based/stateless strategies run as ONE fused window
    # pass + inline-explode (see _fused_lag_signals: an 11-way union
    # pays per-branch planning/codegen); only the two structurally
    # distinct strategies (price_breakout's two-stage rolling windows,
    # rsi_divergence's pivot lattice) remain union branches.
    signals = (
        _fused_lag_signals(feat)
        .unionByName(price_breakout(feat))
        .unionByName(rsi_divergence(feat))
    )
    return pin_on_first_action(signals, [feat], fill=False)
