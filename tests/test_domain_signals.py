"""Differential tests: domain indicator engine + all 11 strategies
vs a faithful pandas re-simulation of the reference's per-symbol
loops (`transform_trading_signals.py` semantics) on a seeded OHLCV
fixture. The pandas side recomputes indicators independently with
pandas primitives, so this also cross-checks compute_indicators.

The nine per-strategy Spark functions below are the definitional
reference for the fused plan (``_fused_lag_signals``) that serves
those strategies in the package."""

from __future__ import annotations

import random
import sys
from datetime import date, timedelta
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from fin_trade_craft_spark.domain import trading_signals as TS  # noqa: E402
from fin_trade_craft_spark.domain.indicators import compute_indicators  # noqa: E402
from fin_trade_craft_spark.domain.trading_signals import _dropna, _emit, _w  # noqa: E402
from fin_trade_craft_spark.operators.signals import zone_confirmation_signals  # noqa: E402


# --- per-strategy reference functions (one dropna + lag + emit plan
# each, reference lines cited per strategy)

def ema_crossover(feat: DataFrame) -> DataFrame:
    """`:221-267` — EMA8×EMA21 cross; strength=min(100,|Δ|/ema21·100)."""
    d = _dropna(feat, ["ohlcv_ema_8", "ohlcv_ema_21"])
    w = _w()
    e8, e21 = F.col("ohlcv_ema_8"), F.col("ohlcv_ema_21")
    p8, p21 = F.lag(e8).over(w), F.lag(e21).over(w)
    buy = (p8 <= p21) & (e8 > e21)
    sell = (p8 >= p21) & (e8 < e21)
    strength = F.least(F.lit(100.0), F.abs(e8 - e21) / e21 * 100)
    return _emit(d, "ema_crossover", buy, sell, strength)


def rsi_mean_reversion(feat: DataFrame) -> DataFrame:
    """`:269-313` — RSI14 crosses 30↑ / 70↓."""
    d = _dropna(feat, ["ohlcv_rsi_14"])
    w = _w()
    rsi, prev = F.col("ohlcv_rsi_14"), F.lag("ohlcv_rsi_14").over(w)
    buy = (prev <= 30) & (rsi > 30)
    sell = (prev >= 70) & (rsi < 70)
    strength = F.when(buy, rsi).otherwise(100 - rsi)
    return _emit(d, "rsi_mean_reversion", buy, sell, strength)


def rsi_crossing(feat: DataFrame) -> DataFrame:
    """`:315-384` — zone-confirmed crossing (see operators.signals.
    zone_confirmation_signals for the de-stating proof)."""
    d = _dropna(feat, ["ohlcv_rsi_14"])
    buy, sell = zone_confirmation_signals(F.col("ohlcv_rsi_14"), _w())
    rsi = F.col("ohlcv_rsi_14")
    strength = F.when(buy, rsi).otherwise(100 - rsi)
    return _emit(d, "rsi_crossing", buy, sell, strength)


def macd_histogram_reversal(feat: DataFrame) -> DataFrame:
    """`:386-430` — histogram zero-cross; strength=min(100,|hist|·10)."""
    d = _dropna(feat, ["ohlcv_macd_histogram"])
    w = _w()
    h, ph = F.col("ohlcv_macd_histogram"), F.lag("ohlcv_macd_histogram").over(w)
    buy = (ph <= 0) & (h > 0)
    sell = (ph >= 0) & (h < 0)
    strength = F.least(F.lit(100.0), F.abs(h) * 10)
    return _emit(d, "macd_histogram_reversal", buy, sell, strength)


def bollinger_breakout(feat: DataFrame) -> DataFrame:
    """`:432-481` — close breaks above upper / below lower band."""
    d = _dropna(feat, ["close", "ohlcv_bb_upper", "ohlcv_bb_lower"])
    w = _w()
    c, u, lo = F.col("close"), F.col("ohlcv_bb_upper"), F.col("ohlcv_bb_lower")
    pc, pu, pl = F.lag(c).over(w), F.lag(u).over(w), F.lag(lo).over(w)
    buy = (pc <= pu) & (c > u)
    sell = (pc >= pl) & (c < lo)
    strength = F.when(buy, F.least(F.lit(100.0), (c - u) / u * 100)).otherwise(
        F.least(F.lit(100.0), (lo - c) / lo * 100)
    )
    return _emit(d, "bollinger_breakout", buy, sell, strength)


def volume_spike(feat: DataFrame) -> DataFrame:
    """`:483-536` — volume > 2×SMA20 with ±2% price move. Zero-avg
    rows can't fire (null-safe division) but still serve as the
    prev row for the next bar, matching the reference's
    ``continue``."""
    d = _dropna(feat, ["close", "volume", "ohlcv_volume_sma_20"])
    w = _w()
    vr = F.col("volume") / F.col("ohlcv_volume_sma_20")
    chg = (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w) * 100
    buy = (vr > 2.0) & (chg > 2.0)
    sell = (vr > 2.0) & (chg < -2.0)
    strength = F.least(F.lit(100.0), vr * 10)
    return _emit(d, "volume_spike", buy, sell, strength)


def williams_extremes(feat: DataFrame) -> DataFrame:
    """`:538-582` — %R crosses −80↑ / −20↓; strength=min(100,|%R+50|·2)."""
    d = _dropna(feat, ["ohlcv_willr_14"])
    w = _w()
    r, pr = F.col("ohlcv_willr_14"), F.lag("ohlcv_willr_14").over(w)
    buy = (pr <= -80) & (r > -80)
    sell = (pr >= -20) & (r < -20)
    strength = F.least(F.lit(100.0), F.abs(r + 50) * 2)
    return _emit(d, "williams_extremes", buy, sell, strength)


def ma_ribbon(feat: DataFrame) -> DataFrame:
    """`:584-629` — stateless full alignment close>sma5>10>20>50."""
    d = _dropna(feat, ["close", "ohlcv_sma_5", "ohlcv_sma_10", "ohlcv_sma_20", "ohlcv_sma_50"])
    c = F.col("close")
    s5, s10, s20, s50 = (F.col(f"ohlcv_sma_{n}") for n in (5, 10, 20, 50))
    buy = (c > s5) & (s5 > s10) & (s10 > s20) & (s20 > s50)
    sell = (c < s5) & (s5 < s10) & (s10 < s20) & (s20 < s50)
    strength = F.when(buy, F.least(F.lit(100.0), (c - s50) / s50 * 100)).otherwise(
        F.least(F.lit(100.0), (s50 - c) / s50 * 100)
    )
    return _emit(d, "ma_ribbon", buy, sell, strength)


def trend_following(feat: DataFrame) -> DataFrame:
    """`:754-799` — stateless close>sma50 & ema8>ema21 & rsi>50."""
    d = _dropna(feat, ["close", "ohlcv_sma_50", "ohlcv_ema_8", "ohlcv_ema_21", "ohlcv_rsi_14"])
    c, s50 = F.col("close"), F.col("ohlcv_sma_50")
    e8, e21, rsi = F.col("ohlcv_ema_8"), F.col("ohlcv_ema_21"), F.col("ohlcv_rsi_14")
    buy = (c > s50) & (e8 > e21) & (rsi > 50)
    sell = (c < s50) & (e8 < e21) & (rsi < 50)
    strength = F.when(buy, F.least(F.lit(100.0), rsi)).otherwise(F.least(F.lit(100.0), 100 - rsi))
    return _emit(d, "trend_following", buy, sell, strength)


PER_STRATEGY = {
    f.__name__: f
    for f in (
        ema_crossover,
        rsi_mean_reversion,
        rsi_crossing,
        macd_histogram_reversal,
        bollinger_breakout,
        volume_spike,
        williams_extremes,
        ma_ribbon,
        trend_following,
    )
}
STRATEGY_NAMES = {*PER_STRATEGY, "price_breakout", "rsi_divergence"}


def _fixture_pdf(n_symbols=3, n_days=300, seed=42) -> pd.DataFrame:
    rng = random.Random(seed)
    rows = []
    d0 = date(2022, 1, 3)
    for sid in range(1, n_symbols + 1):
        c = 50.0 * (1 + sid)
        for i in range(n_days):
            drift = 0.0008 * (1 if sid % 2 else -1)
            shock = rng.gauss(drift, 0.02)
            # inject occasional big moves + volume spikes
            if rng.random() < 0.04:
                shock += rng.choice([-0.06, 0.06])
            c = max(1.0, c * (1 + shock))
            h = c * (1 + abs(rng.gauss(0, 0.008)))
            lo = c * (1 - abs(rng.gauss(0, 0.008)))
            o = lo + rng.random() * (h - lo)
            v = int(rng.lognormvariate(11, 0.4))
            if rng.random() < 0.03:
                v *= 4
            rows.append(
                (sid, f"SYM{sid:03d}", d0 + timedelta(days=int(i * 1.4)), round(o, 4),
                 round(h, 4), round(lo, 4), round(c, 4), v)
            )
    return pd.DataFrame(rows, columns=["symbol_id", "symbol", "date", "open", "high", "low", "close", "volume"])


def _pandas_features(pdf: pd.DataFrame) -> pd.DataFrame:
    """Independent pandas recomputation of the features the
    strategies consume (reference formulas)."""
    out = []
    for _, g in pdf.groupby("symbol_id"):
        g = g.sort_values("date").reset_index(drop=True).copy()
        close, high, low, vol = g["close"], g["high"], g["low"], g["volume"]
        for n in (5, 10, 20, 50):
            g[f"ohlcv_sma_{n}"] = close.rolling(n).mean()
        for n in (8, 21):
            g[f"ohlcv_ema_{n}"] = close.ewm(span=n).mean()
        delta = close.diff()
        ag = delta.clip(lower=0).ewm(alpha=1 / 14, min_periods=14).mean()
        al = (-delta).clip(lower=0).ewm(alpha=1 / 14, min_periods=14).mean()
        g["ohlcv_rsi_14"] = 100 - 100 / (1 + ag / al)
        macd = close.ewm(span=12).mean() - close.ewm(span=26).mean()
        g["ohlcv_macd_histogram"] = macd - macd.ewm(span=9).mean()
        mid = close.rolling(20).mean()
        std = close.rolling(20).std(ddof=0)
        g["ohlcv_bb_upper"] = mid + 2 * std
        g["ohlcv_bb_lower"] = mid - 2 * std
        hh, ll = high.rolling(14).max(), low.rolling(14).min()
        g["ohlcv_willr_14"] = -100 * (hh - close) / (hh - ll)
        g["ohlcv_volume_sma_20"] = vol.rolling(20).mean()
        out.append(g)
    return pd.concat(out, ignore_index=True)


def _sim_crossover(g, col_fast, col_slow, strategy, strength_fn):
    """Generic reference loop: dropna → iterate → prev/curr compare."""
    sig = []
    d = g.dropna(subset=[col_fast, col_slow]).reset_index(drop=True)
    for i in range(1, len(d)):
        pf, ps = d.loc[i - 1, col_fast], d.loc[i - 1, col_slow]
        cf, cs = d.loc[i, col_fast], d.loc[i, col_slow]
        if pf <= ps and cf > cs:
            sig.append((d.loc[i, "date"], True, False, strength_fn(d.loc[i], True)))
        elif pf >= ps and cf < cs:
            sig.append((d.loc[i, "date"], False, True, strength_fn(d.loc[i], False)))
    return [(s[0], strategy, s[1], s[2], s[3]) for s in sig]


def _pandas_signals(feat: pd.DataFrame) -> set:
    """Reference-loop simulation of all 11 strategies."""
    got = set()
    for sid, g in feat.groupby("symbol_id"):
        g = g.sort_values("date").reset_index(drop=True)

        def add(date_, strat, b, s, st):
            got.add((sid, pd.Timestamp(date_), strat, b, s, round(float(st), 6)))

        # ema_crossover
        for r in _sim_crossover(
            g, "ohlcv_ema_8", "ohlcv_ema_21", "ema_crossover",
            lambda row, b: min(100, abs(row["ohlcv_ema_8"] - row["ohlcv_ema_21"]) / row["ohlcv_ema_21"] * 100),
        ):
            add(*r)
        # rsi_mean_reversion + rsi_crossing
        d = g.dropna(subset=["ohlcv_rsi_14"]).reset_index(drop=True)
        in_low = in_high = False
        for i in range(len(d)):
            rsi = d.loc[i, "ohlcv_rsi_14"]
            prev = d.loc[i - 1, "ohlcv_rsi_14"] if i > 0 else None
            if i > 0:
                if prev <= 30 and rsi > 30:
                    add(d.loc[i, "date"], "rsi_mean_reversion", True, False, rsi)
                elif prev >= 70 and rsi < 70:
                    add(d.loc[i, "date"], "rsi_mean_reversion", False, True, 100 - rsi)
            if rsi <= 30:
                in_low, in_high = True, False
            elif rsi >= 70:
                in_high, in_low = True, False
            elif in_low and rsi > 30:
                if i > 0 and prev <= 30:
                    add(d.loc[i, "date"], "rsi_crossing", True, False, rsi)
                    in_low = False
            elif in_high and rsi < 70:
                if i > 0 and prev >= 70:
                    add(d.loc[i, "date"], "rsi_crossing", False, True, 100 - rsi)
                    in_high = False
        # macd_histogram_reversal
        d = g.dropna(subset=["ohlcv_macd_histogram"]).reset_index(drop=True)
        for i in range(1, len(d)):
            ph, h = d.loc[i - 1, "ohlcv_macd_histogram"], d.loc[i, "ohlcv_macd_histogram"]
            if ph <= 0 and h > 0:
                add(d.loc[i, "date"], "macd_histogram_reversal", True, False, min(100, abs(h) * 10))
            elif ph >= 0 and h < 0:
                add(d.loc[i, "date"], "macd_histogram_reversal", False, True, min(100, abs(h) * 10))
        # bollinger_breakout
        d = g.dropna(subset=["close", "ohlcv_bb_upper", "ohlcv_bb_lower"]).reset_index(drop=True)
        for i in range(1, len(d)):
            pc, c = d.loc[i - 1, "close"], d.loc[i, "close"]
            pu, u = d.loc[i - 1, "ohlcv_bb_upper"], d.loc[i, "ohlcv_bb_upper"]
            pl, lo = d.loc[i - 1, "ohlcv_bb_lower"], d.loc[i, "ohlcv_bb_lower"]
            if pc <= pu and c > u:
                add(d.loc[i, "date"], "bollinger_breakout", True, False, min(100, (c - u) / u * 100))
            elif pc >= pl and c < lo:
                add(d.loc[i, "date"], "bollinger_breakout", False, True, min(100, (lo - c) / lo * 100))
        # volume_spike
        d = g.dropna(subset=["close", "volume", "ohlcv_volume_sma_20"]).reset_index(drop=True)
        for i in range(1, len(d)):
            av = d.loc[i, "ohlcv_volume_sma_20"]
            if av == 0:
                continue
            vr = d.loc[i, "volume"] / av
            chg = (d.loc[i, "close"] - d.loc[i - 1, "close"]) / d.loc[i - 1, "close"] * 100
            if vr > 2.0 and chg > 2.0:
                add(d.loc[i, "date"], "volume_spike", True, False, min(100, vr * 10))
            elif vr > 2.0 and chg < -2.0:
                add(d.loc[i, "date"], "volume_spike", False, True, min(100, vr * 10))
        # williams_extremes
        d = g.dropna(subset=["ohlcv_willr_14"]).reset_index(drop=True)
        for i in range(1, len(d)):
            pr, r = d.loc[i - 1, "ohlcv_willr_14"], d.loc[i, "ohlcv_willr_14"]
            if pr <= -80 and r > -80:
                add(d.loc[i, "date"], "williams_extremes", True, False, min(100, abs(r + 50) * 2))
            elif pr >= -20 and r < -20:
                add(d.loc[i, "date"], "williams_extremes", False, True, min(100, abs(r + 50) * 2))
        # ma_ribbon / trend_following (stateless)
        d = g.dropna(subset=["close", "ohlcv_sma_5", "ohlcv_sma_10", "ohlcv_sma_20", "ohlcv_sma_50"]).reset_index(drop=True)
        for i in range(len(d)):
            c = d.loc[i, "close"]
            s5, s10, s20, s50 = (d.loc[i, f"ohlcv_sma_{n}"] for n in (5, 10, 20, 50))
            if c > s5 > s10 > s20 > s50:
                add(d.loc[i, "date"], "ma_ribbon", True, False, min(100, (c - s50) / s50 * 100))
            elif c < s5 < s10 < s20 < s50:
                add(d.loc[i, "date"], "ma_ribbon", False, True, min(100, (s50 - c) / s50 * 100))
        d = g.dropna(subset=["close", "ohlcv_sma_50", "ohlcv_ema_8", "ohlcv_ema_21", "ohlcv_rsi_14"]).reset_index(drop=True)
        for i in range(len(d)):
            c, s50 = d.loc[i, "close"], d.loc[i, "ohlcv_sma_50"]
            e8, e21, rsi = d.loc[i, "ohlcv_ema_8"], d.loc[i, "ohlcv_ema_21"], d.loc[i, "ohlcv_rsi_14"]
            if c > s50 and e8 > e21 and rsi > 50:
                add(d.loc[i, "date"], "trend_following", True, False, min(100, rsi))
            elif c < s50 and e8 < e21 and rsi < 50:
                add(d.loc[i, "date"], "trend_following", False, True, min(100, 100 - rsi))
        # price_breakout
        d = g.dropna(subset=["high", "low"]).reset_index(drop=True).copy()
        d["h20"] = d["high"].rolling(20).max()
        d["l20"] = d["low"].rolling(20).min()
        d = d.dropna(subset=["h20", "l20"]).reset_index(drop=True)
        for i in range(1, len(d)):
            ph, pl = d.loc[i - 1, "h20"], d.loc[i - 1, "l20"]
            if d.loc[i, "high"] > ph:
                add(d.loc[i, "date"], "price_breakout", True, False, min(100, (d.loc[i, "high"] - ph) / ph * 100))
            elif d.loc[i, "low"] < pl:
                add(d.loc[i, "date"], "price_breakout", False, True, min(100, (pl - d.loc[i, "low"]) / pl * 100))
        # rsi_divergence
        d = g.dropna(subset=["close", "ohlcv_rsi_14"]).reset_index(drop=True).copy()
        if len(d) >= 20:
            d["plow"] = d["close"].rolling(5, center=True).min() == d["close"]
            d["phigh"] = d["close"].rolling(5, center=True).max() == d["close"]
            lows, highs = d[d["plow"]], d[d["phigh"]]
            for i in range(1, len(lows)):
                cp, pp = lows.iloc[i]["close"], lows.iloc[i - 1]["close"]
                cr, prr = lows.iloc[i]["ohlcv_rsi_14"], lows.iloc[i - 1]["ohlcv_rsi_14"]
                if cp < pp and cr > prr:
                    add(lows.iloc[i]["date"], "rsi_divergence", True, False, min(100, cr - prr))
            for i in range(1, len(highs)):
                cp, pp = highs.iloc[i]["close"], highs.iloc[i - 1]["close"]
                cr, prr = highs.iloc[i]["ohlcv_rsi_14"], highs.iloc[i - 1]["ohlcv_rsi_14"]
                if cp > pp and cr < prr:
                    add(highs.iloc[i]["date"], "rsi_divergence", False, True, min(100, prr - cr))
    return got


@pytest.fixture(scope="module")
def fixture_features(spark):
    pdf = _fixture_pdf()
    sdf = spark.createDataFrame(pdf)
    feat = compute_indicators(sdf)
    return pdf, feat


def test_indicators_match_pandas(fixture_features, spark):
    pdf, feat = fixture_features
    got = feat.toPandas().sort_values(["symbol_id", "date"]).reset_index(drop=True)
    want = _pandas_features(pdf).sort_values(["symbol_id", "date"]).reset_index(drop=True)
    for col in ["ohlcv_sma_20", "ohlcv_ema_8", "ohlcv_ema_21", "ohlcv_rsi_14",
                "ohlcv_macd_histogram", "ohlcv_bb_upper", "ohlcv_bb_lower",
                "ohlcv_willr_14", "ohlcv_volume_sma_20"]:
        a, b = got[col].astype(float), want[col].astype(float)
        diff = (a - b).abs()
        assert ((a.isna() & b.isna()) | (diff < 1e-8)).all(), f"{col}: max diff {diff.max()}"


def test_all_strategies_match_reference_loops(fixture_features, spark):
    pdf, feat = fixture_features
    spark_rows = TS.all_signals(feat).collect()
    got = {
        (r.symbol_id, pd.Timestamp(r.date), r.trade_strategy, r.buy_signal, r.sell_signal,
         round(float(r.signal_strength), 6))
        for r in spark_rows
    }
    want = _pandas_signals(_pandas_features(pdf))
    missing = want - got
    extra = got - want
    assert not missing and not extra, (
        f"missing={sorted(missing)[:5]} extra={sorted(extra)[:5]} "
        f"(n_missing={len(missing)}, n_extra={len(extra)}, n_want={len(want)})"
    )
    # every strategy must actually fire on the fixture
    fired = {t[2] for t in want}
    assert fired == STRATEGY_NAMES, f"strategies not exercised: {STRATEGY_NAMES - fired}"


def test_fused_lag_signals_matches_per_strategy_union(spark):
    """The nine lag-based/stateless strategies run fused (one window
    pass + inline) — prove bit-exact row equality against the
    per-strategy reference functions on an adversarial frame: warmup
    nulls, interior mask gaps (the masked-lag must skip them exactly
    like each strategy's dropna+lag), zero divisors, both-signal
    rows, a single-row symbol, and an all-null-indicator symbol."""
    from functools import reduce

    rng = random.Random(20260818)
    cols = [
        "close", "high", "low", "volume",
        "ohlcv_sma_5", "ohlcv_sma_10", "ohlcv_sma_20", "ohlcv_sma_50",
        "ohlcv_ema_8", "ohlcv_ema_21", "ohlcv_rsi_14",
        "ohlcv_macd_histogram", "ohlcv_bb_upper", "ohlcv_bb_lower",
        "ohlcv_volume_sma_20", "ohlcv_willr_14",
    ]
    rows = []
    d0 = date(2024, 1, 1)

    def val(name):
        if name == "volume":
            return float(rng.randint(0, 500))
        if name == "ohlcv_rsi_14":
            return rng.uniform(0, 100)
        if name == "ohlcv_willr_14":
            return rng.uniform(-100, 0)
        if name == "ohlcv_macd_histogram":
            return rng.uniform(-1, 1)
        return rng.uniform(1, 120)

    for sym in range(1, 5):
        for i in range(120):
            row = {"symbol": f"S{sym}", "symbol_id": sym, "date": d0 + timedelta(days=i)}
            for name in cols:
                x = val(name)
                if i < 5 and rng.random() < 0.8:
                    x = None  # warmup nulls
                elif rng.random() < 0.12:
                    x = None  # interior mask gaps
                elif rng.random() < 0.05:
                    x = 0.0  # zero divisors (e21, bands, sma50, vsma20)
                row[name] = x
            rows.append(row)
    rows.append({"symbol": "S9", "symbol_id": 9, "date": d0,
                 **{c: val(c) for c in cols}})  # single-row symbol
    for i in range(3):  # all-null-indicator symbol
        rows.append({"symbol": "S8", "symbol_id": 8, "date": d0 + timedelta(days=i),
                     **{c: None for c in cols}})

    schema = (
        "symbol string, symbol_id long, date date, "
        + ", ".join(f"{c} double" for c in cols)
    )
    feat = spark.createDataFrame(
        [tuple(r.get(k) for k in
               ["symbol", "symbol_id", "date"] + cols) for r in rows],
        schema,
    )

    fused = TS._fused_lag_signals(feat).collect()
    union9 = reduce(
        lambda a, b: a.unionByName(b),
        (PER_STRATEGY[n](feat) for n in sorted(PER_STRATEGY)),
    ).collect()

    def key(r):
        # EXACT float equality — the fused path must be bit-identical
        return (r.symbol_id, r.date, r.trade_strategy, r.buy_signal,
                r.sell_signal, r.signal_strength)

    got, want = sorted(map(key, fused)), sorted(map(key, union9))
    assert got == want, (
        f"n_fused={len(got)} n_union={len(want)} "
        f"first_diff={next((a, b) for a, b in zip(got, want) if a != b) if len(got) == len(want) else 'len'}"
    )
    assert len(got) > 100  # the fixture actually fires signals
    assert {t[2] for t in got} == set(PER_STRATEGY)  # every fused strategy fires
