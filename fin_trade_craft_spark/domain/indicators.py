"""Technical-indicator engine — the Spark re-expression of
``transforms/transform_time_series_daily_adjusted.py`` (reference
lines cited per block). Produces the ``transforms.
time_series_daily_adjusted`` wide table: OHLCV + ~54 ``ohlcv_*``
features + 20 ``target_*`` columns.

Execution shape (100 TB stance): ONE shuffle on ``symbol_id``
serves everything — the EWM pandas island runs partition-batched
(``operators.ewm.grouped_map``: repartition on symbol_id +
``mapInPandas``, one grouped-pandas kernel per frame of whole
symbols) and every subsequent window reuses that clustering; all
non-recurrent features are JVM window expressions inside
whole-stage codegen. The reference instead loops
symbols in Python under multiprocessing (`:755-791`) — here that
parallelism is task scheduling.

Formula provenance: EMA = pandas ``ewm(span, adjust=True)`` exactly
as the reference calls it (`:189-202`). RSI/MACD/ATR reproduce the
pandas_ta formulas the reference consumes (`ta.rsi/macd/atr`):
Wilder RMA = ``ewm(alpha=1/n, min_periods=n)``; MACD =
EMA12−EMA26, signal EMA9. pandas_ta is not installable in this
environment, so its exact warmup variants can't be diffed — the
recurrences implemented here are pinned by tests/test_ewm.py
against pandas itself and documented as this engine's contract.

``safe_divide`` parity (`:152-158`): the reference maps ±inf→NaN;
Spark double division yields NULL on zero divisors — both encode
"missing", and flag columns replicate the reference's fillna
behavior before comparisons.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

MA_PERIODS = (5, 10, 20, 50)
EMA_PERIODS = (8, 21, 34, 55)
RSI_PERIODS = (7, 14)
ATR_PERIODS = (10, 14)
TARGET_HORIZONS = (5, 10, 20, 30, 40)


def signal_partitions(spark) -> int:
    """Width of the symbol-partitioned bar and feature frames: a
    quarter of the session's parallelism. The pipeline fans out into
    ~40 window stages over the persisted feature frame, whose
    partitioning bypasses AQE coalescing; at fixture scale (150
    symbols, ~4k bars) full-parallelism partitioning means 4x task
    overhead for no gain (measured 45s → 13s). At production scale
    the symbol_bucket layout (SCALING.md) governs this instead."""
    return max(1, spark.sparkContext.defaultParallelism // 4)


def _ewm_island_schema(df: DataFrame) -> StructType:
    feats = [f"ohlcv_ema_{n}" for n in EMA_PERIODS]
    feats += ["ohlcv_macd", "ohlcv_macd_signal", "ohlcv_macd_histogram"]
    feats += [f"ohlcv_rsi_{n}" for n in RSI_PERIODS]
    feats += [f"ohlcv_atr_{n}" for n in ATR_PERIODS]
    return StructType(list(df.schema.fields) + [StructField(f, DoubleType()) for f in feats])


def _ewm_island_kernel(schema, order: str):
    """The island kernel: every EWM-family recurrence for all the
    symbols of one frame, through pandas' GROUPED window C kernels.
    ``groupby().ewm()`` evaluates the same cython ``ewma`` kernel per
    group slice that ``Series.ewm`` runs per series, so the results
    are bit-identical to the reference's per-symbol ``Series.ewm``
    (`:189-202`; pinned by the tests/test_ewm.py differential) at
    ~25 grouped C calls per frame instead of ~40 pandas calls per
    symbol. Alignment contract: the frame is sorted by (key, order),
    so groupby(sort=False) window results come back in frame order."""

    def kernel(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            ["symbol_id", order], kind="stable", na_position="last"
        ).reset_index(drop=True)
        gb = pdf.groupby("symbol_id", sort=False, dropna=False)
        close = pdf["close"].astype(float)
        work = pdf[["symbol_id"]].copy()
        work["__close"] = close
        delta = gb["close"].diff().reset_index(drop=True).astype(float)
        work["__gain"] = delta.clip(lower=0)
        work["__loss"] = (-delta).clip(lower=0)
        high, low = pdf["high"].astype(float), pdf["low"].astype(float)
        prev_close = gb["close"].shift(1).reset_index(drop=True).astype(float)
        work["__tr"] = pd.concat(
            [high - low, (high - prev_close).abs(), (low - prev_close).abs()], axis=1
        ).max(axis=1)
        gw = work.groupby("symbol_id", sort=False, dropna=False)

        def gewm(col, **kw):
            # keep pandas Series (RangeIndex-aligned to pdf): Series
            # arithmetic gives the same floats as ndarray arithmetic
            # but without numpy's 0/0 RuntimeWarning spam on the RSI
            # division in worker stderr
            return gw[col].ewm(**kw).mean().reset_index(drop=True)

        for n in EMA_PERIODS:
            pdf[f"ohlcv_ema_{n}"] = gewm("__close", span=n)
        macd = gewm("__close", span=12) - gewm("__close", span=26)
        work["__macd"] = macd
        # second groupby: __macd is derived from the first round of
        # grouped scans, so it lands in the work frame after gw was
        # built — groupby objects snapshot their frame at creation
        gw2 = work.groupby("symbol_id", sort=False, dropna=False)
        sig = gw2["__macd"].ewm(span=9).mean().reset_index(drop=True)
        pdf["ohlcv_macd"] = macd
        pdf["ohlcv_macd_signal"] = sig
        pdf["ohlcv_macd_histogram"] = macd - sig
        for n in RSI_PERIODS:
            avg_gain = gewm("__gain", alpha=1.0 / n, min_periods=n)
            avg_loss = gewm("__loss", alpha=1.0 / n, min_periods=n)
            pdf[f"ohlcv_rsi_{n}"] = 100.0 - 100.0 / (1.0 + avg_gain / avg_loss)
        for n in ATR_PERIODS:
            pdf[f"ohlcv_atr_{n}"] = gewm("__tr", alpha=1.0 / n, min_periods=n)
        return pdf[[f.name for f in schema.fields]]

    return kernel


def _ewm_island(df: DataFrame, order: str) -> DataFrame:
    """One pandas island for every EWM-family recurrence (SURVEY
    W2/W3/W4/W6) — EMA, MACD, Wilder RSI, ATR."""
    schema = _ewm_island_schema(df)

    from ..operators.ewm import grouped_map

    return grouped_map(df, "symbol_id", _ewm_island_kernel(schema, order), schema)


def compute_indicators(ohlcv: DataFrame) -> DataFrame:
    """ohlcv: (symbol_id, symbol, date, open, high, low, close,
    adjusted_close?, volume, ...) → wide feature frame."""
    w = Window.partitionBy("symbol_id").orderBy("date")
    df = _ewm_island(ohlcv, "date")
    # Re-establish the symbol clustering explicitly after the island:
    # mapInPandas reports UnknownPartitioning, so EnsureRequirements
    # would insert this exact exchange anyway (at
    # spark.sql.shuffle.partitions wide, or AQE-coalesced). Making it
    # explicit pins the window-stage width to signal_partitions (the
    # width market_bars uses), and all_signals' cached feature frame
    # keeps this partitioning for its strategy windows (see
    # trading_signals.all_signals). The shuffle count is unchanged
    # either way; only its width is pinned.
    df = df.repartition(signal_partitions(ohlcv.sparkSession), "symbol_id")
    close, volume = F.col("close"), F.col("volume")

    def frame(n):
        return w.rowsBetween(-(n - 1), 0)

    def minp(col, n, expr):
        return F.when(F.count(col).over(frame(n)) >= n, expr)

    def safe_div(num, den):
        return F.when(den != 0, num / den)  # ref inf→NaN ≈ NULL

    cols = []
    # --- trend (`:176-202`)
    for n in MA_PERIODS:
        sma = minp(close, n, F.avg(close).over(frame(n)))
        cols += [sma.alias(f"ohlcv_sma_{n}")]
    # --- momentum: ROC (pandas_ta roc = 100·(close/lag −1), `:251-253`)
    # zero-base guard: NULL, the engine's missing encoding (pandas
    # would give ±inf; ANSI Spark would throw)
    for n in (10, 20):
        base = F.lag(close, n).over(w)
        cols += [
            F.when(base != 0, F.lit(100.0) * (close / base - 1)).alias(f"ohlcv_roc_{n}")
        ]
    # Williams %R 14 (`:255-259`); flat-window (hh==ll) → NULL
    hh = minp(close, 14, F.max("high").over(frame(14)))
    ll = minp(close, 14, F.min("low").over(frame(14)))
    cols += [F.when(hh != ll, F.lit(-100.0) * (hh - close) / (hh - ll)).alias("ohlcv_willr_14")]
    # --- volatility: Bollinger 20,2 population-std (`:296-312`) —
    # the band math lives in the second stage (bb_upper/lower gate on
    # bb_middle's min-period NULL)
    bb_mid = minp(close, 20, F.avg(close).over(frame(20)))
    # --- volume (`:315-358`)
    prev_close = F.lag(close).over(w)
    obv_sign = (
        F.when(prev_close.isNull(), 1).when(close > prev_close, 1).when(close < prev_close, -1).otherwise(0)
    )
    obv = F.sum((obv_sign * volume).cast("double")).over(w.rowsBetween(Window.unboundedPreceding, 0))
    mfm = safe_div((close - F.col("low")) - (F.col("high") - close), F.col("high") - F.col("low"))
    mfv = mfm * volume
    vol20 = F.sum(volume.cast("double")).over(frame(20))
    cmf = minp(close, 20, F.when(vol20 != 0, F.sum(mfv).over(frame(20)) / vol20))
    ad = F.sum(F.coalesce(mfv, F.lit(0.0))).over(w.rowsBetween(Window.unboundedPreceding, 0))
    vsma20 = minp(volume, 20, F.avg(volume).over(frame(20)))
    vsma50 = minp(volume, 50, F.avg(volume).over(frame(50)))
    cols += [
        bb_mid.alias("ohlcv_bb_middle"),
        obv.alias("ohlcv_obv"),
        cmf.alias("ohlcv_cmf"),
        ad.alias("ohlcv_ad"),
        vsma20.alias("ohlcv_volume_sma_20"),
        vsma50.alias("ohlcv_volume_sma_50"),
    ]
    df = df.select("*", *cols)

    # second projection: features derived from first-round features
    d2 = []
    for n in MA_PERIODS:
        d2 += [safe_div(close, F.col(f"ohlcv_sma_{n}")).alias(f"ohlcv_sma_{n}_ratio")]
    for n in EMA_PERIODS:
        d2 += [safe_div(close, F.col(f"ohlcv_ema_{n}")).alias(f"ohlcv_ema_{n}_ratio")]
    ema8, ema21 = F.col("ohlcv_ema_8"), F.col("ohlcv_ema_21")
    d2 += [
        (F.coalesce(ema8, F.lit(0.0)) > F.coalesce(ema21, F.lit(0.0))).cast("int").alias("ohlcv_ema_8_21_cross"),
        safe_div(ema8, ema21).alias("ohlcv_ema_8_21_ratio"),
    ]
    for n in RSI_PERIODS:
        rsi_f = F.coalesce(F.col(f"ohlcv_rsi_{n}"), F.lit(50.0))
        d2 += [
            (rsi_f < 30).cast("int").alias(f"ohlcv_rsi_{n}_oversold"),
            (rsi_f > 70).cast("int").alias(f"ohlcv_rsi_{n}_overbought"),
        ]
    d2 += [
        (F.coalesce(F.col("ohlcv_macd"), F.lit(0.0)) > F.coalesce(F.col("ohlcv_macd_signal"), F.lit(0.0)))
        .cast("int")
        .alias("ohlcv_macd_bullish")
    ]
    for n in ATR_PERIODS:
        d2 += [(F.lit(100.0) * safe_div(F.col(f"ohlcv_atr_{n}"), close)).alias(f"ohlcv_atr_{n}_pct")]
    bb_sd20 = F.stddev_pop(close).over(frame(20))
    bb_u = F.col("ohlcv_bb_middle") + 2 * bb_sd20
    bb_l = F.col("ohlcv_bb_middle") - 2 * bb_sd20
    bb_u = F.when(F.col("ohlcv_bb_middle").isNotNull(), bb_u)
    bb_l = F.when(F.col("ohlcv_bb_middle").isNotNull(), bb_l)
    d2 += [
        bb_u.alias("ohlcv_bb_upper"),
        bb_l.alias("ohlcv_bb_lower"),
        safe_div(bb_u - bb_l, F.col("ohlcv_bb_middle")).alias("ohlcv_bb_width"),
        safe_div(close - bb_l, bb_u - bb_l).alias("ohlcv_bb_position"),
        safe_div(volume.cast("double"), F.col("ohlcv_volume_sma_20")).alias("ohlcv_volume_ratio"),
    ]
    # --- targets (`:362-410`)
    for h in TARGET_HORIZONS:
        fut = F.lead(close, h).over(w)
        pct = safe_div(fut - close, close)
        # ref: log(safe_divide(fut, close, fillvalue=1)) — only the
        # inf (div-by-zero) case maps to 1 (log 0); missing fut
        # stays missing
        log_ret = (
            F.when(fut.isNull(), F.lit(None).cast("double"))
            .when(close == 0, F.lit(0.0))
            .otherwise(F.log(fut / close))
        )
        d2 += [
            pct.alias(f"target_return_{h}d"),
            log_ret.alias(f"target_log_return_{h}d"),
            F.coalesce((pct > 0).cast("int"), F.lit(0)).alias(f"target_direction_{h}d"),
            F.when(pct <= -0.02, 0).when(pct <= 0.02, 1).when(pct.isNotNull(), 2)
            .alias(f"target_ternary_{h}d"),
        ]
    return df.select("*", *d2)
