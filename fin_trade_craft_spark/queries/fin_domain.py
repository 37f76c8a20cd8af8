"""Driver queries exercising the reference-facing domain engine on
the driver's test tables: events are resampled into daily OHLCV
bars per user (user≈symbol), then the full indicator + signal
pipeline runs on them.

Both are oracle-checked — including the FULL pipeline: the r06
oracle replays resample → indicators → all 11 strategies end-to-end
in SQL, bit-exact (see the block comment at _fin_signals_oracle;
tests/test_domain_signals.py additionally differentials the
indicator engine against a faithful re-simulation of the reference
loops)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dsum
from ..sources.catalog import load_table


def ohlcv_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick→bar resampling: per (user, day) open/high/low/close/
    volume (the time-series ingestion step of the fin pipeline).

    open/close are ``min_by``/``max_by`` on the (ts, event_id) tick
    order — a plain hash aggregate with map-side partial combine:
    ONE shuffle of pre-aggregated bars. The previous formulation
    ranked ticks with two row_number windows first, which shuffled
    and sorted every raw tick before aggregating; at 100 TB the
    difference is shuffling bars vs shuffling ticks."""
    ev = load_table(spark, sf_dir, "events")
    order = F.struct("ts", "event_id")
    return (
        ev.select("user_id", F.date_trunc("day", "ts").alias("date"), "ts", "event_id", "value")
        .groupBy("user_id", "date")
        .agg(
            F.min_by("value", order).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order).alias("close"),
            F.count(F.lit(1)).alias("volume"),
            dsum("value").alias("traded_value"),
        )
    )


ORACLE_OHLCV_RESAMPLE = """
WITH t AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS date, value,
    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn_a,
    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT user_id, date,
  MIN(CASE WHEN rn_a = 1 THEN value END) AS open,
  MAX(value) AS high,
  MIN(value) AS low,
  MIN(CASE WHEN rn_d = 1 THEN value END) AS close,
  COUNT(*) AS volume,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS traded_value
FROM t
GROUP BY user_id, date
"""


def market_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLCV bars in the reference's
    ``raw.time_series_daily_adjusted`` schema (symbol_id, symbol,
    date, O/H/L/C, volume), resampled from the events tick feed and
    repartitioned for the indicator fan-out. Shared by the flagship
    ``fin_signals_pipeline`` query and the orchestrated daily run
    (``plans.daily_run``)."""
    bars = ohlcv_resample(spark, sf_dir).select(
        F.col("user_id").alias("symbol_id"),
        F.concat(F.lit("USER"), F.col("user_id")).alias("symbol"),
        "date",
        "open",
        "high",
        "low",
        "close",
        F.col("volume").cast("long").alias("volume"),
    )
    from ..domain.indicators import signal_partitions

    return bars.repartition(signal_partitions(spark), "symbol_id")


def fin_signals_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full domain pipeline: resample → compute_indicators (54
    ohlcv_* + 20 target_* columns, EWM island included) →
    all 11 trading strategies. VALUE-VERIFIED end-to-end since r06
    (recursive-CTE EWM replays + in-order-fold SMAs + unrolled
    Welford Bollinger — the flagship query hash-matches its SQL
    oracle bit-for-bit)."""
    from ..domain.indicators import compute_indicators
    from ..domain.trading_signals import all_signals

    return all_signals(compute_indicators(market_bars(spark, sf_dir)))


# ------------------------------------------------------------------
# FULL-PIPELINE ORACLE (r06): resample → indicators → 11 strategies,
# replayed end-to-end in SQL. Every float op is written in the
# engine's exact order:
#
# - the EWM island (EMA 8/21, MACD 12/26/9, Wilder RSI 14) replays
#   via the recursive-CTE pandas-ewm kernel shared with
#   pandas_islands (one combined state row per bar);
# - windowed AVG replays as an in-order left fold (list() OVER the
#   frame + list_reduce) — probed bit-exact against Spark's
#   SlidingWindowFunctionFrame, which re-aggregates each frame
#   sequentially;
# - windowed STDDEV_POP replays as Spark's CentralMomentAgg Welford
#   recurrence (n'=n+1; δ=x−avg; δN=δ/n'; avg+=δN; m2+=δ·(δ−δN);
#   result √(m2/n)) unrolled over the 20 lag columns — the
#   m2+=δ·(x−avg') textbook variant is NOT bit-equal (probed);
# - MAX/MIN windows and integer-sum averages are order-exact
#   already; every scalar literal is in e0/CAST double form.
#
# Strategy semantics mirror domain/trading_signals exactly: each
# strategy filters its required columns non-null FIRST (Spark
# na.drop also drops NaN doubles, but every NaN the island can emit
# — EWM warmup, 0/0 RSI — arrives as NULL/NaN in the same rows the
# oracle computes NULL, so the surviving sets coincide), lags run
# over the filtered sequence, BUY wins ties, and only firing rows
# are emitted.
# ------------------------------------------------------------------


def _fin_signals_oracle() -> str:
    from .pandas_islands import _ewm_step, _owf

    one, z = "CAST(1.0 AS DOUBLE)", "CAST(0.0 AS DOUBLE)"
    # --- combined EWM-island recursion: state transition pieces
    w8, ow8 = _ewm_step("s.w8", "s.ow8", "r.close", _owf(span=8))
    w21, ow21 = _ewm_step("s.w21", "s.ow21", "r.close", _owf(span=21))
    w12, ow12 = _ewm_step("s.w12", "s.ow12", "r.close", _owf(span=12))
    w26, ow26 = _ewm_step("s.w26", "s.ow26", "r.close", _owf(span=26))
    sg, osg = _ewm_step("wq0", "oq0", "macd", _owf(span=9))
    rg, org_ = _ewm_step("wg0", "owg0", "g", _owf(alpha=1.0 / 14))
    rl, orl = _ewm_step("wl0", "owl0", "l", _owf(alpha=1.0 / 14))

    # --- 20-step unrolled Welford for stddev_pop over the 20-frame.
    # NESTED subqueries, one step per level: lateral column aliases
    # would make a20/m20 expand exponentially at plan time (the
    # first attempt hung DuckDB's planner); with real columns per
    # level the repeated (x_k − a_{k−1}) sub-expressions evaluate to
    # identical doubles (deterministic FP), so the op sequence still
    # matches Spark's CentralMomentAgg exactly.
    welford_inner = "SELECT * FROM bbx"
    for k in range(1, 21):
        a_prev = f"a{k - 1}" if k > 1 else z
        m_prev = f"m{k - 1}" if k > 1 else z
        kd = f"CAST({k} AS DOUBLE)"
        d = f"(x{k} - {a_prev})"
        welford_inner = (
            f"SELECT *, ({a_prev} + {d} / {kd}) AS a{k},\n"
            f"          ({m_prev} + {d} * ({d} - {d} / {kd})) AS m{k}\n"
            f"FROM ({welford_inner})"
        )
    lag_cols = ",\n         ".join(
        f"LAG(close, {19 - (k - 1)}) OVER (PARTITION BY symbol_id ORDER BY date) AS x{k}"
        if k < 20
        else f"close AS x{k}"
        for k in range(1, 21)
    )

    def fold_avg(col: str, n: int, q: str = "") -> str:
        fr = f"(PARTITION BY {q}symbol_id ORDER BY {q}date ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)"
        return (
            f"CASE WHEN COUNT({col}) OVER {fr} >= {n} THEN "
            f"list_reduce(list_prepend({z}, list({col}) OVER {fr}), (acc, v) -> acc + v)"
            f" / CAST(COUNT({col}) OVER {fr} AS DOUBLE) END"
        )

    def gated(col_fn: str, n: int, gate_col: str, q: str = "") -> str:
        fr = f"(PARTITION BY {q}symbol_id ORDER BY {q}date ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)"
        return f"CASE WHEN COUNT({gate_col}) OVER {fr} >= {n} THEN {col_fn} OVER {fr} END"

    smas = ",\n       ".join(f"{fold_avg('close', n, 'b.')} AS sma_{n}" for n in (5, 10, 20, 50))
    fr20 = "(PARTITION BY symbol_id ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)"
    fr20b = "(PARTITION BY b.symbol_id ORDER BY b.date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)"

    strategies = f"""
f_ema AS (
  SELECT *, LAG(ema_8) OVER wsy AS p8, LAG(ema_21) OVER wsy AS p21
  FROM feat WHERE ema_8 IS NOT NULL AND ema_21 IS NOT NULL
  WINDOW wsy AS (PARTITION BY symbol_id ORDER BY date)
),
s_ema AS (
  SELECT symbol, symbol_id, date,
         COALESCE(p8 <= p21 AND ema_8 > ema_21, FALSE) AS buy_signal,
         COALESCE((p8 >= p21 AND ema_8 < ema_21)
                  AND NOT COALESCE(p8 <= p21 AND ema_8 > ema_21, FALSE), FALSE) AS sell_signal,
         'ema_crossover' AS trade_strategy,
         LEAST(CAST(100.0 AS DOUBLE), ABS(ema_8 - ema_21) / ema_21 * 100) AS signal_strength
  FROM f_ema
),
f_rsi AS (
  SELECT *, LAG(rsi_14) OVER (PARTITION BY symbol_id ORDER BY date) AS prsi
  FROM feat WHERE rsi_14 IS NOT NULL
),
s_rsimr AS (
  SELECT symbol, symbol_id, date,
         COALESCE(prsi <= 30 AND rsi_14 > 30, FALSE) AS buy_signal,
         COALESCE((prsi >= 70 AND rsi_14 < 70)
                  AND NOT COALESCE(prsi <= 30 AND rsi_14 > 30, FALSE), FALSE) AS sell_signal,
         'rsi_mean_reversion' AS trade_strategy,
         CASE WHEN COALESCE(prsi <= 30 AND rsi_14 > 30, FALSE) THEN rsi_14 ELSE 100 - rsi_14 END AS signal_strength
  FROM f_rsi
),
s_rsix AS (
  SELECT symbol, symbol_id, date,
         COALESCE(prsi <= 30.0e0 AND rsi_14 > 30.0e0 AND rsi_14 < 70.0e0, FALSE) AS buy_signal,
         COALESCE((prsi >= 70.0e0 AND rsi_14 < 70.0e0 AND rsi_14 > 30.0e0)
                  AND NOT COALESCE(prsi <= 30.0e0 AND rsi_14 > 30.0e0 AND rsi_14 < 70.0e0, FALSE), FALSE) AS sell_signal,
         'rsi_crossing' AS trade_strategy,
         CASE WHEN COALESCE(prsi <= 30.0e0 AND rsi_14 > 30.0e0 AND rsi_14 < 70.0e0, FALSE)
              THEN rsi_14 ELSE 100 - rsi_14 END AS signal_strength
  FROM f_rsi
),
f_hist AS (
  SELECT *, LAG(macd_hist) OVER (PARTITION BY symbol_id ORDER BY date) AS ph
  FROM feat WHERE macd_hist IS NOT NULL
),
s_hist AS (
  SELECT symbol, symbol_id, date,
         COALESCE(ph <= 0 AND macd_hist > 0, FALSE) AS buy_signal,
         COALESCE((ph >= 0 AND macd_hist < 0)
                  AND NOT COALESCE(ph <= 0 AND macd_hist > 0, FALSE), FALSE) AS sell_signal,
         'macd_histogram_reversal' AS trade_strategy,
         LEAST(CAST(100.0 AS DOUBLE), ABS(macd_hist) * 10) AS signal_strength
  FROM f_hist
),
f_bb AS (
  SELECT *, LAG(close) OVER wsy AS pc, LAG(bb_u) OVER wsy AS pu, LAG(bb_l) OVER wsy AS pl
  FROM feat WHERE close IS NOT NULL AND bb_u IS NOT NULL AND bb_l IS NOT NULL
  WINDOW wsy AS (PARTITION BY symbol_id ORDER BY date)
),
s_bb AS (
  SELECT symbol, symbol_id, date,
         COALESCE(pc <= pu AND close > bb_u, FALSE) AS buy_signal,
         COALESCE((pc >= pl AND close < bb_l)
                  AND NOT COALESCE(pc <= pu AND close > bb_u, FALSE), FALSE) AS sell_signal,
         'bollinger_breakout' AS trade_strategy,
         CASE WHEN COALESCE(pc <= pu AND close > bb_u, FALSE)
              THEN LEAST(CAST(100.0 AS DOUBLE), (close - bb_u) / bb_u * 100)
              ELSE LEAST(CAST(100.0 AS DOUBLE), (bb_l - close) / bb_l * 100) END AS signal_strength
  FROM f_bb
),
f_vol AS (
  SELECT *,
         volume / vsma20 AS vr,
         (close - LAG(close) OVER wsy) / LAG(close) OVER wsy * 100 AS chg
  FROM feat WHERE close IS NOT NULL AND volume IS NOT NULL AND vsma20 IS NOT NULL
  WINDOW wsy AS (PARTITION BY symbol_id ORDER BY date)
),
s_vol AS (
  SELECT symbol, symbol_id, date,
         COALESCE(vr > 2.0e0 AND chg > 2.0e0, FALSE) AS buy_signal,
         COALESCE((vr > 2.0e0 AND chg < -2.0e0)
                  AND NOT COALESCE(vr > 2.0e0 AND chg > 2.0e0, FALSE), FALSE) AS sell_signal,
         'volume_spike' AS trade_strategy,
         LEAST(CAST(100.0 AS DOUBLE), vr * 10) AS signal_strength
  FROM f_vol
),
f_wr AS (
  SELECT *, LAG(willr_14) OVER (PARTITION BY symbol_id ORDER BY date) AS pr
  FROM feat WHERE willr_14 IS NOT NULL
),
s_wr AS (
  SELECT symbol, symbol_id, date,
         COALESCE(pr <= -80 AND willr_14 > -80, FALSE) AS buy_signal,
         COALESCE((pr >= -20 AND willr_14 < -20)
                  AND NOT COALESCE(pr <= -80 AND willr_14 > -80, FALSE), FALSE) AS sell_signal,
         'williams_extremes' AS trade_strategy,
         LEAST(CAST(100.0 AS DOUBLE), ABS(willr_14 + 50) * 2) AS signal_strength
  FROM f_wr
),
s_rib AS (
  SELECT symbol, symbol_id, date,
         COALESCE(close > sma_5 AND sma_5 > sma_10 AND sma_10 > sma_20 AND sma_20 > sma_50, FALSE) AS buy_signal,
         COALESCE((close < sma_5 AND sma_5 < sma_10 AND sma_10 < sma_20 AND sma_20 < sma_50)
                  AND NOT COALESCE(close > sma_5 AND sma_5 > sma_10 AND sma_10 > sma_20 AND sma_20 > sma_50, FALSE), FALSE) AS sell_signal,
         'ma_ribbon' AS trade_strategy,
         CASE WHEN COALESCE(close > sma_5 AND sma_5 > sma_10 AND sma_10 > sma_20 AND sma_20 > sma_50, FALSE)
              THEN LEAST(CAST(100.0 AS DOUBLE), (close - sma_50) / sma_50 * 100)
              ELSE LEAST(CAST(100.0 AS DOUBLE), (sma_50 - close) / sma_50 * 100) END AS signal_strength
  FROM feat
  WHERE close IS NOT NULL AND sma_5 IS NOT NULL AND sma_10 IS NOT NULL
    AND sma_20 IS NOT NULL AND sma_50 IS NOT NULL
),
f_pb0 AS (
  SELECT *,
         CASE WHEN COUNT(high) OVER {fr20} >= 20 THEN MAX(high) OVER {fr20} END AS h20,
         CASE WHEN COUNT(low) OVER {fr20} >= 20 THEN MIN(low) OVER {fr20} END AS l20
  FROM feat WHERE high IS NOT NULL AND low IS NOT NULL
),
f_pb AS (
  SELECT *, LAG(h20) OVER wsy AS ph20, LAG(l20) OVER wsy AS pl20
  FROM f_pb0 WHERE h20 IS NOT NULL AND l20 IS NOT NULL
  WINDOW wsy AS (PARTITION BY symbol_id ORDER BY date)
),
s_pb AS (
  SELECT symbol, symbol_id, date,
         COALESCE(high > ph20, FALSE) AS buy_signal,
         COALESCE(low < pl20 AND NOT COALESCE(high > ph20, FALSE), FALSE) AS sell_signal,
         'price_breakout' AS trade_strategy,
         CASE WHEN COALESCE(high > ph20, FALSE)
              THEN LEAST(CAST(100.0 AS DOUBLE), (high - ph20) / ph20 * 100)
              ELSE LEAST(CAST(100.0 AS DOUBLE), (pl20 - low) / pl20 * 100) END AS signal_strength
  FROM f_pb
),
f_div0 AS (
  SELECT * FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY symbol_id) AS nsym
    FROM feat WHERE close IS NOT NULL AND rsi_14 IS NOT NULL
  ) WHERE nsym >= 20
),
f_div AS (
  SELECT *,
         COUNT(close) OVER cw = 5 AND close = MIN(close) OVER cw AS plow,
         COUNT(close) OVER cw = 5 AND close = MAX(close) OVER cw AS phigh
  FROM f_div0
  WINDOW cw AS (PARTITION BY symbol_id ORDER BY date ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
),
s_div_buy AS (
  SELECT symbol, symbol_id, date, TRUE AS buy_signal, FALSE AS sell_signal,
         'rsi_divergence' AS trade_strategy,
         LEAST(CAST(100.0 AS DOUBLE), rsi_14 - prsi2) AS signal_strength
  FROM (
    SELECT symbol, symbol_id, date, close, rsi_14,
           LAG(close) OVER wsy AS pc2, LAG(rsi_14) OVER wsy AS prsi2
    FROM f_div WHERE plow
    WINDOW wsy AS (PARTITION BY symbol_id ORDER BY date)
  ) WHERE close < pc2 AND rsi_14 > prsi2
),
s_div_sell AS (
  SELECT symbol, symbol_id, date, FALSE AS buy_signal, TRUE AS sell_signal,
         'rsi_divergence' AS trade_strategy,
         LEAST(CAST(100.0 AS DOUBLE), prsi2 - rsi_14) AS signal_strength
  FROM (
    SELECT symbol, symbol_id, date, close, rsi_14,
           LAG(close) OVER wsy AS pc2, LAG(rsi_14) OVER wsy AS prsi2
    FROM f_div WHERE phigh
    WINDOW wsy AS (PARTITION BY symbol_id ORDER BY date)
  ) WHERE close > pc2 AND rsi_14 < prsi2
),
s_tf AS (
  SELECT symbol, symbol_id, date,
         COALESCE(close > sma_50 AND ema_8 > ema_21 AND rsi_14 > 50, FALSE) AS buy_signal,
         COALESCE((close < sma_50 AND ema_8 < ema_21 AND rsi_14 < 50)
                  AND NOT COALESCE(close > sma_50 AND ema_8 > ema_21 AND rsi_14 > 50, FALSE), FALSE) AS sell_signal,
         'trend_following' AS trade_strategy,
         CASE WHEN COALESCE(close > sma_50 AND ema_8 > ema_21 AND rsi_14 > 50, FALSE)
              THEN LEAST(CAST(100.0 AS DOUBLE), rsi_14)
              ELSE LEAST(CAST(100.0 AS DOUBLE), 100 - rsi_14) END AS signal_strength
  FROM feat
  WHERE close IS NOT NULL AND sma_50 IS NOT NULL AND ema_8 IS NOT NULL
    AND ema_21 IS NOT NULL AND rsi_14 IS NOT NULL
)"""

    return f"""
WITH b0 AS MATERIALIZED ({ORACLE_OHLCV_RESAMPLE}),
bars AS MATERIALIZED (
  SELECT user_id AS symbol_id, 'USER' || CAST(user_id AS VARCHAR) AS symbol, date,
         CAST(open AS DOUBLE) AS open, CAST(high AS DOUBLE) AS high,
         CAST(low AS DOUBLE) AS low, CAST(close AS DOUBLE) AS close,
         CAST(volume AS BIGINT) AS volume,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY date) AS rn
  FROM b0
),
rec AS MATERIALIZED (
  WITH RECURSIVE st(symbol_id, rn, pv, w8, ow8, w21, ow21, w12, ow12, w26, ow26,
                    wq, oq, wg, owg, wl, owl) AS (
    SELECT symbol_id, CAST(0 AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), {one}, CAST(NULL AS DOUBLE), {one},
           CAST(NULL AS DOUBLE), {one}, CAST(NULL AS DOUBLE), {one},
           CAST(NULL AS DOUBLE), {one}, CAST(NULL AS DOUBLE), {one},
           CAST(NULL AS DOUBLE), {one}
    FROM (SELECT DISTINCT symbol_id FROM bars)
    UNION ALL
    SELECT symbol_id, rn, close,
           w8n, ow8n, w21n, ow21n, w12n, ow12n, w26n, ow26n,
           {sg}, {osg},
           {rg}, {org_}, {rl}, {orl}
    FROM (
      SELECT s.symbol_id, r.rn, r.close,
             {w8} AS w8n, {ow8} AS ow8n,
             {w21} AS w21n, {ow21} AS ow21n,
             {w12} AS w12n, {ow12} AS ow12n,
             {w26} AS w26n, {ow26} AS ow26n,
             ({w12}) - ({w26}) AS macd,
             CASE WHEN s.pv IS NULL THEN CAST(NULL AS DOUBLE)
                  ELSE GREATEST(r.close - s.pv, {z}) END AS g,
             CASE WHEN s.pv IS NULL THEN CAST(NULL AS DOUBLE)
                  ELSE GREATEST(-(r.close - s.pv), {z}) END AS l,
             s.wq AS wq0, s.oq AS oq0, s.wg AS wg0, s.owg AS owg0,
             s.wl AS wl0, s.owl AS owl0
      FROM st s JOIN bars r ON r.symbol_id = s.symbol_id AND r.rn = s.rn + 1
    )
  ) SELECT * FROM st WHERE rn >= 1
),
bbx AS (
  SELECT symbol_id, date,
         COUNT(close) OVER {fr20} AS cnt20,
         {lag_cols}
  FROM bars
),
bbw AS (
  {welford_inner}
),
bbsd AS MATERIALIZED (
  SELECT symbol_id, date,
         CASE WHEN cnt20 >= 20 THEN sqrt(m20 / CAST(20 AS DOUBLE)) END AS sd20
  FROM bbw
),
feat0 AS (
  SELECT b.symbol_id, b.symbol, b.date, b.open, b.high, b.low, b.close, b.volume, b.rn,
       c.w8 AS ema_8, c.w21 AS ema_21,
       ((c.w12 - c.w26) - c.wq) AS macd_hist,
       CASE WHEN b.rn <= 14 THEN CAST(NULL AS DOUBLE)
            WHEN c.wl = {z} AND c.wg = {z} THEN CAST(NULL AS DOUBLE)
            WHEN c.wl = {z} THEN CAST(100.0 AS DOUBLE)
            ELSE CAST(100.0 AS DOUBLE) - CAST(100.0 AS DOUBLE) / ({one} + c.wg / c.wl) END AS rsi_14,
       {smas},
       CASE WHEN COUNT(volume) OVER {fr20b} >= 20
            THEN CAST(SUM(volume) OVER {fr20b} AS DOUBLE) / CAST(COUNT(volume) OVER {fr20b} AS DOUBLE) END AS vsma20,
       {gated('MAX(high)', 14, 'close', 'b.')} AS hh14,
       {gated('MIN(low)', 14, 'close', 'b.')} AS ll14,
       {fold_avg('close', 20, 'b.')} AS bb_mid
  FROM bars b JOIN rec c ON c.symbol_id = b.symbol_id AND c.rn = b.rn
),
feat AS MATERIALIZED (
  SELECT f.*,
       CASE WHEN hh14 <> ll14 THEN CAST(-100.0 AS DOUBLE) * (hh14 - close) / (hh14 - ll14) END AS willr_14,
       CASE WHEN bb_mid IS NOT NULL THEN bb_mid + 2 * s.sd20 END AS bb_u,
       CASE WHEN bb_mid IS NOT NULL THEN bb_mid - 2 * s.sd20 END AS bb_l
  FROM feat0 f JOIN bbsd s ON s.symbol_id = f.symbol_id AND s.date = f.date
),
{strategies}
SELECT symbol, symbol_id, date, buy_signal, sell_signal, trade_strategy, signal_strength
FROM (
  SELECT * FROM s_ema UNION ALL SELECT * FROM s_rsimr UNION ALL
  SELECT * FROM s_rsix UNION ALL SELECT * FROM s_hist UNION ALL
  SELECT * FROM s_bb UNION ALL SELECT * FROM s_vol UNION ALL
  SELECT * FROM s_wr UNION ALL SELECT * FROM s_rib UNION ALL
  SELECT * FROM s_pb UNION ALL SELECT * FROM s_div_buy UNION ALL
  SELECT * FROM s_div_sell UNION ALL SELECT * FROM s_tf
) WHERE buy_signal OR sell_signal
"""


QUERIES = {
    "ohlcv_resample": ohlcv_resample,
    "fin_signals_pipeline": fin_signals_pipeline,
}

ORACLES = {
    "ohlcv_resample": ORACLE_OHLCV_RESAMPLE,
    "fin_signals_pipeline": _fin_signals_oracle(),
}
