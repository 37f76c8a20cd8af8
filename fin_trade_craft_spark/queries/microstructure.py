"""Market-microstructure queries: alternative bar construction and
liquidity estimation over the tick stream.

These extend the reference's bar/indicator surface (reference:
data_pipeline/transform/ohlcv_transformer.py resamples ticks into
time bars; backtesting/backtest_signals.py consumes them) with the
standard microstructure toolkit a fin-ML pipeline derives from the
same ticks — as published in López de Prado, *Advances in Financial
Machine Learning* (2018) ch. 2 (dollar bars) and ch. 19 (liquidity
estimators), Roll (1984), Amihud (2002), and Kyle (1985).

Exactness discipline (the ``dsum`` rule): every cross-row sum runs
in exact DECIMAL (or integer cents) so the result is independent of
Spark's partial-aggregation order, and the final scalar estimators
are computed from those exact sums in ONE agreed IEEE expression
tree mirrored verbatim in the DuckDB oracle — bit-exact on 1 core
or 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dsum
from ..operators.ewm import grouped_map
from ..sources.catalog import load_table

# Dollar-bar threshold: a new bar begins each time the per-user
# cumulative traded value crosses a $500 boundary (in exact cents).
DOLLAR_BAR_CENTS = 50_000

# Cross-sectional correlation is bounded by contract to the K most
# active series (deterministic tie-break on user_id) — at 100 TB the
# pair count is K², never |users|².
XSECT_TOP_K = 20


def dollar_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dollar-bar construction (López de Prado 2018 ch. 2): bars
    close when cumulative traded VALUE — not wall-clock time —
    crosses a threshold, so information arrival is roughly constant
    per bar and bar counts track activity instead of calendars.

    Bucketing variant (documented divergence from the running-reset
    formulation): tick t joins bar ``floor(pre_cum / T)`` where
    pre_cum is the user's cumulative dollar volume BEFORE t. Bar
    boundaries therefore sit at exact multiples of T of the
    accumulated flow — the cumulative total through the end of every
    non-final bar k has crossed (k+1)·T (a single overshooting tick
    can leave one bar under T, never the cumulative boundary) — and
    the assignment is a pure window expression (the reset
    formulation is a sequential recurrence with no closed form).

    Exactness: the cumulative sum runs in integer CENTS
    (``CAST(value*100 AS BIGINT)`` after an exact DECIMAL(18,2)
    hop), so bucket boundaries carry no float ambiguity; DuckDB's
    segment-tree window fold and Spark's sequential running fold
    agree exactly because integer addition is associative. The
    final floor-divide quotients stay far below 2^53.

    Scale shape: one shuffle on user_id shared by the running-sum
    window and the bar aggregation (same key prefix); the bar agg
    is a hash aggregate with map-side partial combine. No join, no
    UDF, no global sort."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.col("value").cast("decimal(18,2)") * 100
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ticks = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        cents.cast("bigint").alias("cents"),
    ).select(
        "*",
        (F.sum("cents").over(w) - F.col("cents")).alias("pre_cum"),
    )
    bar = F.floor(F.col("pre_cum") / F.lit(DOLLAR_BAR_CENTS)).cast("bigint")
    order = F.struct("ts", "event_id")
    return (
        ticks.select("user_id", bar.alias("bar_id"), "ts", "event_id", "value")
        .groupBy("user_id", "bar_id")
        .agg(
            F.min_by("value", order).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
            dsum("value").alias("dollar_volume"),
        )
        .orderBy("user_id", "bar_id")
    )


ORACLE_DOLLAR_BARS = f"""
WITH c AS (
  SELECT user_id, ts, event_id, value,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
),
p AS (
  SELECT user_id, ts, event_id, value,
         SUM(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - cents AS pre_cum
  FROM c
),
b AS (
  SELECT user_id,
         CAST(FLOOR(pre_cum / {DOLLAR_BAR_CENTS}) AS BIGINT) AS bar_id,
         ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, FLOOR(pre_cum / {DOLLAR_BAR_CENTS})
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY user_id, FLOOR(pre_cum / {DOLLAR_BAR_CENTS})
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM p
)
SELECT user_id, bar_id,
  MIN(CASE WHEN rn_a = 1 THEN value END) AS open,
  MAX(value) AS high,
  MIN(value) AS low,
  MIN(CASE WHEN rn_d = 1 THEN value END) AS close,
  COUNT(*) AS n_ticks,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dollar_volume
FROM b
GROUP BY user_id, bar_id
ORDER BY user_id, bar_id
"""


def microstructure_liquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series liquidity panel over the daily bars: the Roll
    (1984) implied effective spread ``2·sqrt(max(0, −cov(Δp_t,
    Δp_{t−1})))``, the Amihud (2002) illiquidity ratio (aggregate
    form ``10^6 · Σ|Δp| / Σ dollar_volume`` — the ratio-of-sums
    variant, which keeps both sums exact-decimal; the mean-of-daily-
    ratios form would sum per-row doubles in engine-dependent
    order), and Kyle's (1985) lambda — the OLS slope of Δp on
    SIGNED dollar volume (tick-rule sign = sign(Δp)).

    Exactness: Δp is an exact DECIMAL(18,2) difference of closes;
    all moment sums (Σx, Σy, Σxy, Σx²) accumulate in DECIMAL, cast
    to DOUBLE once, and the estimators are single agreed IEEE
    expression trees over those deterministic doubles.

    Scale shape: bars (one shuffle on user_id) → lag window (same
    key) → one hash aggregate per user. The whole panel is a
    per-key linear pass; output is |users| rows."""
    from .fin_domain import ohlcv_resample

    bars = ohlcv_resample(spark, sf_dir).select(
        "user_id",
        "date",
        F.col("close").cast("decimal(18,2)").alias("close_d"),
        F.col("traded_value").cast("decimal(18,2)").alias("dvol"),
    )
    w = Window.partitionBy("user_id").orderBy("date")
    # dp re-capped at DECIMAL(18,2): the raw subtraction widens to
    # (19,2), and a (19,2)x(19,2) product would overflow Spark's
    # precision-38 cap and round — silently, differently from
    # DuckDB. (18,2)x(18,2) stays inside the cap in BOTH engines
    # (Spark 37, DuckDB 36) while covering 10^16-dollar magnitudes
    d = bars.select(
        "user_id",
        "date",
        "dvol",
        (F.col("close_d") - F.lag("close_d").over(w)).cast("decimal(18,2)").alias("dp"),
    ).select(
        "user_id",
        "dvol",
        "dp",
        F.lag("dp").over(w).alias("dp_lag"),
    )
    signed = (
        F.when(F.col("dp") > 0, F.col("dvol"))
        .when(F.col("dp") < 0, -F.col("dvol"))
        .otherwise(F.lit(0))
        .cast("decimal(18,2)")
    )
    agg = d.groupBy("user_id").agg(
        F.count(F.when(F.col("dp").isNotNull(), 1)).alias("n_moves"),
        # Roll: serial-covariance moments over adjacent Δp pairs
        F.count(F.when(F.col("dp_lag").isNotNull(), 1)).alias("n_pairs"),
        F.sum(F.when(F.col("dp_lag").isNotNull(), F.col("dp"))).cast("double").alias("s_x"),
        F.sum(F.when(F.col("dp_lag").isNotNull(), F.col("dp_lag"))).cast("double").alias("s_y"),
        F.sum(F.col("dp") * F.col("dp_lag")).cast("double").alias("s_xy"),
        # Amihud: exact ratio-of-sums ingredients
        F.sum(F.abs(F.col("dp"))).cast("double").alias("s_absdp"),
        F.sum(F.when(F.col("dp").isNotNull(), F.col("dvol"))).cast("double").alias("s_dvol"),
        # Kyle: Δp on signed dollar volume
        F.sum(F.when(F.col("dp").isNotNull(), signed)).cast("double").alias("k_sx"),
        F.sum(F.when(F.col("dp").isNotNull(), F.col("dp"))).cast("double").alias("k_sy"),
        F.sum(signed * F.col("dp")).cast("double").alias("k_sxy"),
        F.sum(signed * signed).cast("double").alias("k_sxx"),
    )
    n_pairs = F.col("n_pairs").cast("double")
    cov = (F.col("s_xy") - F.col("s_x") * F.col("s_y") / n_pairs) / n_pairs
    roll = F.when(
        F.col("n_pairs") >= 2,
        F.lit(2.0) * F.sqrt(F.greatest(F.lit(0.0), -cov)),
    )
    amihud = F.lit(1e6) * F.col("s_absdp") / F.expr("nullif(s_dvol, 0d)")
    n_moves = F.col("n_moves").cast("double")
    kyle = F.when(
        F.col("n_moves") >= 2,
        (n_moves * F.col("k_sxy") - F.col("k_sx") * F.col("k_sy"))
        / F.expr(
            "nullif(cast(n_moves as double) * k_sxx - k_sx * k_sx, 0d)"
        ),
    )
    return agg.select(
        "user_id",
        "n_moves",
        roll.alias("roll_spread"),
        amihud.alias("amihud_illiq"),
        kyle.alias("kyle_lambda"),
    ).orderBy("user_id")


ORACLE_MICROSTRUCTURE_LIQUIDITY = """
WITH t AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS date, value,
    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_d
  FROM events
),
bars AS (
  SELECT user_id, date,
         CAST(MIN(CASE WHEN rn_d = 1 THEN value END) AS DECIMAL(18,2)) AS close_d,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS DECIMAL(18,2)) AS dvol
  FROM t GROUP BY user_id, date
),
d0 AS (
  SELECT user_id, date, dvol,
         CAST(close_d - LAG(close_d) OVER (PARTITION BY user_id ORDER BY date)
              AS DECIMAL(18,2)) AS dp
  FROM bars
),
d AS (
  SELECT user_id, dvol, dp,
         LAG(dp) OVER (PARTITION BY user_id ORDER BY date) AS dp_lag
  FROM d0
),
a AS (
  SELECT user_id,
    COUNT(CASE WHEN dp IS NOT NULL THEN 1 END) AS n_moves,
    COUNT(CASE WHEN dp_lag IS NOT NULL THEN 1 END) AS n_pairs,
    CAST(SUM(CASE WHEN dp_lag IS NOT NULL THEN dp END) AS DOUBLE) AS s_x,
    CAST(SUM(CASE WHEN dp_lag IS NOT NULL THEN dp_lag END) AS DOUBLE) AS s_y,
    CAST(SUM(dp * dp_lag) AS DOUBLE) AS s_xy,
    CAST(SUM(ABS(dp)) AS DOUBLE) AS s_absdp,
    CAST(SUM(CASE WHEN dp IS NOT NULL THEN dvol END) AS DOUBLE) AS s_dvol,
    CAST(SUM(CASE WHEN dp IS NOT NULL THEN
      CASE WHEN dp > 0 THEN dvol WHEN dp < 0 THEN -dvol
           ELSE CAST(0 AS DECIMAL(18,2)) END END) AS DOUBLE) AS k_sx,
    CAST(SUM(CASE WHEN dp IS NOT NULL THEN dp END) AS DOUBLE) AS k_sy,
    CAST(SUM((CASE WHEN dp > 0 THEN dvol WHEN dp < 0 THEN -dvol
              ELSE CAST(0 AS DECIMAL(18,2)) END) * dp) AS DOUBLE) AS k_sxy,
    CAST(SUM((CASE WHEN dp > 0 THEN dvol WHEN dp < 0 THEN -dvol
              ELSE CAST(0 AS DECIMAL(18,2)) END)
           * (CASE WHEN dp > 0 THEN dvol WHEN dp < 0 THEN -dvol
              ELSE CAST(0 AS DECIMAL(18,2)) END)) AS DOUBLE) AS k_sxx
  FROM d GROUP BY user_id
)
SELECT user_id, n_moves,
  CASE WHEN n_pairs >= 2 THEN
    2e0 * SQRT(GREATEST(0e0,
      -((s_xy - s_x * s_y / CAST(n_pairs AS DOUBLE)) / CAST(n_pairs AS DOUBLE))))
  END AS roll_spread,
  1e6 * s_absdp / NULLIF(s_dvol, 0e0) AS amihud_illiq,
  CASE WHEN n_moves >= 2 THEN
    (CAST(n_moves AS DOUBLE) * k_sxy - k_sx * k_sy)
      / NULLIF(CAST(n_moves AS DOUBLE) * k_sxx - k_sx * k_sx, 0e0)
  END AS kyle_lambda
FROM a
ORDER BY user_id
"""


def _rets_from_bars(bars: DataFrame) -> DataFrame:
    """Exact-decimal daily close changes from a (user_id, date,
    close_d) bar frame — shared by the correlation panel and the
    pairs-spread monitor (each caller decides what to persist/pin,
    so no helper-owned frame can leak executor storage)."""
    w = Window.partitionBy("user_id").orderBy("date")
    return (
        bars.select(
            "user_id",
            "date",
            (F.col("close_d") - F.lag("close_d").over(w)).cast("decimal(18,2)").alias("dp"),
        )
        .filter(F.col("dp").isNotNull())
    )


def _corr_panel_from_rets(rets: DataFrame) -> DataFrame:
    """The bounded top-K pairwise correlation panel over a rets
    frame (user_id, date, dp): the cross_sectional_correlation body
    without the output projection, reused by the pairs monitor."""
    topk = (
        rets.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_bars"))
        .orderBy(F.desc("n_bars"), F.asc("user_id"))
        .limit(XSECT_TOP_K)
        .select("user_id")
    )
    sel = rets.join(F.broadcast(topk), "user_id")
    a = sel.select(F.col("user_id").alias("user_a"), "date", F.col("dp").alias("x"))
    b = sel.select(F.col("user_id").alias("user_b"), "date", F.col("dp").alias("y"))
    pairs = a.join(F.broadcast(b), "date").filter(F.col("user_a") < F.col("user_b"))
    m = pairs.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n_days").cast("double")
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.expr(
        "nullif(sqrt(greatest(0d, n_days * sxx - sx * sx))"
        " * sqrt(greatest(0d, n_days * syy - sy * sy)), 0d)"
    )
    return m.filter(F.col("n_days") >= 3).select(
        "user_a", "user_b", "n_days", corr.alias("corr_dp")
    )


def cross_sectional_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of daily close CHANGES across
    the K most active series — the input panel for portfolio
    construction (risk models, HRP-style clustering) built from
    the same bars the signal engine uses.

    Bounded by contract: only the top ``XSECT_TOP_K`` users by bar
    count (ties broken by user_id) enter the pair join, so the
    output is ≤ K(K−1)/2 rows and the join fan-out K² — independent
    of corpus size. The top-K selection is a TakeOrderedAndProject
    (sort-limit, no unpartitioned window), broadcast back as a
    semi-join filter.

    Exactness: Δclose is exact DECIMAL; the five correlation moment
    sums accumulate in DECIMAL per pair, the final corr is one
    agreed double expression tree. Pairs align on calendar date
    (inner join ⇒ only co-traded days count)."""
    from .fin_domain import ohlcv_resample

    from ..operators.memo import pin_on_first_action

    bars = ohlcv_resample(spark, sf_dir).select(
        "user_id", "date", F.col("close").cast("decimal(18,2)").alias("close_d")
    )
    # rets feeds four branches (top-K count, the semi-join filter,
    # and both sides of the pair join) — pin it so the bar/window
    # pipeline runs once, not 4× (pin-on-first-action, the repo's
    # shared-branch discipline; the frame is bar-sized)
    rets = _rets_from_bars(bars).persist()
    result = _corr_panel_from_rets(rets).orderBy("user_a", "user_b")
    return pin_on_first_action(result, [rets])


ORACLE_CROSS_SECTIONAL_CORRELATION = f"""
WITH t AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS date, value,
    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_d
  FROM events
),
bars AS (
  SELECT user_id, date,
         CAST(MIN(CASE WHEN rn_d = 1 THEN value END) AS DECIMAL(18,2)) AS close_d
  FROM t GROUP BY user_id, date
),
rets AS (
  SELECT user_id, date,
         CAST(close_d - LAG(close_d) OVER (PARTITION BY user_id ORDER BY date)
              AS DECIMAL(18,2)) AS dp
  FROM bars
  QUALIFY dp IS NOT NULL
),
topk AS (
  SELECT user_id FROM (
    SELECT user_id, COUNT(*) AS n_bars FROM rets GROUP BY user_id
  ) ORDER BY n_bars DESC, user_id ASC LIMIT {XSECT_TOP_K}
),
sel AS (SELECT r.* FROM rets r JOIN topk USING (user_id)),
m AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b,
         COUNT(*) AS n_days,
         CAST(SUM(a.dp) AS DOUBLE) AS sx,
         CAST(SUM(b.dp) AS DOUBLE) AS sy,
         CAST(SUM(a.dp * b.dp) AS DOUBLE) AS sxy,
         CAST(SUM(a.dp * a.dp) AS DOUBLE) AS sxx,
         CAST(SUM(b.dp * b.dp) AS DOUBLE) AS syy
  FROM sel a JOIN sel b ON a.date = b.date AND a.user_id < b.user_id
  GROUP BY a.user_id, b.user_id
)
SELECT user_a, user_b, n_days,
  (CAST(n_days AS DOUBLE) * sxy - sx * sy)
    / NULLIF(SQRT(GREATEST(0e0, CAST(n_days AS DOUBLE) * sxx - sx * sx))
           * SQRT(GREATEST(0e0, CAST(n_days AS DOUBLE) * syy - sy * sy)), 0e0) AS corr_dp
FROM m
WHERE n_days >= 3
ORDER BY user_a, user_b
"""


import math as _math

# ln(10) and its square, embedded as 17-significant-digit literals so
# Spark and DuckDB evaluate the identical double constants (the FFD
# e-notation rule: DuckDB parses plain decimals as DECIMAL and
# double-rounds; e-notation goes straight to the rounded double)
_LN10 = _math.log(10.0)
# Garman-Klass down-weight constant 2·ln2 − 1
_GK_C2 = 2.0 * _math.log(2.0) - 1.0
# Parkinson normalizer 1/(4·ln2)
_PARK_C = 1.0 / (4.0 * _math.log(2.0))

# VPIN: rolling window of dollar buckets. 5, not the literature's
# 50: the fixture's per-user bucket depth is ~8 at EVERY sf (scale
# adds series, not depth), so a deeper window would never fill
VPIN_WINDOW = 5


def _lit17(x: float) -> str:
    return f"CAST({x:.17e} AS DOUBLE)"


def volatility_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-based volatility panel over the daily bars: Parkinson
    (1980) high-low, Garman-Klass (1980) OHLC, and Rogers-Satchell
    (1991) drift-robust estimators — the standard low-frequency
    volatility inputs a fin-ML feature store carries alongside
    close-to-close variance.

    Exactness: each bar's term is a per-row double expression built
    from ``log10`` ratios rescaled by an embedded 17-digit ln(10)
    literal (per-row float ops are bit-identical across engines;
    the repo's LM scorers established log10 parity), and the
    cross-bar sums fold in ascending-double order via
    ``array_sort(collect_list(...))`` — the engine-independent
    deterministic-fold pattern — so the panel value-hashes exactly.
    Zero-price bars (the fixture contains value = 0 ticks) are
    excluded by the positivity guard, documented here.

    Scale shape: one shuffle on user_id, one hash aggregate; the
    per-user term list is bounded by the calendar (bars per series),
    the same bound the LM scorers carry."""
    from .fin_domain import ohlcv_resample

    bars = ohlcv_resample(spark, sf_dir).filter(
        (F.col("low") > 0) & (F.col("open") > 0) & (F.col("close") > 0)
    )
    ln10 = F.expr(_lit17(_LN10))
    lhl = F.log10(F.col("high") / F.col("low")) * ln10
    lco = F.log10(F.col("close") / F.col("open")) * ln10
    lhc = F.log10(F.col("high") / F.col("close")) * ln10
    lho = F.log10(F.col("high") / F.col("open")) * ln10
    llc = F.log10(F.col("low") / F.col("close")) * ln10
    llo = F.log10(F.col("low") / F.col("open")) * ln10
    terms = bars.select(
        "user_id",
        (lhl * lhl).alias("park_t"),
        (F.lit(0.5) * lhl * lhl - F.expr(_lit17(_GK_C2)) * lco * lco).alias("gk_t"),
        (lhc * lho + llc * llo).alias("rs_t"),
    )
    agg = terms.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_bars"),
        F.array_sort(F.collect_list("park_t")).alias("park_l"),
        F.array_sort(F.collect_list("gk_t")).alias("gk_l"),
        F.array_sort(F.collect_list("rs_t")).alias("rs_l"),
    )

    def fold(c):
        return F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x)

    n = F.col("n_bars").cast("double")
    park = F.sqrt(F.expr(_lit17(_PARK_C)) * fold("park_l") / n)
    gk = F.sqrt(F.greatest(F.lit(0.0), fold("gk_l") / n))
    rs = F.sqrt(F.greatest(F.lit(0.0), fold("rs_l") / n))
    # round(12): JVM Math.log10 and libm log10 disagree by 1 ulp on
    # rare inputs (observed once at sf0.001); 12 decimals is ~1e4 x
    # coarser than the divergence and far finer than any consumer
    return agg.select(
        "user_id",
        "n_bars",
        F.round(park, 12).alias("parkinson_vol"),
        F.round(gk, 12).alias("garman_klass_vol"),
        F.round(rs, 12).alias("rogers_satchell_vol"),
    ).orderBy("user_id")


def _vol_oracle() -> str:
    ln10 = _lit17(_LN10)
    return f"""
WITH t AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS date, value,
    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn_a,
    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_d
  FROM events
),
bars AS (
  SELECT user_id, date,
    MIN(CASE WHEN rn_a = 1 THEN value END) AS "open",
    MAX(value) AS high,
    MIN(value) AS low,
    MIN(CASE WHEN rn_d = 1 THEN value END) AS "close"
  FROM t GROUP BY user_id, date
),
g AS (
  SELECT * FROM bars WHERE low > 0 AND "open" > 0 AND "close" > 0
),
terms AS (
  SELECT user_id,
    (log10(high / low) * {ln10}) * (log10(high / low) * {ln10}) AS park_t,
    0.5e0 * (log10(high / low) * {ln10}) * (log10(high / low) * {ln10})
      - {_lit17(_GK_C2)} * (log10("close" / "open") * {ln10})
                         * (log10("close" / "open") * {ln10}) AS gk_t,
    (log10(high / "close") * {ln10}) * (log10(high / "open") * {ln10})
      + (log10(low / "close") * {ln10}) * (log10(low / "open") * {ln10}) AS rs_t
  FROM g
),
a AS (
  SELECT user_id, COUNT(*) AS n_bars,
         list_sort(list(park_t)) AS park_l,
         list_sort(list(gk_t)) AS gk_l,
         list_sort(list(rs_t)) AS rs_l
  FROM terms GROUP BY user_id
)
SELECT user_id, n_bars,
  ROUND(SQRT({_lit17(_PARK_C)}
       * list_reduce(list_prepend(CAST(0.0 AS DOUBLE), park_l), (acc, x) -> acc + x)
       / CAST(n_bars AS DOUBLE)), 12) AS parkinson_vol,
  ROUND(SQRT(GREATEST(0e0,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), gk_l), (acc, x) -> acc + x)
       / CAST(n_bars AS DOUBLE))), 12) AS garman_klass_vol,
  ROUND(SQRT(GREATEST(0e0,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), rs_l), (acc, x) -> acc + x)
       / CAST(n_bars AS DOUBLE))), 12) AS rogers_satchell_vol
FROM a
ORDER BY user_id
"""


def order_flow_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order-flow imbalance from tick-rule trade signs (Lee &
    Ready 1991 tick test): each tick is a buy if its price change is
    positive, a sell if negative, and inherits the LAST non-zero
    sign on a zero change — the sequential carry is
    ``last(sign, ignorenulls=True)`` over the per-user tick order,
    a single window pass, not a fold.

    All flow sums are exact integer cents; the imbalance ratio
    (buy − sell)/(buy + sell) is one double divide of deterministic
    ints. Ticks before the first price change carry no sign and are
    excluded from flow (documented).

    Scale shape: one shuffle on user_id for the sign carry, then a
    (user, day) hash aggregate — tick-linear, no join, no UDF."""
    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        "user_id",
        F.date_trunc("day", "ts").alias("date"),
        "ts",
        "event_id",
        cents.alias("cc"),
    ).select(
        "*",
        (F.col("cc") - F.lag("cc").over(w)).alias("dc"),
    )
    raw_sign = F.when(F.col("dc") > 0, 1).when(F.col("dc") < 0, -1)
    t = t.select(
        "*",
        F.last(raw_sign, ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sign"),
    )
    return (
        t.filter(F.col("sign").isNotNull())
        .groupBy("user_id", "date")
        .agg(
            F.sum(F.when(F.col("sign") == 1, F.col("cc")).otherwise(F.lit(0))).alias("buy_c"),
            F.sum(F.when(F.col("sign") == -1, F.col("cc")).otherwise(F.lit(0))).alias("sell_c"),
            F.count(F.when(F.col("sign") == 1, 1)).alias("n_buys"),
            F.count(F.when(F.col("sign") == -1, 1)).alias("n_sells"),
        )
        .select(
            "user_id",
            "date",
            (F.col("buy_c").cast("double") / 100).alias("buy_flow"),
            (F.col("sell_c").cast("double") / 100).alias("sell_flow"),
            "n_buys",
            "n_sells",
            (
                (F.col("buy_c") - F.col("sell_c")).cast("double")
                / F.expr("nullif(cast(buy_c + sell_c as double), 0d)")
            ).alias("flow_imbalance"),
        )
        .orderBy("user_id", "date")
    )


ORACLE_ORDER_FLOW_IMBALANCE = """
WITH c AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS date, ts, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cc
  FROM events
),
d AS (
  SELECT *, cc - LAG(cc) OVER w AS dc
  FROM c
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, LAST_VALUE(CASE WHEN dc > 0 THEN 1 WHEN dc < 0 THEN -1 END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sign
  FROM d
),
a AS (
  SELECT user_id, date,
         SUM(CASE WHEN sign = 1 THEN cc ELSE 0 END) AS buy_c,
         SUM(CASE WHEN sign = -1 THEN cc ELSE 0 END) AS sell_c,
         COUNT(CASE WHEN sign = 1 THEN 1 END) AS n_buys,
         COUNT(CASE WHEN sign = -1 THEN 1 END) AS n_sells
  FROM s WHERE sign IS NOT NULL
  GROUP BY user_id, date
)
SELECT user_id, date,
       CAST(buy_c AS DOUBLE) / 100 AS buy_flow,
       CAST(sell_c AS DOUBLE) / 100 AS sell_flow,
       n_buys, n_sells,
       CAST(buy_c - sell_c AS DOUBLE)
         / NULLIF(CAST(buy_c + sell_c AS DOUBLE), 0e0) AS flow_imbalance
FROM a
ORDER BY user_id, date
"""


def vpin_dollar_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPIN — volume-synchronized probability of informed trading
    (Easley, López de Prado, O'Hara 2012): classify each tick's
    flow with the tick rule, bucket by DOLLAR volume (the
    ``dollar_bars`` pre-cum bucketing, so buckets hold comparable
    information), and emit the trailing-window mean of
    |buy − sell| / (buy + sell) per bucket — the toxicity series
    market makers monitor.

    Exactness: per-bucket flows are exact integer cents; the
    per-bucket ratio is one double divide; the trailing mean folds
    the last ``VPIN_WINDOW`` ratios in ascending-double order
    (windowed ``collect_list`` → ``array_sort`` → fold), the same
    engine-independent pattern as the volatility panel.

    Scale shape: the sign carry and the bucket assignment share one
    user-keyed window sort; the bucket agg and the trailing window
    are bucket-sized (ticks ÷ bucket dollar). No join, no UDF."""
    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t = ev.select(
        "user_id", "ts", "event_id", cents.alias("cc")
    ).select(
        "*",
        (F.sum("cc").over(wcum) - F.col("cc")).alias("pre_cum"),
        (F.col("cc") - F.lag("cc").over(w)).alias("dc"),
    )
    raw_sign = F.when(F.col("dc") > 0, 1).when(F.col("dc") < 0, -1)
    t = t.select(
        "*",
        F.last(raw_sign, ignorenulls=True).over(wcum).alias("sign"),
        F.floor(F.col("pre_cum") / F.lit(DOLLAR_BAR_CENTS)).cast("bigint").alias("bucket"),
    )
    per_bucket = (
        t.filter(F.col("sign").isNotNull())
        .groupBy("user_id", "bucket")
        .agg(
            F.sum(F.when(F.col("sign") == 1, F.col("cc")).otherwise(F.lit(0))).alias("buy_c"),
            F.sum(F.when(F.col("sign") == -1, F.col("cc")).otherwise(F.lit(0))).alias("sell_c"),
        )
        .select(
            "user_id",
            "bucket",
            (
                F.abs(F.col("buy_c") - F.col("sell_c")).cast("double")
                / F.expr("nullif(cast(buy_c + sell_c as double), 0d)")
            ).alias("toxicity"),
        )
    )
    wv = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(-(VPIN_WINDOW - 1), Window.currentRow)
    )
    ratios = per_bucket.select(
        "user_id",
        "bucket",
        "toxicity",
        F.array_sort(F.collect_list("toxicity").over(wv)).alias("trail"),
    )
    fold = F.aggregate(F.col("trail"), F.lit(0.0), lambda acc, x: acc + x)
    return (
        ratios.filter(F.size("trail") == VPIN_WINDOW)
        .select(
            "user_id",
            "bucket",
            "toxicity",
            (fold / F.lit(float(VPIN_WINDOW))).alias("vpin"),
        )
        .orderBy("user_id", "bucket")
    )


ORACLE_VPIN_DOLLAR_BUCKETS = f"""
WITH c AS (
  SELECT user_id, ts, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cc
  FROM events
),
p AS (
  SELECT *,
         SUM(cc) OVER w2 - cc AS pre_cum,
         cc - LAG(cc) OVER w1 AS dc
  FROM c
  WINDOW w1 AS (PARTITION BY user_id ORDER BY ts, event_id),
         w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT *,
         LAST_VALUE(CASE WHEN dc > 0 THEN 1 WHEN dc < 0 THEN -1 END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sign,
         CAST(FLOOR(pre_cum / {DOLLAR_BAR_CENTS}) AS BIGINT) AS bucket
  FROM p
),
pb AS (
  SELECT user_id, bucket,
         ABS(SUM(CASE WHEN sign = 1 THEN cc ELSE 0 END)
           - SUM(CASE WHEN sign = -1 THEN cc ELSE 0 END)) AS num,
         SUM(CASE WHEN sign = 1 THEN cc ELSE 0 END)
           + SUM(CASE WHEN sign = -1 THEN cc ELSE 0 END) AS den
  FROM s WHERE sign IS NOT NULL
  GROUP BY user_id, bucket
),
r AS (
  SELECT user_id, bucket,
         CAST(num AS DOUBLE) / NULLIF(CAST(den AS DOUBLE), 0e0) AS toxicity
  FROM pb
),
tr AS (
  SELECT user_id, bucket, toxicity,
         list_sort(list(toxicity) OVER (PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN {VPIN_WINDOW - 1} PRECEDING AND CURRENT ROW)) AS trail
  FROM r
)
SELECT user_id, bucket, toxicity,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), trail), (acc, x) -> acc + x)
         / {float(VPIN_WINDOW)!r} AS vpin
FROM tr
WHERE len(trail) = {VPIN_WINDOW}
ORDER BY user_id, bucket
"""


# Jump test: flag days where RV exceeds bipower variation by this
# relative margin (BNS 2004 use asymptotic critical values; the
# fixture's ~3 ticks/day is far from asymptotia, so a fixed margin
# is the honest pinned rule)
RV_JUMP_MARGIN = 0.5


def realized_variance_jumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily realized variance vs bipower variation with a jump
    flag (Barndorff-Nielsen & Shephard 2004): RV = Σ Δp², BPV =
    (π/2)·Σ|Δp_i||Δp_{i−1}| over INTRADAY tick changes; BPV is
    jump-robust, so RV ≫ BPV marks days whose variance came from a
    price jump rather than diffusion — the event screen a
    volatility desk runs before trusting a vol estimate.

    Exactness: intraday Δp are integer cents (lag within the
    (user, day) partition), so Σd² and Σ|d_i||d_{i−1}| are EXACT
    integer sums — no sorted-fold needed at all; the only floats
    are the final /10000 rescale and the embedded 17-digit π/2
    literal, one agreed tree.

    Scale shape: one (user, day)-keyed window + hash aggregate —
    tick-linear; output is series×days rows."""
    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    w = Window.partitionBy("user_id", F.date_trunc("day", "ts")).orderBy("ts", "event_id")
    t = ev.select(
        "user_id",
        F.date_trunc("day", "ts").alias("date"),
        "ts",
        "event_id",
        cents.alias("cc"),
    ).select(
        "user_id",
        "date",
        "ts",
        "event_id",
        (F.col("cc") - F.lag("cc").over(w)).alias("d"),
    ).select(
        "user_id",
        "date",
        "d",
        F.lag("d").over(w).alias("d_prev"),
    )
    half_pi = F.expr(_lit17(_math.pi / 2.0))
    # DECIMAL hop before the products (same discipline as
    # return_moments' s3/s4): raw BIGINT·BIGINT wraps silently under
    # Spark's non-ANSI mode while DuckDB's HUGEINT sum raises — an
    # asymmetric overflow mode at extreme cents magnitudes (ADVICE
    # r10).  decimal(19,0)² → decimal(38,0) sums exactly; the final
    # bigint cast matches the oracle's CAST(SUM(..) AS BIGINT).
    dd = F.col("d").cast("decimal(19,0)")
    dp_abs = F.abs(F.col("d")).cast("decimal(19,0)")
    dprev_abs = F.abs(F.col("d_prev")).cast("decimal(19,0)")
    agg = t.groupBy("user_id", "date").agg(
        F.count(F.when(F.col("d").isNotNull(), 1)).alias("n_moves"),
        F.sum(dd * dd).cast("bigint").alias("rv_c"),
        F.sum(dp_abs * dprev_abs).cast("bigint").alias("bp_c"),
    )
    rv = F.col("rv_c").cast("double") / F.lit(10000.0)
    bpv = half_pi * (F.col("bp_c").cast("double") / F.lit(10000.0))
    return (
        agg.filter(F.col("n_moves") >= 2)
        .select(
            "user_id",
            "date",
            "n_moves",
            rv.alias("rv"),
            bpv.alias("bpv"),
            (rv > (F.lit(1.0) + F.lit(RV_JUMP_MARGIN)) * bpv).alias("jump_flag"),
        )
        .orderBy("user_id", "date")
    )


def _rv_oracle() -> str:
    half_pi = _lit17(_math.pi / 2.0)
    return f"""
WITH c AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS date, ts, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cc
  FROM events
),
d1 AS (
  SELECT user_id, date, ts, event_id,
         cc - LAG(cc) OVER (PARTITION BY user_id, date ORDER BY ts, event_id) AS d
  FROM c
),
d AS (
  SELECT user_id, date, d,
         LAG(d) OVER (PARTITION BY user_id, date ORDER BY ts, event_id) AS d_prev
  FROM d1
),
a AS (
  SELECT user_id, date,
         COUNT(CASE WHEN d IS NOT NULL THEN 1 END) AS n_moves,
         CAST(SUM(d * d) AS BIGINT) AS rv_c,
         CAST(SUM(ABS(d) * ABS(d_prev)) AS BIGINT) AS bp_c
  FROM d GROUP BY user_id, date
)
SELECT user_id, date, n_moves,
       CAST(rv_c AS DOUBLE) / 10000.0 AS rv,
       {half_pi} * (CAST(bp_c AS DOUBLE) / 10000.0) AS bpv,
       (CAST(rv_c AS DOUBLE) / 10000.0)
         > (1e0 + {RV_JUMP_MARGIN}) * ({half_pi} * (CAST(bp_c AS DOUBLE) / 10000.0))
         AS jump_flag
FROM a
WHERE n_moves >= 2
ORDER BY user_id, date
"""


def return_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series higher-moment panel over daily close changes:
    mean, population std, skewness (m3/m2^{3/2}) and EXCESS
    kurtosis (m4/m2² − 3) — the tail-risk numbers every risk report
    carries next to vol.

    Exactness: the four raw power sums accumulate EXACTLY — Δp in
    integer cents, Σd and Σd² as BIGINT, Σd³ and Σd⁴ through a
    DECIMAL(19,0) hop so the 4th powers (up to ~2·10^18 per term)
    survive both engines' precision caps without silent rounding —
    then central moments and the ratios are one agreed double tree
    (m2·sqrt(m2) instead of pow(·,1.5): pow is the classic
    cross-libm 1-ulp trap). n ≥ 4 rows required for kurtosis to
    mean anything.

    Scale shape: one user-keyed window + hash aggregate, the
    liquidity panel's plan with two more sums."""
    from .fin_domain import ohlcv_resample

    bars = ohlcv_resample(spark, sf_dir).select(
        "user_id", "date", F.col("close").cast("decimal(18,2)").alias("close_d")
    )
    w = Window.partitionBy("user_id").orderBy("date")
    dc = (
        ((F.col("close_d") - F.lag("close_d").over(w)) * 100).cast("bigint")
    ).alias("d")
    d = bars.select("user_id", dc).filter(F.col("d").isNotNull())
    d2 = F.col("d") * F.col("d")
    d2_dec = d2.cast("decimal(19,0)")
    agg = d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("s1c"),
        F.sum(d2).alias("s2c"),
        F.sum(d2_dec * F.col("d").cast("decimal(19,0)")).cast("double").alias("s3d_c"),
        F.sum(d2_dec * d2_dec).cast("double").alias("s4d_c"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1c").cast("double") / F.lit(1e2)
    s2 = F.col("s2c").cast("double") / F.lit(1e4)
    s3 = F.col("s3d_c") / F.lit(1e6)
    s4 = F.col("s4d_c") / F.lit(1e8)
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - F.lit(3.0) * mean * (s2 / n) + F.lit(2.0) * mean * mean * mean
    m4 = (
        s4 / n
        - F.lit(4.0) * mean * (s3 / n)
        + F.lit(6.0) * mean * mean * (s2 / n)
        - F.lit(3.0) * mean * mean * mean * mean
    )
    skew = m3 / F.expr(
        "nullif(greatest(0d, __m2) * sqrt(greatest(0d, __m2)), 0d)"
    )
    kurt = (
        m4 / F.expr("nullif(greatest(0d, __m2) * greatest(0d, __m2), 0d)")
        - F.lit(3.0)
    )
    return (
        agg.filter(F.col("n") >= 4)
        .withColumn("__m2", m2)
        .select(
            "user_id",
            "n",
            mean.alias("mean_dp"),
            F.sqrt(F.greatest(F.lit(0.0), F.col("__m2"))).alias("std_dp"),
            skew.alias("skew_dp"),
            kurt.alias("ex_kurt_dp"),
        )
        .orderBy("user_id")
    )


ORACLE_RETURN_MOMENTS = """
WITH t AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS date, value,
    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_d
  FROM events
),
bars AS (
  SELECT user_id, date,
         CAST(MIN(CASE WHEN rn_d = 1 THEN value END) AS DECIMAL(18,2)) AS close_d
  FROM t GROUP BY user_id, date
),
d AS (
  SELECT user_id,
         CAST((close_d - LAG(close_d) OVER (PARTITION BY user_id ORDER BY date)) * 100
              AS BIGINT) AS d
  FROM bars
  QUALIFY d IS NOT NULL
),
a AS (
  SELECT user_id,
         COUNT(*) AS n,
         CAST(SUM(d) AS BIGINT) AS s1c,
         CAST(SUM(d * d) AS BIGINT) AS s2c,
         CAST(SUM(CAST(d * d AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0))) AS DOUBLE) AS s3d_c,
         CAST(SUM(CAST(d * d AS DECIMAL(19,0)) * CAST(d * d AS DECIMAL(19,0))) AS DOUBLE) AS s4d_c
  FROM d GROUP BY user_id
),
m AS (
  SELECT user_id, n,
         CAST(s1c AS DOUBLE) / 1e2 / CAST(n AS DOUBLE) AS mean,
         (CAST(s2c AS DOUBLE) / 1e4) / CAST(n AS DOUBLE)
           - (CAST(s1c AS DOUBLE) / 1e2 / CAST(n AS DOUBLE))
             * (CAST(s1c AS DOUBLE) / 1e2 / CAST(n AS DOUBLE)) AS m2,
         (s3d_c / 1e6) / CAST(n AS DOUBLE)
           - 3e0 * (CAST(s1c AS DOUBLE) / 1e2 / CAST(n AS DOUBLE))
                 * ((CAST(s2c AS DOUBLE) / 1e4) / CAST(n AS DOUBLE))
           + 2e0 * (CAST(s1c AS DOUBLE) / 1e2 / CAST(n AS DOUBLE))
                 * (CAST(s1c AS DOUBLE) / 1e2 / CAST(n AS DOUBLE))
                 * (CAST(s1c AS DOUBLE) / 1e2 / CAST(n AS DOUBLE)) AS m3,
         (s4d_c / 1e8) / CAST(n AS DOUBLE)
           - 4e0 * (CAST(s1c AS DOUBLE) / 1e2 / CAST(n AS DOUBLE))
                 * ((s3d_c / 1e6) / CAST(n AS DOUBLE))
           + 6e0 * (CAST(s1c AS DOUBLE) / 1e2 / CAST(n AS DOUBLE))
                 * (CAST(s1c AS DOUBLE) / 1e2 / CAST(n AS DOUBLE))
                 * ((CAST(s2c AS DOUBLE) / 1e4) / CAST(n AS DOUBLE))
           - 3e0 * (CAST(s1c AS DOUBLE) / 1e2 / CAST(n AS DOUBLE))
                 * (CAST(s1c AS DOUBLE) / 1e2 / CAST(n AS DOUBLE))
                 * (CAST(s1c AS DOUBLE) / 1e2 / CAST(n AS DOUBLE))
                 * (CAST(s1c AS DOUBLE) / 1e2 / CAST(n AS DOUBLE)) AS m4
  FROM a
)
SELECT user_id, n, mean AS mean_dp,
       SQRT(GREATEST(0e0, m2)) AS std_dp,
       m3 / NULLIF(GREATEST(0e0, m2) * SQRT(GREATEST(0e0, m2)), 0e0) AS skew_dp,
       m4 / NULLIF(GREATEST(0e0, m2) * GREATEST(0e0, m2), 0e0) - 3e0 AS ex_kurt_dp
FROM m
WHERE n >= 4
ORDER BY user_id
"""


# Tick imbalance bars: initial expected bar size (signed ticks) and
# its floor; the expectation adapts by integer EWMA (E+n) div 2
TIB_E_INIT = 5
TIB_E_MIN = 2


def tick_imbalance_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick imbalance bars (López de Prado 2018 ch. 2.3.2.1,
    deterministic integer variant): accumulate the tick-rule sign
    imbalance θ = Σ b_i since bar start and close a bar the moment
    |θ| reaches the adaptive expectation E; after each close,
    E ← max(E_MIN, (E + n) div 2) where n is the closed bar's
    signed-tick count — an INTEGER EWMA of realized bar sizes, so
    trending flow (bars close in ~E ticks) keeps bars short and
    choppy flow (n ≫ E) stretches them. The book's E[T]·|2P−1|
    expectation needs float EWMAs of two series; this pinned
    all-integer adaptation keeps the recurrence bit-exact in any
    engine while preserving the self-calibrating behavior.

    Because each signed tick moves θ by ±1, the threshold is hit
    with EQUALITY — |θ| at close is exactly E, and the bar's
    direction is sign(θ).

    Sequential by construction (bar boundaries and the threshold
    both depend on every earlier fire), so it runs as a pandas
    island (``operators.ewm.grouped_map``) whose kernel walks a frame
    of whole series — one shuffle on the series key, integer state
    (θ, E, n, seq) — and the DuckDB oracle replays it
    with a per-signed-tick recursive CTE (depth = max signed ticks
    per series, entity-parallel breadth)."""
    import pandas as pd

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t = ev.select("user_id", "ts", "event_id", cents.alias("cc")).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("cc") - F.lag("cc").over(w)).alias("dc"),
    )
    raw_sign = F.when(F.col("dc") > 0, 1).when(F.col("dc") < 0, -1)
    signed = (
        t.select(
            "user_id",
            "ts",
            "event_id",
            F.last(raw_sign, ignorenulls=True).over(wcum).alias("b"),
        )
        .filter(F.col("b").isNotNull())
        .select(
            "user_id",
            "event_id",
            "b",
            F.row_number().over(w).alias("srn"),
        )
    )
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("bar_seq", IntegerType()),
            StructField("closed_at_event", LongType()),
            StructField("n_signed", IntegerType()),
            StructField("threshold", IntegerType()),
            StructField("direction", IntegerType()),
        ]
    )
    e_init, e_min = TIB_E_INIT, TIB_E_MIN

    def kernel(pdf):
        pdf = pdf.sort_values(["user_id", "srn"], kind="stable")
        uids = pdf["user_id"].to_numpy()
        evs = pdf["event_id"].to_numpy()
        bs = pdf["b"].to_numpy()
        out = []
        theta = n_in = 0
        e_cur = e_init
        seq = 0
        for i in range(len(uids)):
            if i == 0 or uids[i] != uids[i - 1]:
                theta, n_in, e_cur, seq = 0, 0, e_init, 0
            theta += int(bs[i])
            n_in += 1
            if abs(theta) >= e_cur:
                out.append(
                    (
                        int(uids[i]),
                        seq,
                        int(evs[i]),
                        n_in,
                        e_cur,
                        1 if theta > 0 else -1,
                    )
                )
                e_cur = max(e_min, (e_cur + n_in) // 2)
                theta, n_in = 0, 0
                seq += 1
        return pd.DataFrame(
            out,
            columns=[f.name for f in schema.fields],
        ).astype(
            {
                "user_id": "int64",
                "bar_seq": "int32",
                "closed_at_event": "int64",
                "n_signed": "int32",
                "threshold": "int32",
                "direction": "int32",
            }
        )

    return grouped_map(signed, "user_id", kernel, schema).orderBy("user_id", "bar_seq")


ORACLE_TICK_IMBALANCE_BARS = f"""
WITH RECURSIVE c AS (
  SELECT user_id, ts, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cc
  FROM events
),
d AS (
  SELECT *, cc - LAG(cc) OVER w AS dc
  FROM c
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, event_id,
         LAST_VALUE(CASE WHEN dc > 0 THEN 1 WHEN dc < 0 THEN -1 END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b
  FROM d
),
sg AS (
  SELECT user_id, event_id, b,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS srn
  FROM s WHERE b IS NOT NULL
),
walk AS (
  -- post-state per signed tick (theta/n_in already reset, e_cur and
  -- seq already advanced when the tick closed a bar); emit_* carry
  -- the closed bar's facts for the final projection
  SELECT user_id, srn, event_id,
         CASE WHEN ABS(CAST(b AS INT)) >= {TIB_E_INIT} THEN 0 ELSE CAST(b AS INT) END AS theta,
         CASE WHEN ABS(CAST(b AS INT)) >= {TIB_E_INIT} THEN 0 ELSE 1 END AS n_in,
         CASE WHEN ABS(CAST(b AS INT)) >= {TIB_E_INIT}
              THEN GREATEST({TIB_E_MIN}, ({TIB_E_INIT} + 1) // 2)
              ELSE {TIB_E_INIT} END AS e_cur,
         CASE WHEN ABS(CAST(b AS INT)) >= {TIB_E_INIT} THEN 1 ELSE 0 END AS seq,
         (ABS(CAST(b AS INT)) >= {TIB_E_INIT}) AS closed,
         0 AS emit_seq, 1 AS emit_n, {TIB_E_INIT} AS emit_thr,
         CASE WHEN CAST(b AS INT) > 0 THEN 1 ELSE -1 END AS emit_dir
  FROM sg WHERE srn = 1
  UNION ALL
  SELECT user_id, srn, event_id,
         CASE WHEN fired THEN 0 ELSE ntheta END AS theta,
         CASE WHEN fired THEN 0 ELSE nn END AS n_in,
         CASE WHEN fired THEN GREATEST({TIB_E_MIN}, (ecur + nn) // 2)
              ELSE ecur END AS e_cur,
         CASE WHEN fired THEN pseq + 1 ELSE pseq END AS seq,
         fired AS closed,
         pseq AS emit_seq, nn AS emit_n, ecur AS emit_thr,
         CASE WHEN ntheta > 0 THEN 1 ELSE -1 END AS emit_dir
  FROM (
    SELECT g.user_id, g.srn, g.event_id,
           w.theta + CAST(g.b AS INT) AS ntheta,
           w.n_in + 1 AS nn,
           w.e_cur AS ecur,
           w.seq AS pseq,
           (ABS(w.theta + CAST(g.b AS INT)) >= w.e_cur) AS fired
    FROM walk w
    JOIN sg g ON g.user_id = w.user_id AND g.srn = w.srn + 1
  )
)
SELECT user_id,
       CAST(emit_seq AS INT) AS bar_seq,
       event_id AS closed_at_event,
       CAST(emit_n AS INT) AS n_signed,
       CAST(emit_thr AS INT) AS threshold,
       CAST(emit_dir AS INT) AS direction
FROM walk
WHERE closed
ORDER BY user_id, bar_seq
"""


def drawdown_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series drawdown ledger over the daily close path: peak
    close, maximum drawdown (dollars and fraction-of-peak), and the
    longest underwater spell (bars between consecutive new peaks) —
    the numbers a risk memo quotes next to the return moments.

    Exactness: the running peak is a DECIMAL window max (exact
    compare), drawdowns are exact DECIMAL differences, and the only
    doubles are per-row ratios whose per-user MAX is order-free
    (max is associative — no fold discipline needed). The
    underwater spell is pure integer rank arithmetic: a row is a
    NEW PEAK iff close equals the running peak, and the spell is
    ``rn − last_peak_rn``.

    Scale shape: one window pass per series key (running max, rank,
    last-peak carry share the sort) + one hash aggregate."""
    from .fin_domain import ohlcv_resample

    bars = ohlcv_resample(spark, sf_dir).select(
        "user_id", "date", F.col("close").cast("decimal(18,2)").alias("close_d")
    )
    w = Window.partitionBy("user_id").orderBy("date")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t = bars.select(
        "user_id",
        "close_d",
        F.row_number().over(w).alias("rn"),
        F.max("close_d").over(wcum).alias("peak"),
    ).select(
        "*",
        (F.col("close_d") == F.col("peak")).alias("is_peak"),
    )
    wrn = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = t.select(
        "*",
        F.max(F.when(F.col("is_peak"), F.col("rn"))).over(wrn).alias("last_peak_rn"),
    )
    dd = F.col("peak") - F.col("close_d")
    dd_frac = dd.cast("double") / F.col("peak").cast("double")
    return (
        t.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.max("peak").cast("double").alias("peak_close"),
            F.max(dd).cast("double").alias("max_dd"),
            F.max(dd_frac).alias("max_dd_frac"),
            F.max(F.col("rn") - F.col("last_peak_rn")).alias("longest_underwater"),
        )
        .orderBy("user_id")
    )


ORACLE_DRAWDOWN_PANEL = """
WITH t0 AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS date, value,
    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_d
  FROM events
),
bars AS (
  SELECT user_id, date,
         CAST(MIN(CASE WHEN rn_d = 1 THEN value END) AS DECIMAL(18,2)) AS close_d
  FROM t0 GROUP BY user_id, date
),
p AS (
  SELECT user_id, close_d,
         ROW_NUMBER() OVER w AS rn,
         MAX(close_d) OVER (PARTITION BY user_id ORDER BY date
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM bars
  WINDOW w AS (PARTITION BY user_id ORDER BY date)
),
q AS (
  SELECT *,
         MAX(CASE WHEN close_d = peak THEN rn END)
           OVER (PARTITION BY user_id ORDER BY rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_peak_rn
  FROM p
)
SELECT user_id,
       COUNT(*) AS n_days,
       CAST(MAX(peak) AS DOUBLE) AS peak_close,
       CAST(MAX(peak - close_d) AS DOUBLE) AS max_dd,
       MAX(CAST(peak - close_d AS DOUBLE) / CAST(peak AS DOUBLE)) AS max_dd_frac,
       CAST(MAX(rn - last_peak_rn) AS BIGINT) AS longest_underwater
FROM q
GROUP BY user_id
ORDER BY user_id
"""


# Pairs spread: trailing z-score window (full windows only)
PAIRS_Z_WINDOW = 10


def pairs_spread_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs-trading spread monitor: pick the MOST correlated pair
    from the top-K cross-sectional panel (in-plan argmax —
    |corr| desc with deterministic tie-breaks, no driver collect),
    fit the OLS hedge ratio β of close_a on close_b over their
    common dates, and emit the spread ``close_a − β·close_b`` with
    its trailing z-score — the entry/exit signal series of a
    classic statistical-arbitrage book.

    Exactness: β comes from exact DECIMAL close-level moment sums
    in one agreed double tree; the spread is a per-row double; the
    trailing mean/var fold the window's spread and spread² lists in
    ascending-double order (the volatility-panel pattern; window =
    {PAIRS_Z_WINDOW} rows).

    Scale shape: rides the correlation panel's bounded K² frame;
    the spread series itself is one pair's calendar — everything
    after the panel is broadcast-sized."""
    from .fin_domain import ohlcv_resample

    bars = ohlcv_resample(spark, sf_dir).select(
        "user_id", "date", F.col("close").cast("decimal(18,2)").alias("close_d")
    ).persist()
    # panel built from THIS query's pinned bars (not the public
    # correlation query, whose own persisted rets frame would be
    # orphaned here — the pin-lifecycle leak ADVICE r09 flagged)
    corr = _corr_panel_from_rets(_rets_from_bars(bars))
    # r12 optimization: `pair` (1 row) is the argmax of the whole
    # K²-pair correlation panel, and `p` (one pair's calendar, ≤
    # |dates| rows) feeds both the β-moment broadcast build and the
    # spread branch — left lazy, each broadcast build re-evaluated
    # the panel/pair lineage (before-plan: 57 exchanges, 0 reuse;
    # 5.2s in-harness). Eager checkpoints pin both bounded frames so
    # the panel argmax runs ONCE and the bars cache can be released
    # at construction end instead of via the result pin. Measured at
    # sf0.1 (fresh JVM, min-of-3): 8.2 → 5.9s warm, 15.1 → 10.1s
    # cold; at scale the panel argmax is the whole K²-pair pass.
    pair = (
        corr.orderBy(
            F.abs(F.col("corr_dp")).desc_nulls_last(), "user_a", "user_b"
        )
        .limit(1)
        .select("user_a", "user_b")
        .localCheckpoint(eager=True)
    )
    a = bars.join(
        F.broadcast(pair), F.col("user_id") == F.col("user_a")
    ).select("user_a", "user_b", "date", F.col("close_d").alias("ca"))
    b = bars.select(
        F.col("user_id").alias("ub"),
        F.col("date").alias("date_b"),
        F.col("close_d").alias("cb"),
    )
    p = (
        a.join(b, (F.col("user_b") == F.col("ub")) & (F.col("date") == F.col("date_b")))
        .select("user_a", "user_b", "date", "ca", "cb")
        .localCheckpoint(eager=True)
    )
    bars.unpersist()
    mom = p.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cb").cast("double").alias("sx"),
        F.sum("ca").cast("double").alias("sy"),
        F.sum(F.col("cb") * F.col("ca")).cast("double").alias("sxy"),
        F.sum(F.col("cb") * F.col("cb")).cast("double").alias("sxx"),
    )
    n = F.col("n").cast("double")
    beta = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.expr(
        "nullif(cast(n as double) * sxx - sx * sx, 0d)"
    )
    betaf = mom.select("user_a", "user_b", beta.alias("beta"))
    sp = p.join(F.broadcast(betaf), ["user_a", "user_b"]).select(
        "user_a",
        "user_b",
        "date",
        "beta",
        (F.col("ca").cast("double") - F.col("beta") * F.col("cb").cast("double")).alias(
            "spread"
        ),
    )
    wz = (
        Window.partitionBy("user_a", "user_b")
        .orderBy("date")
        .rowsBetween(-(PAIRS_Z_WINDOW - 1), Window.currentRow)
    )
    sp = sp.select(
        "*",
        F.array_sort(F.collect_list("spread").over(wz)).alias("tw"),
        F.array_sort(
            F.collect_list(F.col("spread") * F.col("spread")).over(wz)
        ).alias("tw2"),
    )

    def fold(c):
        return F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x)

    wN = float(PAIRS_Z_WINDOW)
    mean = fold("tw") / F.lit(wN)
    var = fold("tw2") / F.lit(wN) - mean * mean
    z = (F.col("spread") - mean) / F.expr(
        "nullif(sqrt(greatest(0d, __var)), 0d)"
    )
    return (
        sp.filter(F.size("tw") == PAIRS_Z_WINDOW)
        .withColumn("__var", var)
        .select(
            "user_a",
            "user_b",
            "date",
            "beta",
            "spread",
            z.alias("z_spread"),
        )
        .orderBy("date")
    )


def _pairs_oracle() -> str:
    return f"""
WITH t AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS date, value,
    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_d
  FROM events
),
bars AS (
  SELECT user_id, date,
         CAST(MIN(CASE WHEN rn_d = 1 THEN value END) AS DECIMAL(18,2)) AS close_d
  FROM t GROUP BY user_id, date
),
rets AS (
  SELECT user_id, date,
         CAST(close_d - LAG(close_d) OVER (PARTITION BY user_id ORDER BY date)
              AS DECIMAL(18,2)) AS dp
  FROM bars
  QUALIFY dp IS NOT NULL
),
topk AS (
  SELECT user_id FROM (
    SELECT user_id, COUNT(*) AS n_bars FROM rets GROUP BY user_id
  ) ORDER BY n_bars DESC, user_id ASC LIMIT {XSECT_TOP_K}
),
sel AS (SELECT r.* FROM rets r JOIN topk USING (user_id)),
m AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b,
         COUNT(*) AS n_days,
         CAST(SUM(a.dp) AS DOUBLE) AS sx,
         CAST(SUM(b.dp) AS DOUBLE) AS sy,
         CAST(SUM(a.dp * b.dp) AS DOUBLE) AS sxy,
         CAST(SUM(a.dp * a.dp) AS DOUBLE) AS sxx,
         CAST(SUM(b.dp * b.dp) AS DOUBLE) AS syy
  FROM sel a JOIN sel b ON a.date = b.date AND a.user_id < b.user_id
  GROUP BY a.user_id, b.user_id
),
corr AS (
  SELECT user_a, user_b,
    (CAST(n_days AS DOUBLE) * sxy - sx * sy)
      / NULLIF(SQRT(GREATEST(0e0, CAST(n_days AS DOUBLE) * sxx - sx * sx))
             * SQRT(GREATEST(0e0, CAST(n_days AS DOUBLE) * syy - sy * sy)), 0e0) AS corr_dp
  FROM m WHERE n_days >= 3
),
pair AS (
  SELECT user_a, user_b FROM corr
  ORDER BY (ABS(corr_dp) IS NULL), ABS(corr_dp) DESC, user_a, user_b
  LIMIT 1
),
p AS (
  SELECT pair.user_a, pair.user_b, a.date, a.close_d AS ca, b.close_d AS cb
  FROM pair
  JOIN bars a ON a.user_id = pair.user_a
  JOIN bars b ON b.user_id = pair.user_b AND b.date = a.date
),
mo AS (
  SELECT user_a, user_b,
         COUNT(*) AS n,
         CAST(SUM(cb) AS DOUBLE) AS sx,
         CAST(SUM(ca) AS DOUBLE) AS sy,
         CAST(SUM(cb * ca) AS DOUBLE) AS sxy,
         CAST(SUM(cb * cb) AS DOUBLE) AS sxx
  FROM p GROUP BY user_a, user_b
),
bf AS (
  SELECT user_a, user_b,
         (CAST(n AS DOUBLE) * sxy - sx * sy)
           / NULLIF(CAST(n AS DOUBLE) * sxx - sx * sx, 0e0) AS beta
  FROM mo
),
sp AS (
  SELECT p.user_a, p.user_b, p.date, bf.beta,
         CAST(p.ca AS DOUBLE) - bf.beta * CAST(p.cb AS DOUBLE) AS spread
  FROM p JOIN bf ON p.user_a = bf.user_a AND p.user_b = bf.user_b
),
tw AS (
  SELECT *,
         list_sort(list(spread) OVER wz) AS t1,
         list_sort(list(spread * spread) OVER wz) AS t2
  FROM sp
  WINDOW wz AS (PARTITION BY user_a, user_b ORDER BY date
                ROWS BETWEEN {PAIRS_Z_WINDOW - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_a, user_b, date, beta, spread,
  (spread - list_reduce(list_prepend(CAST(0.0 AS DOUBLE), t1), (acc, x) -> acc + x)
            / {float(PAIRS_Z_WINDOW)!r})
    / NULLIF(SQRT(GREATEST(0e0,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), t2), (acc, x) -> acc + x)
          / {float(PAIRS_Z_WINDOW)!r}
        - (list_reduce(list_prepend(CAST(0.0 AS DOUBLE), t1), (acc, x) -> acc + x)
           / {float(PAIRS_Z_WINDOW)!r})
          * (list_reduce(list_prepend(CAST(0.0 AS DOUBLE), t1), (acc, x) -> acc + x)
             / {float(PAIRS_Z_WINDOW)!r}))), 0e0) AS z_spread
FROM tw
WHERE len(t1) = {PAIRS_Z_WINDOW}
ORDER BY date
"""


def inverse_variance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-variance portfolio allocation over the top-K active
    series — the naive-risk-parity baseline every allocation study
    starts from (and the leaf-level rule inside HRP): weight_i ∝
    1/σ²_i over daily close changes, normalized to sum to 1.

    Exactness: per-series variance comes from exact integer-cents
    power sums in one agreed double tree (the return_moments
    discipline); the cross-series normalizer Σ 1/σ² — a cross-row
    DOUBLE sum — folds the K inverse variances in ascending-double
    order (sorted-fold, K = {XSECT_TOP_K} values) and is broadcast
    back as a 1-row frame (no unpartitioned window).

    Scale shape: bounded by contract to the top-K panel; everything
    after the per-series aggregate is K-row arithmetic."""
    from .fin_domain import ohlcv_resample

    bars = ohlcv_resample(spark, sf_dir).select(
        "user_id", "date", F.col("close").cast("decimal(18,2)").alias("close_d")
    )
    # r12 optimization: rets feeds the top-K broadcast build AND the
    # moment aggregate, and the K-row pv frame feeds the normalizer
    # broadcast AND the main branch — the before-plan evaluated the
    # events → bars → Δclose lineage 4× (4 events scans, 0 reuse).
    # Construction-scoped persist + two bounded eager checkpoints
    # (topk = K rows, pv ≤ K rows) collapse that to ONE tick pass;
    # the cache is dropped before returning, so no session storage
    # outlives the call. At sf0.1 the change is wall-neutral (min
    # 1.60 → 1.64s, fresh JVM — re-scans of a 100 MB table ride the
    # OS page cache); the point is the pass count at scale, where
    # each avoided pass is a full tick-table read.
    rets = _rets_from_bars(bars).persist()
    topk = (
        rets.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_bars"))
        .orderBy(F.desc("n_bars"), F.asc("user_id"))
        .limit(XSECT_TOP_K)
        .select("user_id")
        .localCheckpoint(eager=True)
    )
    d = rets.join(F.broadcast(topk), "user_id").select(
        "user_id", (F.col("dp") * 100).cast("bigint").alias("dc")
    )
    agg = d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dc").alias("s1c"),
        F.sum(F.col("dc") * F.col("dc")).alias("s2c"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1c").cast("double") / F.lit(1e2)
    s2 = F.col("s2c").cast("double") / F.lit(1e4)
    var = (n * s2 - s1 * s1) / (n * (n - F.lit(1.0)))
    pv = agg.filter(F.col("n") >= 2).select(
        "user_id",
        "n",
        var.alias("var_dp"),
    ).filter(F.col("var_dp") > 0)
    inv = (F.lit(1.0) / F.col("var_dp")).alias("inv_var")
    pv = pv.select("*", inv).localCheckpoint(eager=True)
    rets.unpersist()
    tot = pv.agg(
        F.aggregate(
            F.array_sort(F.collect_list("inv_var")), F.lit(0.0), lambda a, x: a + x
        ).alias("__tot")
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n",
            "var_dp",
            (F.col("inv_var") / F.col("__tot")).alias("weight"),
        )
        .orderBy("user_id")
    )


ORACLE_INVERSE_VARIANCE_WEIGHTS = f"""
WITH t AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS date, value,
    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_d
  FROM events
),
bars AS (
  SELECT user_id, date,
         CAST(MIN(CASE WHEN rn_d = 1 THEN value END) AS DECIMAL(18,2)) AS close_d
  FROM t GROUP BY user_id, date
),
rets AS (
  SELECT user_id, date,
         CAST(close_d - LAG(close_d) OVER (PARTITION BY user_id ORDER BY date)
              AS DECIMAL(18,2)) AS dp
  FROM bars
  QUALIFY dp IS NOT NULL
),
topk AS (
  SELECT user_id FROM (
    SELECT user_id, COUNT(*) AS n_bars FROM rets GROUP BY user_id
  ) ORDER BY n_bars DESC, user_id ASC LIMIT {XSECT_TOP_K}
),
d AS (
  SELECT r.user_id, CAST(r.dp * 100 AS BIGINT) AS dc
  FROM rets r JOIN topk USING (user_id)
),
a AS (
  SELECT user_id, COUNT(*) AS n,
         CAST(SUM(dc) AS BIGINT) AS s1c,
         CAST(SUM(dc * dc) AS BIGINT) AS s2c
  FROM d GROUP BY user_id
),
pv AS (
  SELECT user_id, n,
         (CAST(n AS DOUBLE) * (CAST(s2c AS DOUBLE) / 1e4)
            - (CAST(s1c AS DOUBLE) / 1e2) * (CAST(s1c AS DOUBLE) / 1e2))
           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1e0)) AS var_dp
  FROM a WHERE n >= 2
),
pv2 AS (
  SELECT * , 1e0 / var_dp AS inv_var FROM pv WHERE var_dp > 0
),
tot AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(inv_var))),
                     (acc, x) -> acc + x) AS total
  FROM pv2
)
SELECT pv2.user_id, pv2.n, pv2.var_dp, pv2.inv_var / tot.total AS weight
FROM pv2, tot
ORDER BY pv2.user_id
"""


QUERIES = {
    "dollar_bars": dollar_bars,
    "microstructure_liquidity": microstructure_liquidity,
    "cross_sectional_correlation": cross_sectional_correlation,
    "volatility_estimators": volatility_estimators,
    "order_flow_imbalance": order_flow_imbalance,
    "vpin_dollar_buckets": vpin_dollar_buckets,
    "realized_variance_jumps": realized_variance_jumps,
    "return_moments": return_moments,
    "tick_imbalance_bars": tick_imbalance_bars,
    "drawdown_panel": drawdown_panel,
    "pairs_spread_zscore": pairs_spread_zscore,
    "inverse_variance_weights": inverse_variance_weights,
}

ORACLES = {
    "dollar_bars": ORACLE_DOLLAR_BARS,
    "microstructure_liquidity": ORACLE_MICROSTRUCTURE_LIQUIDITY,
    "cross_sectional_correlation": ORACLE_CROSS_SECTIONAL_CORRELATION,
    "volatility_estimators": _vol_oracle(),
    "order_flow_imbalance": ORACLE_ORDER_FLOW_IMBALANCE,
    "vpin_dollar_buckets": ORACLE_VPIN_DOLLAR_BUCKETS,
    "realized_variance_jumps": _rv_oracle(),
    "return_moments": ORACLE_RETURN_MOMENTS,
    "tick_imbalance_bars": ORACLE_TICK_IMBALANCE_BARS,
    "drawdown_panel": ORACLE_DRAWDOWN_PANEL,
    "pairs_spread_zscore": _pairs_oracle(),
    "inverse_variance_weights": ORACLE_INVERSE_VARIANCE_WEIGHTS,
}
