"""Financial-ML dataset-construction queries: robust outlier
screening, leakage-aware walk-forward CV splits, and triple-barrier
labeling.

These extend the reference's backtesting/labeling surface
(reference: backtesting/trade_success_predictor.py builds a binary
trade-outcome label set; backtesting/backtest_signals.py walks
signals forward bar-by-bar) with the three standard dataset-prep
steps a financial-ML pipeline runs BEFORE training — as published
in López de Prado, *Advances in Financial Machine Learning* (2018):
purged walk-forward splits with an embargo (ch. 7), triple-barrier
labeling (ch. 3), and robust (median/MAD) outlier screening
(Iglewicz & Hoaglin 1993, the modified z-score).

Everything is exact-arithmetic and rank-based (discrete median
selection, integer fold assignment) so each query carries a
bit-exact DuckDB value oracle — the same discipline as
``segment_percentile_bounds``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ewm import grouped_map
from ..sources.catalog import load_table

# Iglewicz-Hoaglin modified z-score: 0.6745 * (x - med) / MAD, flag > 3.5
MAD_Z_SCALE = 0.6745
MAD_Z_CUTOFF = 3.5

# Purged walk-forward: K time-ordered folds per series, 1-day embargo
# between a fold's train set and its test window (López de Prado ch.7)
WF_FOLDS = 5
WF_EMBARGO = "INTERVAL '1' DAY"

# Triple-barrier: ±5% horizontal barriers, 10-bar vertical barrier
TB_HORIZON = 10
TB_PT = "1.05e0"  # profit-take multiple on entry close
TB_SL = "0.95e0"  # stop-loss multiple on entry close


def robust_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust outlier screen on event values via the
    median/MAD modified z-score (Iglewicz & Hoaglin 1993): data-
    quality triage that, unlike mean/stddev z-scores, is not itself
    dragged by the outliers it hunts.

    Both medians are DISCRETE rank selections (value at
    ceil(0.5*n), the ``segment_percentile_bounds`` pattern) so med
    and MAD are actual data values and the DuckDB oracle is
    bit-exact — interpolated quantiles would differ in last ulps
    across engines.

    Scale shape: two rank windows partitioned by user_id (the
    natural key, ~uniform) plus one broadcast join of the per-user
    median frame (|users| rows) back onto events; no global sort,
    no UDF. At 100 TB the per-user partitions stay bounded by the
    per-key event count, and the med/MAD frames remain
    broadcast-sized (one row per user-aggregate)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    wc = Window.partitionBy("user_id")
    ranked = ev.select(
        "user_id",
        "event_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    mid = F.ceil(F.lit(0.5) * F.col("n")).cast("int")
    # r12 optimization: meds (one row per user) feeds the MAD branch
    # AND the final aggregate — lazy, each consumer re-ran the full
    # rank-window pass over events (before-plan: 4 events scans).
    # Eager-checkpointing the bounded per-user frame makes the query
    # exactly three tick passes (med rank, MAD rank, final agg) —
    # the algorithmic minimum for sequential med → MAD → z. Wall-
    # neutral at sf0.1 (min-of-6 fresh-JVM: 1.25 vs 1.34s — the
    # duplicate pass rode the page cache); the lever is the pass
    # count at 100 TB. mads stays lazy: it has ONE consumer, and an
    # eager cut there only serializes work the broadcast build
    # overlaps.
    meds = ranked.groupBy("user_id").agg(
        F.min(F.when(F.col("rn") == mid, F.col("value"))).alias("med")
    ).localCheckpoint(eager=True)
    dev = ev.join(F.broadcast(meds), "user_id").select(
        "user_id",
        "event_id",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("abs_dev"),
    )
    w2 = Window.partitionBy("user_id").orderBy("abs_dev", "event_id")
    dev_ranked = dev.select(
        "*",
        F.row_number().over(w2).alias("rn2"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    mads = dev_ranked.groupBy("user_id").agg(
        F.min(F.when(F.col("rn2") == mid, F.col("abs_dev"))).alias("mad")
    )
    z = F.abs(
        F.lit(MAD_Z_SCALE) * (F.col("value") - F.col("med")) / F.expr("nullif(mad, 0d)")
    )
    return (
        dev.join(F.broadcast(mads), "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("med").alias("med_value"),
            F.min("mad").alias("mad_value"),
            F.count(F.when(z > MAD_Z_CUTOFF, 1)).alias("n_outliers"),
            F.max(z).alias("max_abs_z"),
        )
        .orderBy("user_id")
    )


ORACLE_ROBUST_OUTLIER_MAD = f"""
WITH r AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
),
m AS (
  SELECT user_id,
         MIN(CASE WHEN rn = CAST(CEIL(0.5e0 * n) AS INT) THEN value END) AS med
  FROM r GROUP BY user_id
),
d AS (
  SELECT r.user_id, r.event_id, r.value, m.med,
         ABS(r.value - m.med) AS abs_dev,
         ROW_NUMBER() OVER (PARTITION BY r.user_id
                            ORDER BY ABS(r.value - m.med), r.event_id) AS rn2,
         r.n
  FROM r JOIN m ON r.user_id = m.user_id
),
md AS (
  SELECT user_id,
         MIN(CASE WHEN rn2 = CAST(CEIL(0.5e0 * n) AS INT) THEN abs_dev END) AS mad
  FROM d GROUP BY user_id
)
SELECT d.user_id,
       COUNT(*) AS n_events,
       MIN(d.med) AS med_value,
       MIN(md.mad) AS mad_value,
       COUNT(CASE WHEN ABS({MAD_Z_SCALE} * (d.value - d.med) / NULLIF(md.mad, 0e0))
                       > {MAD_Z_CUTOFF} THEN 1 END) AS n_outliers,
       MAX(ABS({MAD_Z_SCALE} * (d.value - d.med) / NULLIF(md.mad, 0e0))) AS max_abs_z
FROM d JOIN md ON d.user_id = md.user_id
GROUP BY d.user_id
ORDER BY d.user_id
"""


def purged_walkforward_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged walk-forward CV folds with an embargo (López de Prado
    2018 ch. 7): per user, K contiguous time-ordered folds; fold k
    tests on its window and trains on all EARLIER rows minus an
    embargo strip (rows within 1 day before the test window, whose
    labels could leak test-period information). Output is the fold
    manifest a training loop consumes: test bounds + train/embargo/
    test row counts per (user, fold).

    Fold ids come from integer rank arithmetic
    (``((rn-1)*K) div n`` — exact, engine-independent), not NTILE,
    so both engines agree on every boundary.

    Scale shape: one rank window per user (same shuffle the fold
    assignment itself needs), then the row set joins the
    BROADCAST fold-bounds frame (|users|*K rows) with fold < b.fold
    — a bounded K-way fan-out of pre-aggregated candidates, never a
    row×row product. At 100 TB the bounds side stays tiny and the
    probe is one broadcast-hash pass over events."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = Window.partitionBy("user_id")
    folded = ev.select(
        "user_id",
        "ts",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    ).select(
        "user_id",
        "ts",
        F.expr(f"cast(((rn - 1) * {WF_FOLDS}) div n as int)").alias("fold"),
    )
    bounds = folded.groupBy("user_id", "fold").agg(
        F.min("ts").alias("test_start"),
        F.max("ts").alias("test_end"),
        F.count(F.lit(1)).alias("test_rows"),
    )
    b = F.broadcast(bounds.select("user_id", "fold", "test_start"))
    prior = folded.alias("f").join(
        b.alias("b"),
        (F.col("f.user_id") == F.col("b.user_id")) & (F.col("f.fold") < F.col("b.fold")),
    )
    trained = prior.groupBy(F.col("b.user_id").alias("user_id"), F.col("b.fold").alias("fold")).agg(
        F.count(F.lit(1)).alias("cand_rows"),
        F.count(
            F.when(F.col("f.ts") >= F.expr(f"b.test_start - {WF_EMBARGO}"), 1)
        ).alias("embargo_rows"),
    )
    return (
        bounds.join(trained, ["user_id", "fold"], "left")
        .select(
            "user_id",
            "fold",
            "test_start",
            "test_end",
            "test_rows",
            F.coalesce(
                F.col("cand_rows") - F.col("embargo_rows"), F.lit(0).cast("long")
            ).alias("train_rows"),
            F.coalesce(F.col("embargo_rows"), F.lit(0).cast("long")).alias("embargo_rows"),
        )
        .orderBy("user_id", "fold")
    )


ORACLE_PURGED_WALKFORWARD_SPLITS = f"""
WITH r AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
),
f AS (
  SELECT user_id, ts, CAST(((rn - 1) * {WF_FOLDS}) // n AS INT) AS fold FROM r
),
b AS (
  SELECT user_id, fold, MIN(ts) AS test_start, MAX(ts) AS test_end,
         COUNT(*) AS test_rows
  FROM f GROUP BY user_id, fold
),
tr AS (
  SELECT b.user_id, b.fold,
         COUNT(*) AS cand_rows,
         COUNT(CASE WHEN f.ts >= b.test_start - {WF_EMBARGO} THEN 1 END) AS embargo_rows
  FROM b JOIN f ON f.user_id = b.user_id AND f.fold < b.fold
  GROUP BY b.user_id, b.fold
)
SELECT b.user_id, b.fold, b.test_start, b.test_end, b.test_rows,
       COALESCE(tr.cand_rows - tr.embargo_rows, 0) AS train_rows,
       COALESCE(tr.embargo_rows, 0) AS embargo_rows
FROM b LEFT JOIN tr ON b.user_id = tr.user_id AND b.fold = tr.fold
ORDER BY b.user_id, b.fold
"""


def triple_barrier_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple-barrier labeling (López de Prado 2018 ch. 3) over the
    daily close series: for each bar, look ahead up to 10 bars and
    label +1 if the close first touches the +5% profit-take
    barrier, -1 if it first touches the -5% stop-loss, 0 if neither
    inside the horizon (the vertical barrier). ``bars_to_hit`` is
    the touch distance a sample-weighting step would use.

    The look-ahead is a FIXED-WIDTH array of lead closes (10 window
    lead expressions collapsing into one WindowExec) scanned with
    JVM array lambdas — one shuffle on the series key, no self-join
    fan-out, no Python. The oracle replays it as a bounded-range
    self-join (b.rn in (a.rn, a.rn+10]), which is semantically
    identical but would be the WRONG Spark plan (per-key equi-join
    explodes to n² candidates before the range filter prunes).

    Barrier compares (close >= entry*1.05e0) are single IEEE
    multiplies — bit-identical across engines, so the label set
    value-hashes exactly."""
    from .fin_domain import ohlcv_resample

    bars = ohlcv_resample(spark, sf_dir).select("user_id", "date", "close")
    w = Window.partitionBy("user_id").orderBy("date")
    leads = F.array(
        *[F.lead("close", i).over(w) for i in range(1, TB_HORIZON + 1)]
    ).alias("leads")
    first_up = F.expr(
        f"array_min(filter(sequence(1, {TB_HORIZON}),"
        f" i -> get(leads, i - 1) >= close * {TB_PT}))"
    )
    first_dn = F.expr(
        f"array_min(filter(sequence(1, {TB_HORIZON}),"
        f" i -> get(leads, i - 1) <= close * {TB_SL}))"
    )
    hit = bars.select("user_id", "date", "close", leads).select(
        "user_id",
        "date",
        "close",
        first_up.alias("first_up"),
        first_dn.alias("first_dn"),
    )
    up_wins = F.col("first_up").isNotNull() & (
        F.col("first_dn").isNull() | (F.col("first_up") <= F.col("first_dn"))
    )
    label = (
        F.when(up_wins, 1).when(F.col("first_dn").isNotNull(), -1).otherwise(0)
    ).cast("int")
    bars_to_hit = (
        F.when(up_wins, F.col("first_up"))
        .when(F.col("first_dn").isNotNull(), F.col("first_dn"))
    ).cast("int")
    return hit.select(
        "user_id",
        "date",
        "close",
        label.alias("label"),
        bars_to_hit.alias("bars_to_hit"),
    ).orderBy("user_id", "date")


ORACLE_TRIPLE_BARRIER_LABELS = f"""
WITH t AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS date, value,
    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_d
  FROM events
),
bars AS (
  SELECT user_id, date, MIN(CASE WHEN rn_d = 1 THEN value END) AS close
  FROM t GROUP BY user_id, date
),
rb AS (
  SELECT user_id, date, close,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY date) AS rn
  FROM bars
),
h AS (
  SELECT a.user_id, a.rn,
         MIN(CASE WHEN b.close >= a.close * {TB_PT} THEN b.rn - a.rn END) AS first_up,
         MIN(CASE WHEN b.close <= a.close * {TB_SL} THEN b.rn - a.rn END) AS first_dn
  FROM rb a JOIN rb b
    ON a.user_id = b.user_id AND b.rn > a.rn AND b.rn <= a.rn + {TB_HORIZON}
  GROUP BY a.user_id, a.rn
)
SELECT rb.user_id, rb.date, rb.close,
  CAST(CASE WHEN h.first_up IS NOT NULL
                 AND (h.first_dn IS NULL OR h.first_up <= h.first_dn) THEN 1
            WHEN h.first_dn IS NOT NULL THEN -1 ELSE 0 END AS INT) AS label,
  CAST(CASE WHEN h.first_up IS NOT NULL
                 AND (h.first_dn IS NULL OR h.first_up <= h.first_dn) THEN h.first_up
            WHEN h.first_dn IS NOT NULL THEN h.first_dn END AS INT) AS bars_to_hit
FROM rb LEFT JOIN h ON rb.user_id = h.user_id AND rb.rn = h.rn
ORDER BY rb.user_id, rb.date
"""


# Fractional differentiation: fixed-width window (López de Prado
# ch. 5 "FFD"): w_0 = 1, w_k = -w_{k-1} * (d - k + 1) / k
FFD_D = 0.4
FFD_WINDOW = 20


def _ffd_weights(d: float = FFD_D, width: int = FFD_WINDOW) -> list[float]:
    w = [1.0]
    for k in range(1, width):
        w.append(-w[-1] * (d - k + 1) / k)
    return w


# The close-only bar CTE shared by the label-family oracles
_BARS_CTE = """
WITH t AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS date, value,
    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_d
  FROM events
),
bars AS (
  SELECT user_id, date, MIN(CASE WHEN rn_d = 1 THEN value END) AS close
  FROM t GROUP BY user_id, date
),
rb AS (
  SELECT user_id, date, close,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY date) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM bars
)"""


def frac_diff_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width fractional differentiation of the close series
    (López de Prado 2018 ch. 5): the d=0.4 FFD series keeps long
    memory that integer differencing destroys while restoring
    (approximate) stationarity — the standard feature transform
    between raw prices and an ML model.

    The binomial weights are driver-computed ONCE (20 floats) and
    embedded as literals; the series value is a 20-term
    weight×lag dot product written as one left-associated sum, so
    Spark and the SQL oracle evaluate the identical IEEE expression
    tree — bit-exact with no tolerance.

    Scale shape: a single WindowExec per series key (20 lag
    expressions share one sort), no join, no Python. Weights ride
    in the plan, not in data."""
    from .fin_domain import ohlcv_resample

    bars = ohlcv_resample(spark, sf_dir).select("user_id", "date", "close")
    w = Window.partitionBy("user_id").orderBy("date")
    weights = _ffd_weights()
    expr = F.lit(weights[0]) * F.col("close")
    for k in range(1, FFD_WINDOW):
        expr = expr + F.lit(weights[k]) * F.lag("close", k).over(w)
    return (
        bars.select(
            "user_id",
            "date",
            "close",
            F.row_number().over(w).alias("rn"),
            expr.alias("ffd"),
        )
        .filter(F.col("rn") > FFD_WINDOW - 1)
        .select("user_id", "date", "close", "ffd")
        .orderBy("user_id", "date")
    )


def _ffd_oracle() -> str:
    # Weights are emitted in SCIENTIFIC notation: DuckDB parses a
    # plain decimal literal as DECIMAL and the DECIMAL→DOUBLE cast
    # double-rounds (probed: 1-ulp off Python's float for several
    # FFD weights), while an e-notation literal is parsed straight
    # to the correctly-rounded DOUBLE. 17 significant digits
    # round-trip every binary64 exactly.
    weights = _ffd_weights()
    terms = [f"CAST({weights[0]:.17e} AS DOUBLE) * close"]
    terms += [
        f"CAST({weights[k]:.17e} AS DOUBLE) * LAG(close, {k}) OVER wlag"
        for k in range(1, FFD_WINDOW)
    ]
    series = " + ".join(terms)
    return f"""{_BARS_CTE},
ffd AS (
  SELECT user_id, date, close, rn, {series} AS ffd
  FROM rb
  WINDOW wlag AS (PARTITION BY user_id ORDER BY date)
)
SELECT user_id, date, close, ffd
FROM ffd WHERE rn > {FFD_WINDOW - 1}
ORDER BY user_id, date
"""


# The shared triple-barrier hit columns, SQL side (first_up/first_dn
# per (user_id, rn) from the bounded-range self-join)
_HITS_CTE = f"""
h AS (
  SELECT a.user_id, a.rn,
         MIN(CASE WHEN b.close >= a.close * {TB_PT} THEN b.rn - a.rn END) AS first_up,
         MIN(CASE WHEN b.close <= a.close * {TB_SL} THEN b.rn - a.rn END) AS first_dn
  FROM rb a JOIN rb b
    ON a.user_id = b.user_id AND b.rn > a.rn AND b.rn <= a.rn + {TB_HORIZON}
  GROUP BY a.user_id, a.rn
)"""

_SQL_UP_WINS = "h.first_up IS NOT NULL AND (h.first_dn IS NULL OR h.first_up <= h.first_dn)"


def label_uniqueness_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-uniqueness weights for overlapping triple-barrier
    labels (López de Prado 2018 ch. 4): each label spans the bars
    from entry+1 to its barrier touch (or the vertical barrier);
    overlapping spans share information, so a sample's weight is the
    mean of 1/concurrency over its span — IID-ish samples get ~1,
    heavily overlapped ones get down-weighted.

    Concurrency is an exact interval-stabbing count: spans explode
    to at most TB_HORIZON (user, bar) rows (bounded fan-out), one
    groupBy counts concurrency per bar, one join brings it back, and
    the per-label mean folds 1/c in ascending-double order (the
    engine-independent deterministic-fold pattern used by the LM
    scorers) — bit-exact, no tolerance.

    Scale shape: explode factor is the constant TB_HORIZON, both
    shuffles are keyed on the series key + bar index, and the fold
    is an in-row array op; no Python, no self-join."""
    from .fin_domain import ohlcv_resample

    bars = ohlcv_resample(spark, sf_dir).select("user_id", "date", "close")
    w = Window.partitionBy("user_id").orderBy("date")
    wc = Window.partitionBy("user_id")
    leads = F.array(
        *[F.lead("close", i).over(w) for i in range(1, TB_HORIZON + 1)]
    ).alias("leads")
    first_up = F.expr(
        f"array_min(filter(sequence(1, {TB_HORIZON}),"
        f" i -> get(leads, i - 1) >= close * {TB_PT}))"
    )
    first_dn = F.expr(
        f"array_min(filter(sequence(1, {TB_HORIZON}),"
        f" i -> get(leads, i - 1) <= close * {TB_SL}))"
    )
    hit = bars.select(
        "user_id",
        "date",
        "close",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
        leads,
    ).select(
        "user_id",
        "date",
        "rn",
        "n",
        first_up.alias("first_up"),
        first_dn.alias("first_dn"),
    )
    up_wins = F.col("first_up").isNotNull() & (
        F.col("first_dn").isNull() | (F.col("first_up") <= F.col("first_dn"))
    )
    label = (
        F.when(up_wins, 1).when(F.col("first_dn").isNotNull(), -1).otherwise(0)
    ).cast("int")
    span_len = (
        F.when(up_wins, F.col("first_up"))
        .when(F.col("first_dn").isNotNull(), F.col("first_dn"))
        .otherwise(F.least(F.lit(TB_HORIZON), F.col("n") - F.col("rn")))
    ).cast("int")
    # lbl feeds three plan branches (spans→concurrency, spans→probe,
    # the final label join) — pin it so the bar/window pipeline runs
    # once, not 3× (pin-on-first-action, the repo's shared-branch
    # discipline; the frame is bar-sized, symbols × days)
    lbl = hit.select(
        "user_id", "date", "rn", label.alias("label"), span_len.alias("span_len")
    ).filter(F.col("span_len") >= 1).persist()
    spans = lbl.select(
        "user_id",
        "rn",
        F.explode(F.expr("sequence(rn + 1, rn + span_len)")).alias("t"),
    )
    conc = spans.groupBy("user_id", "t").agg(F.count(F.lit(1)).alias("c"))
    folded = (
        spans.join(conc, ["user_id", "t"])
        .groupBy("user_id", "rn")
        .agg(
            F.array_sort(
                F.collect_list(F.lit(1.0) / F.col("c").cast("double"))
            ).alias("ts")
        )
        .select(
            "user_id",
            "rn",
            F.aggregate(F.col("ts"), F.lit(0.0), lambda acc, x: acc + x).alias("inv_sum"),
        )
    )
    from ..operators.memo import pin_on_first_action

    result = (
        lbl.join(folded, ["user_id", "rn"])
        .select(
            "user_id",
            "date",
            "label",
            "span_len",
            (F.col("inv_sum") / F.col("span_len").cast("double")).alias("avg_uniqueness"),
        )
        .orderBy("user_id", "date")
    )
    return pin_on_first_action(result, [lbl])


ORACLE_LABEL_UNIQUENESS_WEIGHTS = f"""{_BARS_CTE},
{_HITS_CTE.lstrip()},
lbl AS (
  SELECT rb.user_id, rb.date, rb.rn,
    CAST(CASE WHEN {_SQL_UP_WINS} THEN 1
              WHEN h.first_dn IS NOT NULL THEN -1 ELSE 0 END AS INT) AS label,
    CAST(CASE WHEN {_SQL_UP_WINS} THEN h.first_up
              WHEN h.first_dn IS NOT NULL THEN h.first_dn
              ELSE LEAST({TB_HORIZON}, rb.n - rb.rn) END AS INT) AS span_len
  FROM rb LEFT JOIN h ON rb.user_id = h.user_id AND rb.rn = h.rn
),
sp AS (
  SELECT user_id, rn, UNNEST(generate_series(rn + 1, rn + span_len)) AS t
  FROM lbl WHERE span_len >= 1
),
conc AS (
  SELECT user_id, t, COUNT(*) AS c FROM sp GROUP BY user_id, t
),
folded AS (
  SELECT sp.user_id, sp.rn,
         list_sort(list(CAST(1 AS DOUBLE) / CAST(conc.c AS DOUBLE))) AS ts
  FROM sp JOIN conc ON sp.user_id = conc.user_id AND sp.t = conc.t
  GROUP BY sp.user_id, sp.rn
)
SELECT lbl.user_id, lbl.date, lbl.label, lbl.span_len,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), folded.ts),
                   (acc, x) -> acc + x)
         / CAST(lbl.span_len AS DOUBLE) AS avg_uniqueness
FROM lbl JOIN folded ON lbl.user_id = folded.user_id AND lbl.rn = folded.rn
WHERE lbl.span_len >= 1
ORDER BY lbl.user_id, lbl.date
"""


# Dynamic triple-barrier: rolling-σ window and barrier width
TBD_VOL_N = 10  # Δclose std window (full windows only)
TBD_K = "2.0e0"  # barrier half-width in σ units


def triple_barrier_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple-barrier labeling with VOLATILITY-SCALED barriers —
    the book's actual formulation (López de Prado 2018 ch. 3.2 sets
    horizontal barriers at a multiple of the estimated daily vol,
    not at fixed percentages): barrier half-width = 2σ where σ is
    the trailing 10-bar std of Δclose, so quiet series label on
    small moves and volatile ones need proportionally larger moves.

    Exactness: Δclose and its square accumulate in exact DECIMAL
    window sums (segment-tree-order-free), σ and the barrier levels
    are one agreed double tree per row, and the lead-array scan
    compares raw close doubles against those deterministic levels —
    the fixed-barrier query's machinery with per-row thresholds.
    Bars without a full σ window are excluded (documented burn-in).

    Scale shape: identical to ``triple_barrier_labels`` — one
    window pass per series key (σ sums + lead array + row index
    share the sort), no join, no Python."""
    from .fin_domain import ohlcv_resample

    bars = ohlcv_resample(spark, sf_dir).select("user_id", "date", "close")
    w = Window.partitionBy("user_id").orderBy("date")
    wv = w.rowsBetween(-(TBD_VOL_N - 1), Window.currentRow)
    close_d = F.col("close").cast("decimal(18,2)")
    dp = (close_d - F.lag(close_d).over(w)).cast("decimal(18,2)")
    base = bars.select(
        "user_id",
        "date",
        "close",
        F.row_number().over(w).alias("rn"),
        dp.alias("dp"),
    )
    base = base.select(
        "user_id",
        "date",
        "close",
        "rn",
        F.count(F.when(F.col("dp").isNotNull(), 1)).over(wv).alias("nv"),
        F.sum("dp").over(wv).cast("double").alias("s1"),
        F.sum(F.col("dp") * F.col("dp")).over(wv).cast("double").alias("s2"),
        F.array(*[F.lead("close", i).over(w) for i in range(1, TB_HORIZON + 1)]).alias(
            "leads"
        ),
    )
    nv = F.col("nv").cast("double")
    sigma = F.sqrt(
        F.greatest(
            F.lit(0.0),
            (nv * F.col("s2") - F.col("s1") * F.col("s1")) / (nv * (nv - F.lit(1.0))),
        )
    )
    scored = base.filter(F.col("nv") == TBD_VOL_N).select(
        "user_id",
        "date",
        "close",
        "leads",
        sigma.alias("sigma"),
    )
    first_up = F.expr(
        f"array_min(filter(sequence(1, {TB_HORIZON}),"
        f" i -> get(leads, i - 1) >= close + {TBD_K} * sigma))"
    )
    first_dn = F.expr(
        f"array_min(filter(sequence(1, {TB_HORIZON}),"
        f" i -> get(leads, i - 1) <= close - {TBD_K} * sigma))"
    )
    hit = scored.select(
        "user_id",
        "date",
        "close",
        "sigma",
        first_up.alias("first_up"),
        first_dn.alias("first_dn"),
    )
    up_wins = F.col("first_up").isNotNull() & (
        F.col("first_dn").isNull() | (F.col("first_up") <= F.col("first_dn"))
    )
    label = (
        F.when(up_wins, 1).when(F.col("first_dn").isNotNull(), -1).otherwise(0)
    ).cast("int")
    bars_to_hit = (
        F.when(up_wins, F.col("first_up")).when(
            F.col("first_dn").isNotNull(), F.col("first_dn")
        )
    ).cast("int")
    return hit.select(
        "user_id",
        "date",
        "close",
        "sigma",
        label.alias("label"),
        bars_to_hit.alias("bars_to_hit"),
    ).orderBy("user_id", "date")


ORACLE_TRIPLE_BARRIER_DYNAMIC = f"""{_BARS_CTE},
dpb AS (
  SELECT user_id, date, close, rn,
         CAST(CAST(close AS DECIMAL(18,2))
              - LAG(CAST(close AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY date)
              AS DECIMAL(18,2)) AS dp
  FROM rb
),
sg AS (
  SELECT user_id, date, close, rn,
         COUNT(CASE WHEN dp IS NOT NULL THEN 1 END) OVER wv AS nv,
         CAST(SUM(dp) OVER wv AS DOUBLE) AS s1,
         CAST(SUM(dp * dp) OVER wv AS DOUBLE) AS s2
  FROM dpb
  WINDOW wv AS (PARTITION BY user_id ORDER BY date
                ROWS BETWEEN {TBD_VOL_N - 1} PRECEDING AND CURRENT ROW)
),
sc AS (
  SELECT user_id, date, close, rn,
         SQRT(GREATEST(0e0,
              (CAST(nv AS DOUBLE) * s2 - s1 * s1)
                / (CAST(nv AS DOUBLE) * (CAST(nv AS DOUBLE) - 1e0)))) AS sigma
  FROM sg WHERE nv = {TBD_VOL_N}
),
hd AS (
  SELECT a.user_id, a.rn,
         MIN(CASE WHEN b.close >= a.close + {TBD_K} * a.sigma THEN b.rn - a.rn END) AS first_up,
         MIN(CASE WHEN b.close <= a.close - {TBD_K} * a.sigma THEN b.rn - a.rn END) AS first_dn
  FROM sc a JOIN rb b
    ON a.user_id = b.user_id AND b.rn > a.rn AND b.rn <= a.rn + {TB_HORIZON}
  GROUP BY a.user_id, a.rn
)
SELECT sc.user_id, sc.date, sc.close, sc.sigma,
  CAST(CASE WHEN hd.first_up IS NOT NULL
                 AND (hd.first_dn IS NULL OR hd.first_up <= hd.first_dn) THEN 1
            WHEN hd.first_dn IS NOT NULL THEN -1 ELSE 0 END AS INT) AS label,
  CAST(CASE WHEN hd.first_up IS NOT NULL
                 AND (hd.first_dn IS NULL OR hd.first_up <= hd.first_dn) THEN hd.first_up
            WHEN hd.first_dn IS NOT NULL THEN hd.first_dn END AS INT) AS bars_to_hit
FROM sc LEFT JOIN hd ON sc.user_id = hd.user_id AND sc.rn = hd.rn
ORDER BY sc.user_id, sc.date
"""


# Meta-labeling primary model: 5-bar momentum (close vs SMA-5),
# decided by the exact-decimal compare 5·close vs Σ(last 5 closes)
META_SMA_N = 5

# Symmetric CUSUM filter threshold, in exact cents ($120.00): fires
# when per-side cumulative close drift exceeds it (median |Δclose|
# on the fixture is ~$33, so events are selective but not rare)
CUSUM_H_CENTS = 12_000


def meta_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-labeling (López de Prado 2018 ch. 3.6): a primary model
    picks the SIDE of each bet (here 5-bar momentum: long when
    close > SMA-5, short when below), and the meta-label records
    whether TAKING that bet would have paid under the triple-barrier
    outcome — the binary target a secondary 'bet sizing' model
    trains on (precision over the primary's recall).

    Exactness: the momentum side is the pure decimal compare
    ``5·close vs Σ(last 5 closes)`` — no division, no float mean
    (a double SMA would let engine fold order flip the sign at
    ties); barrier outcomes reuse the triple-barrier lead-array
    scan verbatim.

    Scale shape: one window pass per series key computes the SMA
    sum, the lead array, and the row index together (shared sort);
    no join, no Python."""
    from .fin_domain import ohlcv_resample

    bars = ohlcv_resample(spark, sf_dir).select("user_id", "date", "close")
    w = Window.partitionBy("user_id").orderBy("date")
    w5 = w.rowsBetween(-(META_SMA_N - 1), Window.currentRow)
    close_d = F.col("close").cast("decimal(18,2)")
    leads = F.array(
        *[F.lead("close", i).over(w) for i in range(1, TB_HORIZON + 1)]
    ).alias("leads")
    base = bars.select(
        "user_id",
        "date",
        "close",
        F.row_number().over(w).alias("rn"),
        F.sum(close_d).over(w5).alias("sum5"),
        leads,
    )
    first_up = F.expr(
        f"array_min(filter(sequence(1, {TB_HORIZON}),"
        f" i -> get(leads, i - 1) >= close * {TB_PT}))"
    )
    first_dn = F.expr(
        f"array_min(filter(sequence(1, {TB_HORIZON}),"
        f" i -> get(leads, i - 1) <= close * {TB_SL}))"
    )
    lhs = F.lit(META_SMA_N) * close_d
    side = (
        F.when(lhs > F.col("sum5"), 1).when(lhs < F.col("sum5"), -1).otherwise(0)
    ).cast("int")
    scored = base.select(
        "user_id",
        "date",
        "close",
        "rn",
        side.alias("side"),
        first_up.alias("first_up"),
        first_dn.alias("first_dn"),
    ).filter((F.col("rn") >= META_SMA_N) & (F.col("side") != 0))
    up_wins = F.col("first_up").isNotNull() & (
        F.col("first_dn").isNull() | (F.col("first_up") <= F.col("first_dn"))
    )
    tb_label = (
        F.when(up_wins, 1).when(F.col("first_dn").isNotNull(), -1).otherwise(0)
    ).cast("int")
    return (
        scored.select("user_id", "date", "close", "side", tb_label.alias("tb_label"))
        .select(
            "*",
            F.when(F.col("side") * F.col("tb_label") == 1, 1)
            .otherwise(0)
            .cast("int")
            .alias("meta_label"),
        )
        .orderBy("user_id", "date")
    )


# The full meta-label table as a reusable CTE chain (consumed by
# both the meta_labels oracle and the bet-sizing oracle)
_META_CTE = f"""{_BARS_CTE},
{_HITS_CTE.lstrip()},
s AS (
  SELECT rb.user_id, rb.date, rb.close, rb.rn,
         SUM(CAST(rb.close AS DECIMAL(18,2)))
           OVER (PARTITION BY rb.user_id ORDER BY rb.date
                 ROWS BETWEEN {META_SMA_N - 1} PRECEDING AND CURRENT ROW) AS sum5,
         h.first_up, h.first_dn
  FROM rb LEFT JOIN h ON rb.user_id = h.user_id AND rb.rn = h.rn
),
sc AS (
  SELECT user_id, date, close, rn, first_up, first_dn,
    CAST(CASE WHEN {META_SMA_N} * CAST(close AS DECIMAL(18,2)) > sum5 THEN 1
              WHEN {META_SMA_N} * CAST(close AS DECIMAL(18,2)) < sum5 THEN -1
              ELSE 0 END AS INT) AS side
  FROM s
),
meta AS (
  SELECT user_id, date, close, side,
    CAST(CASE WHEN first_up IS NOT NULL
                   AND (first_dn IS NULL OR first_up <= first_dn) THEN 1
              WHEN first_dn IS NOT NULL THEN -1 ELSE 0 END AS INT) AS tb_label,
    CAST(CASE WHEN side * (CASE WHEN first_up IS NOT NULL
                                     AND (first_dn IS NULL OR first_up <= first_dn) THEN 1
                                WHEN first_dn IS NOT NULL THEN -1 ELSE 0 END) = 1
              THEN 1 ELSE 0 END AS INT) AS meta_label
  FROM sc
  WHERE rn >= {META_SMA_N} AND side <> 0
)"""

ORACLE_META_LABELS = f"""{_META_CTE}
SELECT user_id, date, close, side, tb_label, meta_label
FROM meta
ORDER BY user_id, date
"""


def cusum_event_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric CUSUM event filter (López de Prado 2018 ch. 2.5,
    after Page 1954): per series, accumulate S⁺ = max(0, S⁺+Δ) and
    S⁻ = min(0, S⁻+Δ) over daily close changes and emit an event
    whenever either side's drift exceeds the threshold h, resetting
    THAT side — the standard event-driven sampling step that feeds
    triple-barrier labeling (sample where the market moved, not on
    every calendar bar).

    The reset makes this a genuine sequential recurrence (no closed
    form: the running-minimum trick for max(0, ·) folds dies once a
    threshold reset depends on earlier fires). It runs over INTEGER
    CENTS as a pandas island (``operators.ewm.grouped_map``) whose
    kernel walks a frame of whole series as numpy arrays, resetting
    the state at each series boundary — no per-group pandas
    splitting (a groupby slice per series spent much of its sf5 wall
    on 75k slices; the boundary-reset walk measures ~40% faster warm
    at sf5 with IDENTICAL output). Exact arithmetic, so the DuckDB
    recursive-CTE replay (one state row per bar, entity-parallel)
    matches bit-for-bit; the ``+`` side is checked before the ``-``
    side in both (simultaneous crossings are impossible from a valid
    state, the order is pinned anyway).

    Scale shape: the fold is per-key sequential by nature, but the
    island ships frames of whole series, state is two ints per
    series, and output ∝ fires. At 100 TB the cost is one shuffle
    of bar-sized rows on the series key."""
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from .fin_domain import ohlcv_resample

    bars = ohlcv_resample(spark, sf_dir).select(
        "user_id",
        "date",
        (F.col("close").cast("decimal(18,2)") * 100).cast("bigint").alias("cc"),
    )
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("date", TimestampType()),
            StructField("direction", IntegerType()),
            StructField("stat", DoubleType()),
        ]
    )
    h = CUSUM_H_CENTS

    def kernel(pdf):
        # na_position="first": Spark's ascending order
        pdf = pdf.sort_values(["user_id", "date"], kind="stable", na_position="first")
        uids = pdf["user_id"].to_numpy()
        ccs = pdf["cc"].to_numpy()
        dates = pdf["date"].to_numpy()
        out_u, out_d, out_dir, out_stat = [], [], [], []
        sp = sm = 0
        for i in range(len(ccs)):
            if i == 0 or uids[i] != uids[i - 1]:
                sp = sm = 0  # new series: state resets, no delta row
                continue
            delta = int(ccs[i]) - int(ccs[i - 1])
            sp = max(0, sp + delta)
            sm = min(0, sm + delta)
            if sp > h:
                out_u.append(uids[i])
                out_d.append(dates[i])
                out_dir.append(1)
                out_stat.append(sp / 100.0)
                sp = 0
            elif sm < -h:
                out_u.append(uids[i])
                out_d.append(dates[i])
                out_dir.append(-1)
                out_stat.append(-sm / 100.0)
                sm = 0
        return pd.DataFrame(
            {
                "user_id": pd.Series(out_u, dtype="int64"),
                "date": pd.Series(out_d, dtype="datetime64[us]"),
                "direction": pd.Series(out_dir, dtype="int32"),
                "stat": pd.Series(out_stat, dtype="float64"),
            }
        )

    return grouped_map(bars, "user_id", kernel, schema).orderBy("user_id", "date")


# WITH RECURSIVE must head the whole CTE list (DuckDB binds the
# recursive name before the non-recursive members either way)
ORACLE_CUSUM_EVENT_FILTER = f"""WITH RECURSIVE {_BARS_CTE[len("WITH "):]},
rbc AS (
  SELECT user_id, date, rn,
         CAST(CAST(close AS DECIMAL(18,2)) * 100 AS BIGINT) AS cc
  FROM rb
),
walk AS (
  SELECT user_id, rn, date, cc,
         CAST(0 AS BIGINT) AS sp, CAST(0 AS BIGINT) AS sm,
         0 AS direction, CAST(0 AS BIGINT) AS stat
  FROM rbc WHERE rn = 1
  UNION ALL
  SELECT user_id, rn, date, cc,
         CASE WHEN nsp > {CUSUM_H_CENTS} THEN 0 ELSE nsp END AS sp,
         CASE WHEN nsp > {CUSUM_H_CENTS} THEN nsm
              WHEN nsm < -{CUSUM_H_CENTS} THEN 0 ELSE nsm END AS sm,
         CASE WHEN nsp > {CUSUM_H_CENTS} THEN 1
              WHEN nsm < -{CUSUM_H_CENTS} THEN -1 ELSE 0 END AS direction,
         CASE WHEN nsp > {CUSUM_H_CENTS} THEN nsp
              WHEN nsm < -{CUSUM_H_CENTS} THEN -nsm
              ELSE CAST(0 AS BIGINT) END AS stat
  FROM (
    SELECT b.user_id, b.rn, b.date, b.cc,
           GREATEST(CAST(0 AS BIGINT), w.sp + (b.cc - w.cc)) AS nsp,
           LEAST(CAST(0 AS BIGINT), w.sm + (b.cc - w.cc)) AS nsm
    FROM walk w
    JOIN rbc b ON b.user_id = w.user_id AND b.rn = w.rn + 1
  )
)
SELECT user_id, date, CAST(direction AS INT) AS direction,
       CAST(stat AS DOUBLE) / 100e0 AS stat
FROM walk
WHERE direction <> 0
ORDER BY user_id, date
"""


def cusum_sampled_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical event-driven labeling pipeline (López de Prado
    2018 ch. 2-3 composed): sample entries with the symmetric CUSUM
    filter — label ONLY where the market actually moved — then
    attach the triple-barrier outcome at each sampled bar. Training
    on these rows instead of every calendar bar is the book's
    recommended defense against oversampled flat regimes.

    Pure composition: the CUSUM island provides (user, date,
    direction); the lead-array barrier scan provides (user, date,
    label); one equi-join on the series key + date aligns them —
    both sides already shuffle on user_id, and the events side is
    fires-only (≪ bars), so the join is cheap at any scale. The
    oracle composes the recursive-CTE walk with the barrier CTEs
    the same way."""
    fires = cusum_event_filter(spark, sf_dir).select("user_id", "date", "direction", "stat")
    labels = triple_barrier_labels(spark, sf_dir).select(
        "user_id", "date", "close", "label", "bars_to_hit"
    )
    return (
        fires.join(labels, ["user_id", "date"])
        .select(
            "user_id",
            "date",
            "close",
            "direction",
            "stat",
            "label",
            "bars_to_hit",
            # did the barrier outcome agree with the drift direction
            # that triggered the sample?
            F.when(F.col("direction") * F.col("label") == 1, 1)
            .otherwise(0)
            .cast("int")
            .alias("drift_confirmed"),
        )
        .orderBy("user_id", "date")
    )


ORACLE_CUSUM_SAMPLED_LABELS = f"""WITH RECURSIVE {_BARS_CTE[len("WITH "):]},
{_HITS_CTE.lstrip()},
rbc AS (
  SELECT user_id, date, rn,
         CAST(CAST(close AS DECIMAL(18,2)) * 100 AS BIGINT) AS cc
  FROM rb
),
walk AS (
  SELECT user_id, rn, date, cc,
         CAST(0 AS BIGINT) AS sp, CAST(0 AS BIGINT) AS sm,
         0 AS direction, CAST(0 AS BIGINT) AS stat
  FROM rbc WHERE rn = 1
  UNION ALL
  SELECT user_id, rn, date, cc,
         CASE WHEN nsp > {{H}} THEN 0 ELSE nsp END AS sp,
         CASE WHEN nsp > {{H}} THEN nsm
              WHEN nsm < -{{H}} THEN 0 ELSE nsm END AS sm,
         CASE WHEN nsp > {{H}} THEN 1
              WHEN nsm < -{{H}} THEN -1 ELSE 0 END AS direction,
         CASE WHEN nsp > {{H}} THEN nsp
              WHEN nsm < -{{H}} THEN -nsm
              ELSE CAST(0 AS BIGINT) END AS stat
  FROM (
    SELECT b.user_id, b.rn, b.date, b.cc,
           GREATEST(CAST(0 AS BIGINT), w.sp + (b.cc - w.cc)) AS nsp,
           LEAST(CAST(0 AS BIGINT), w.sm + (b.cc - w.cc)) AS nsm
    FROM walk w
    JOIN rbc b ON b.user_id = w.user_id AND b.rn = w.rn + 1
  )
),
lab AS (
  SELECT rb.user_id, rb.date, rb.close,
    CAST(CASE WHEN {_SQL_UP_WINS} THEN 1
              WHEN h.first_dn IS NOT NULL THEN -1 ELSE 0 END AS INT) AS label,
    CAST(CASE WHEN {_SQL_UP_WINS} THEN h.first_up
              WHEN h.first_dn IS NOT NULL THEN h.first_dn END AS INT) AS bars_to_hit
  FROM rb LEFT JOIN h ON rb.user_id = h.user_id AND rb.rn = h.rn
)
SELECT w.user_id, w.date, lab.close,
       CAST(w.direction AS INT) AS direction,
       CAST(w.stat AS DOUBLE) / 100e0 AS stat,
       lab.label, lab.bars_to_hit,
       CAST(CASE WHEN w.direction * lab.label = 1 THEN 1 ELSE 0 END AS INT)
         AS drift_confirmed
FROM walk w
JOIN lab ON w.user_id = lab.user_id AND w.date = lab.date
WHERE w.direction <> 0
ORDER BY w.user_id, w.date
""".replace("{H}", str(CUSUM_H_CENTS))


# Bet sizing consumes a bet only after this many prior outcomes
BET_MIN_PRIOR = 5


def bet_sizing_expanding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-based bet sizing from the meta-label history
    (López de Prado 2018 ch. 10, the discrete-sizing variant
    without a fitted classifier): at each primary-model bet, the
    empirical hit rate p̂ of the user's PRIOR meta-labels (an
    expanding window excluding the current bet — no lookahead)
    sizes the position as ``side · (2·p̂ − 1)``: size 0 at a coin
    flip, full size at certainty, negative when the primary model
    has been historically wrong.

    Exactness: prior_hits/prior_bets are integer window counts; p̂
    and the size are one agreed double tree. Bets with fewer than
    ``BET_MIN_PRIOR`` prior outcomes are withheld (documented
    burn-in).

    Scale shape: rides the meta_labels plan (one window pass per
    series key) plus one more frame on the same key — no extra
    shuffle, no join."""
    m = meta_labels(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("date")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    scored = m.select(
        "user_id",
        "date",
        "side",
        F.count(F.lit(1)).over(wprev).alias("prior_bets"),
        F.sum("meta_label").over(wprev).alias("prior_hits"),
    ).filter(F.col("prior_bets") >= BET_MIN_PRIOR)
    p_hat = F.col("prior_hits").cast("double") / F.col("prior_bets").cast("double")
    return scored.select(
        "user_id",
        "date",
        "side",
        "prior_bets",
        "prior_hits",
        (
            F.col("side").cast("double") * (F.lit(2.0) * p_hat - F.lit(1.0))
        ).alias("bet_size"),
    ).orderBy("user_id", "date")


ORACLE_BET_SIZING_EXPANDING = f"""{_META_CTE},
x AS (
  SELECT user_id, date, side,
         COUNT(*) OVER wp AS prior_bets,
         CAST(SUM(meta_label) OVER wp AS BIGINT) AS prior_hits
  FROM meta
  WINDOW wp AS (PARTITION BY user_id ORDER BY date
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, date, side, prior_bets, prior_hits,
       CAST(side AS DOUBLE)
         * (2e0 * (CAST(prior_hits AS DOUBLE) / CAST(prior_bets AS DOUBLE)) - 1e0)
         AS bet_size
FROM x
WHERE prior_bets >= {BET_MIN_PRIOR}
ORDER BY user_id, date
"""


# Fixed global bucket edges (cents) for the discretized features —
# data-independent bins keep the discretization engine-exact
MI_ABS_DP_EDGES = (1_000, 3_000)  # |Δclose|: <$10, $10-30, ≥$30
MI_VOL_EDGES = (2, 4)  # ticks/day: <2, 2-3, ≥4


def feature_mi_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-theoretic feature ranking — the feature-selection
    step of the fin-ML pipeline: mutual information (in nats)
    between each candidate bar feature and the triple-barrier
    label, estimated from joint counts over the whole panel.
    Features are discretized with FIXED global bucket edges
    (data-independent, hence engine-exact): momentum sign
    (sign Δclose), |Δclose| magnitude tercile, and tick-count
    tercile.

    Exactness: every probability is a ratio of exact integer
    counts; each cell's term ``(c_xy/N)·log10(c_xy·N/(c_x·c_y))``
    is one per-cell double expression (log10 + the embedded ln(10)
    rescale, the volatility-panel discipline), and the per-feature
    sum folds the ≤9 cell terms in ascending-double order;
    round(12) absorbs the known 1-ulp log10 divergence.

    Scale shape: one (user-keyed) bar pass builds features, one
    unpivot (constant ×3 fan-out), one (feature, bucket, label)
    hash aggregate — marginals and cells are ≤ dozens of rows, the
    joins are broadcasts. Panel-linear at any corpus size."""
    from .fin_domain import ohlcv_resample

    bars = ohlcv_resample(spark, sf_dir).select(
        "user_id",
        "date",
        F.col("close").cast("decimal(18,2)").alias("close_d"),
        "volume",
    )
    w = Window.partitionBy("user_id").orderBy("date")
    dp_c = (
        (F.col("close_d") - F.lag("close_d").over(w)) * 100
    ).cast("bigint")
    feat = bars.select("user_id", "date", "volume", dp_c.alias("dp_c")).filter(
        F.col("dp_c").isNotNull()
    )
    lo_dp, hi_dp = MI_ABS_DP_EDGES
    lo_v, hi_v = MI_VOL_EDGES
    mom = F.when(F.col("dp_c") > 0, 1).when(F.col("dp_c") < 0, -1).otherwise(0)
    mag = (
        F.when(F.abs(F.col("dp_c")) < lo_dp, 0)
        .when(F.abs(F.col("dp_c")) < hi_dp, 1)
        .otherwise(2)
    )
    vol = (
        F.when(F.col("volume") < lo_v, 0)
        .when(F.col("volume") < hi_v, 1)
        .otherwise(2)
    )
    labels = triple_barrier_labels(spark, sf_dir).select("user_id", "date", "label")
    joined = (
        feat.join(labels, ["user_id", "date"])
        .select(
            mom.cast("int").alias("m"),
            mag.cast("int").alias("g"),
            vol.cast("int").alias("v"),
            "label",
        )
        .select(
            F.expr(
                "stack(3, 'momentum_sign', m, 'abs_dp_bucket', g, 'volume_bucket', v)"
            ).alias("feature", "bucket"),
            "label",
        )
    )
    # cells is ≤ 3 features × 3 buckets × 3 labels rows, but it feeds
    # FOUR consumers (the three marginal broadcasts mx/my/mn and the
    # per-feature fold) — without a materialization boundary each
    # branch re-evaluates the whole panel lineage (events scan →
    # bars → Δclose window → triple-barrier labels → join): the
    # r12 before-plan shows events.parquet scanned 8×, 0 reuse.
    # Eager-checkpointing the dozens-of-rows cell frame runs the
    # panel ONCE (don't recompute whole passes); measured at sf0.1
    # (fresh JVM, min-of-attempts): 4.2s → 2.3s warm, 11.9 → 5.2s
    # cold. At 100 TB the saving is 6 full tick-table passes.
    cells = joined.groupBy("feature", "bucket", "label").agg(
        F.count(F.lit(1)).alias("c_xy")
    ).localCheckpoint(eager=True)
    mx = cells.groupBy("feature", "bucket").agg(F.sum("c_xy").alias("c_x"))
    my = cells.groupBy("feature", "label").agg(F.sum("c_xy").alias("c_y"))
    mn = cells.groupBy("feature").agg(F.sum("c_xy").alias("n"))
    ln10 = F.expr(_MI_LN10)
    term = (
        F.col("c_xy").cast("double")
        / F.col("n").cast("double")
        * (
            F.log10(
                F.col("c_xy").cast("double")
                * F.col("n").cast("double")
                / (F.col("c_x").cast("double") * F.col("c_y").cast("double"))
            )
            * ln10
        )
    )
    per_feat = (
        cells.join(F.broadcast(mx), ["feature", "bucket"])
        .join(F.broadcast(my), ["feature", "label"])
        .join(F.broadcast(mn), "feature")
        .select("feature", "n", term.alias("t"))
        .groupBy("feature")
        .agg(
            F.min("n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_cells"),
            F.array_sort(F.collect_list("t")).alias("ts"),
        )
    )
    fold = F.aggregate(F.col("ts"), F.lit(0.0), lambda acc, x: acc + x)
    return per_feat.select(
        "feature",
        "n_rows",
        "n_cells",
        F.round(fold, 12).alias("mi_nats"),
    ).orderBy("feature")


_MI_LN10 = f"CAST({__import__('math').log(10.0):.17e} AS DOUBLE)"


ORACLE_FEATURE_MI_RANKING = f"""{_BARS_CTE},
{_HITS_CTE.lstrip()},
lab AS (
  SELECT rb.user_id, rb.date,
    CAST(CASE WHEN {_SQL_UP_WINS} THEN 1
              WHEN h.first_dn IS NOT NULL THEN -1 ELSE 0 END AS INT) AS label
  FROM rb LEFT JOIN h ON rb.user_id = h.user_id AND rb.rn = h.rn
),
volbars AS (
  SELECT user_id, date, COUNT(*) AS volume
  FROM t GROUP BY user_id, date
),
feat AS (
  SELECT b.user_id, b.date, v.volume,
         CAST((b.close_d2 - LAG(b.close_d2) OVER (PARTITION BY b.user_id ORDER BY b.date)) * 100 AS BIGINT) AS dp_c
  FROM (SELECT user_id, date, CAST(close AS DECIMAL(18,2)) AS close_d2 FROM rb) b
  JOIN volbars v ON b.user_id = v.user_id AND b.date = v.date
),
st AS (
  SELECT u.feature, u.bucket, lab.label
  FROM (
    SELECT user_id, date, 'momentum_sign' AS feature,
           CASE WHEN dp_c > 0 THEN 1 WHEN dp_c < 0 THEN -1 ELSE 0 END AS bucket
    FROM feat WHERE dp_c IS NOT NULL
    UNION ALL
    SELECT user_id, date, 'abs_dp_bucket',
           CASE WHEN ABS(dp_c) < {MI_ABS_DP_EDGES[0]} THEN 0
                WHEN ABS(dp_c) < {MI_ABS_DP_EDGES[1]} THEN 1 ELSE 2 END
    FROM feat WHERE dp_c IS NOT NULL
    UNION ALL
    SELECT user_id, date, 'volume_bucket',
           CASE WHEN volume < {MI_VOL_EDGES[0]} THEN 0
                WHEN volume < {MI_VOL_EDGES[1]} THEN 1 ELSE 2 END
    FROM feat WHERE dp_c IS NOT NULL
  ) u
  JOIN lab ON u.user_id = lab.user_id AND u.date = lab.date
),
cells AS (
  SELECT feature, bucket, label, COUNT(*) AS c_xy
  FROM st GROUP BY feature, bucket, label
),
mx AS (SELECT feature, bucket, CAST(SUM(c_xy) AS BIGINT) AS c_x FROM cells GROUP BY 1, 2),
my AS (SELECT feature, label, CAST(SUM(c_xy) AS BIGINT) AS c_y FROM cells GROUP BY 1, 2),
mn AS (SELECT feature, CAST(SUM(c_xy) AS BIGINT) AS n FROM cells GROUP BY 1),
terms AS (
  SELECT cells.feature, mn.n,
         CAST(c_xy AS DOUBLE) / CAST(n AS DOUBLE)
           * (log10(CAST(c_xy AS DOUBLE) * CAST(n AS DOUBLE)
                    / (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))) * {_MI_LN10}) AS t
  FROM cells
  JOIN mx ON cells.feature = mx.feature AND cells.bucket = mx.bucket
  JOIN my ON cells.feature = my.feature AND cells.label = my.label
  JOIN mn ON cells.feature = mn.feature
),
a AS (
  SELECT feature, MIN(n) AS n_rows, COUNT(*) AS n_cells,
         list_sort(list(t)) AS ts
  FROM terms GROUP BY feature
)
SELECT feature, n_rows, n_cells,
       ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ts),
                         (acc, x) -> acc + x), 12) AS mi_nats
FROM a
ORDER BY feature
"""


QUERIES = {
    "robust_outlier_mad": robust_outlier_mad,
    "purged_walkforward_splits": purged_walkforward_splits,
    "triple_barrier_labels": triple_barrier_labels,
    "frac_diff_features": frac_diff_features,
    "label_uniqueness_weights": label_uniqueness_weights,
    "meta_labels": meta_labels,
    "cusum_event_filter": cusum_event_filter,
    "bet_sizing_expanding": bet_sizing_expanding,
    "cusum_sampled_labels": cusum_sampled_labels,
    "feature_mi_ranking": feature_mi_ranking,
    "triple_barrier_dynamic": triple_barrier_dynamic,
}

ORACLES = {
    "robust_outlier_mad": ORACLE_ROBUST_OUTLIER_MAD,
    "purged_walkforward_splits": ORACLE_PURGED_WALKFORWARD_SPLITS,
    "triple_barrier_labels": ORACLE_TRIPLE_BARRIER_LABELS,
    "frac_diff_features": _ffd_oracle(),
    "label_uniqueness_weights": ORACLE_LABEL_UNIQUENESS_WEIGHTS,
    "meta_labels": ORACLE_META_LABELS,
    "cusum_event_filter": ORACLE_CUSUM_EVENT_FILTER,
    "bet_sizing_expanding": ORACLE_BET_SIZING_EXPANDING,
    "cusum_sampled_labels": ORACLE_CUSUM_SAMPLED_LABELS,
    "feature_mi_ranking": ORACLE_FEATURE_MI_RANKING,
    "triple_barrier_dynamic": ORACLE_TRIPLE_BARRIER_DYNAMIC,
}
