"""User-visible report queries: the daily screener table (the data
side of the reference's chart/screener stage) and the programmatic
database-summary view.

- ``daily_screener`` re-expresses the end of the reference's daily
  pipeline (`trading_bot/daily_signal_scorer.py:258-282`): filter to
  success_probability ≥ 0.80 and quality ≥ 50, composite score =
  0.6·prob + 0.2·strength/100 + 0.2·quality/100, sort desc, top 25.
  On the driver's test tables the three inputs are deterministic
  percent-rank scores over per-customer order statistics (the
  reference's model probability needs the trained model — its funnel
  lives in domain/scoring.py); the FORMULA, filter, ordering and
  limit are the reference's.
- ``database_summary`` mirrors `transforms/database_summary_view.py:
  111-200`: one summary row per warehouse table (record count,
  distinct entities, date range) stacked with UNION ALL — here
  ``unionByName(allowMissingColumns=True)`` so tables lacking an
  entity/date column surface NULLs (A8).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dsum
from ..operators.memo import pin_on_first_action
from ..operators.total_order import global_percent_rank
from ..sources.catalog import load_table


def _screener_top25(spark: SparkSession, sf_dir: str, pins: list[DataFrame]) -> DataFrame:
    """Composite-scored top-25 screener table, WITH the customer key
    (``pick_key``) — the handle the chart-input extraction joins bars
    back on. ``daily_screener`` is this minus the key. The rank's
    range-partitioned frame is appended to ``pins``; the caller pins
    it on the frame it returns.

    Scale notes: the three market-wide percent ranks are GLOBAL
    cross-sectional ranks (reference semantics) but run through
    operators/total_order.global_percent_rank — range-partitioned
    two-phase ranking, identical values, NO single-partition
    WindowExec (the r04 shape planned three unpartitioned windows
    and tripped the plan lint this repo now enforces). The three
    metrics rank in ONE pass: ``stack`` unpivots the per-customer
    frame to (custkey, metric, value), the rank runs grouped by
    metric (PARTITION BY metric ≡ three independent global ranks),
    and a pivot folds the ranks back to one row per customer — one
    range exchange and one broadcast chain instead of three of each
    (r07 ran three sibling pipelines whose broadcast builds raced
    to recompute the shared aggregate: 2.04→4.78s at sf0.1). At
    100 TB the per-customer agg shuffles once on o_custkey with
    map-side combine; the rank shuffles the AGGREGATED frame only
    (3× its rows, 3 columns); the final top-25 is a TakeOrdered
    (no full sort materialization)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")

    per = orders.groupBy("o_custkey").agg(
        dsum("o_totalprice").alias("total_spend"),
        F.count(F.lit(1)).alias("volume"),
        F.max("o_orderdate").alias("signal_date"),
        F.max_by("o_totalprice", F.struct("o_orderdate", "o_orderkey")).alias("close"),
    )
    per = per.withColumn("avg_order_value", F.col("total_spend") / F.col("volume"))
    # Unpivot WITH the carry columns: each customer row becomes 3
    # metric rows that keep every per-customer column, so the ranks
    # pivot straight back with a groupBy on the full carry set — no
    # join back onto `per`, hence no second consumer of the orders
    # aggregate, no cache, no race, and nothing customer-sized ever
    # broadcasts (r07 joined three sibling rank pipelines back and
    # their broadcast builds raced the shared lineage: 2.04→4.78s at
    # sf0.1). volume is integral; CAST to double is order-preserving
    # (counts ≪ 2^53), so one stacked value column ranks all three.
    carry = ["o_custkey", "total_spend", "volume", "signal_date", "close", "avg_order_value"]
    long = per.select(
        *carry,
        F.expr(
            "stack(3, 'ts', total_spend,"
            " 'vol', CAST(volume AS DOUBLE),"
            " 'aov', avg_order_value) AS (metric, value)"
        ),
    )
    ranked = global_percent_rank(long, "value", "pr", group_cols=["metric"], pins=pins)
    scored = (
        ranked.groupBy(*carry)
        .pivot("metric", ["ts", "vol", "aov"])
        .agg(F.first("pr"))
        .withColumn("success_probability", F.col("ts"))
        .withColumn("signal_strength", F.col("vol") * 100)
        .withColumn("overall_quality_score", F.col("aov") * 100)
        .drop("ts", "vol", "aov")
    )
    composite = (
        F.col("success_probability") * 0.6
        + F.col("signal_strength") / 100 * 0.2
        + F.col("overall_quality_score") / 100 * 0.2
    )
    result = (
        scored.filter(
            (F.col("success_probability") >= 0.80) & (F.col("overall_quality_score") >= 50)
        )
        .join(cust, scored["o_custkey"] == cust["c_custkey"])  # customer scales with SF — no hard broadcast hint; AQE decides
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .select(
            # pick_key is for the chart-input consumer
            # (top25_chart_input); daily_screener's own contract
            # drops it below. The tiebreak includes it so the
            # limit-25 cut is deterministic even when customer NAMES
            # collide (the scale-replica datasets repeat base rows
            # under offset keys, so (composite, symbol) can tie
            # across clones with different keys).
            F.col("c_custkey").alias("pick_key"),
            F.col("c_name").alias("symbol"),
            "signal_date",
            F.col("c_mktsegment").alias("trade_strategy"),
            "close",
            "success_probability",
            "signal_strength",
            "overall_quality_score",
            composite.alias("composite_score"),
            F.col("n_name").alias("sector"),
            "volume",
        )
        .orderBy(F.col("composite_score").desc(), F.col("symbol"), F.col("pick_key"))
        .limit(25)
    )
    return result


def daily_screener(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The screener's public reference contract (no key column —
    the reference's table_screener.py displays names only)."""
    pins: list[DataFrame] = []
    top = _screener_top25(spark, sf_dir, pins).drop("pick_key")
    # no fill: the rank's single broadcast funnel fills the range cache
    # once (operators/total_order); the pin is there for the release
    return pin_on_first_action(top, pins, fill=False)


ORACLE_DAILY_SCREENER = """
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
         COUNT(*) AS volume,
         MAX(o_orderdate) AS signal_date
  FROM orders GROUP BY o_custkey
), last AS (
  SELECT o_custkey, o_totalprice AS close FROM (
    SELECT o_custkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders
  ) WHERE rn = 1
), scored AS (
  SELECT per.o_custkey, total_spend, volume, signal_date, close,
         total_spend / volume AS avg_order_value,
         PERCENT_RANK() OVER (ORDER BY total_spend) AS success_probability,
         PERCENT_RANK() OVER (ORDER BY volume) * 100 AS signal_strength,
         PERCENT_RANK() OVER (ORDER BY total_spend / volume) * 100 AS overall_quality_score
  FROM per JOIN last USING (o_custkey)
)
SELECT c_name AS symbol, signal_date, c_mktsegment AS trade_strategy, close,
       success_probability, signal_strength, overall_quality_score,
       success_probability * 0.6 + signal_strength / 100 * 0.2
         + overall_quality_score / 100 * 0.2 AS composite_score,
       n_name AS sector, volume
FROM scored
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE success_probability >= 0.80 AND overall_quality_score >= 50
-- o_custkey mirrors the Spark side's pick_key tiebreak: on the scale
-- replicas customer NAMES repeat under offset keys, so a
-- (composite, symbol) tie spanning the LIMIT 25 boundary would
-- otherwise leave the surviving row engine-arbitrary (ADVICE r11).
ORDER BY composite_score DESC, symbol, o_custkey
LIMIT 25
"""


# (table, entity column, date expression) — None where the table
# lacks the concept, mirroring the reference's per-table config list
_SUMMARY_TABLES: list[tuple[str, str | None, str | None]] = [
    ("region", None, None),
    ("nation", None, None),
    ("customer", "c_custkey", None),
    ("supplier", "s_suppkey", None),
    ("part", "p_partkey", None),
    ("orders", "o_custkey", "o_orderdate"),
    ("lineitem", "l_orderkey", "l_shipdate"),
    ("events", "user_id", "ts"),
    ("documents", "doc_id", None),
    ("embeddings", "vec_id", None),
]


def table_summary(df: DataFrame, name: str, entity_col: str | None, date_col: str | None) -> DataFrame:
    """One summary row for one table — only the columns the table
    supports; the union layer fills the rest with NULLs."""
    aggs = [F.count(F.lit(1)).alias("record_count")]
    if entity_col:
        aggs.append(F.countDistinct(entity_col).alias("unique_entities"))
    if date_col:
        d = F.to_date(F.col(date_col))
        aggs += [
            F.min(d).alias("earliest_date"),
            F.max(d).alias("latest_date"),
            F.countDistinct(d).alias("unique_dates"),
        ]
    return df.agg(*aggs).select(F.lit(name).alias("table_name"), "*")


def database_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stacked all-tables summary report (S13). Each per-table
    aggregate is a single-row map-side-combined scan; the union is
    metadata-only. At 100 TB each branch reads only its agg input
    columns (column pruning) — no full-width scans."""
    parts = [
        table_summary(load_table(spark, sf_dir, t), t, e, d) for t, e, d in _SUMMARY_TABLES
    ]
    out = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    return out.orderBy("table_name")


def warehouse_summary(io, tables: list[tuple[str, str | None, str | None]]) -> DataFrame:
    """The same stacked report over a ``TableIO`` warehouse —
    `database_summary_view.py`'s programmatic breadth: pass every
    (table, entity_col, date_col) the warehouse holds and get one
    ordered summary frame."""
    parts = [table_summary(io.read(t), t, e, d) for t, e, d in tables]
    if not parts:
        return io.spark.createDataFrame(
            [],
            "table_name string, record_count long, unique_entities long,"
            " earliest_date date, latest_date date, unique_dates long",
        )
    out = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    return out.orderBy("table_name")


def _summary_oracle() -> str:
    selects = []
    for t, e, d in _SUMMARY_TABLES:
        uniq = f"COUNT(DISTINCT {e})" if e else "CAST(NULL AS BIGINT)"
        if d:
            dx = f"CAST(CAST({d} AS TIMESTAMP) AS DATE)" if d == "ts" else d
            early, late, nd = f"MIN({dx})", f"MAX({dx})", f"COUNT(DISTINCT {dx})"
        else:
            early, late, nd = "CAST(NULL AS DATE)", "CAST(NULL AS DATE)", "CAST(NULL AS BIGINT)"
        selects.append(
            f"SELECT '{t}' AS table_name, COUNT(*) AS record_count,"
            f" {uniq} AS unique_entities, {early} AS earliest_date,"
            f" {late} AS latest_date, {nd} AS unique_dates FROM {t}"
        )
    return " UNION ALL ".join(selects) + " ORDER BY table_name"


ORACLE_DATABASE_SUMMARY = _summary_oracle()


K_ANON_THRESHOLD = 5


def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-governance operator: k-anonymity audit over a
    quasi-identifier tuple — every (nationality, market-segment)
    equivalence class with its population, flagged when it falls
    below k=5 (classes a release would have to suppress or
    generalize). The per-class rows are what a generalization
    planner consumes; the flag is the release gate.

    Scale shape: one hash aggregate on the QI tuple with map-side
    partial counts — the class count is bounded by the QI domain
    (|nations| x |segments|), so the result is tiny no matter the
    input size."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("class_size"))
        .withColumn("is_suppressed", F.col("class_size") < K_ANON_THRESHOLD)
        .orderBy("c_nationkey", "c_mktsegment")
    )


ORACLE_K_ANONYMITY_REPORT = f"""
SELECT c_nationkey, c_mktsegment,
       COUNT(*) AS class_size,
       COUNT(*) < {K_ANON_THRESHOLD} AS is_suppressed
FROM customer
GROUP BY c_nationkey, c_mktsegment
ORDER BY c_nationkey, c_mktsegment
"""


def expectation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-expectation suite (the dbt-test / Great-Expectations
    shape): declarative checks evaluated in bulk, one row per
    expectation with the violation count and pass flag. Checks:
    key uniqueness, not-null, accepted value set, numeric range,
    and cross-column order (ship ≤ receipt).

    Scale shape: row-level expectations over one table fuse into a
    SINGLE conditional-count aggregate pass (map-side partials) —
    adding an expectation adds a column, not a scan. The uniqueness
    check is the one genuinely grouped pass (count-distinct vs
    count on the key)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    statuses = ["O", "F", "P"]
    # ONE aggregate pass including the uniqueness check — Spark
    # plans mixed distinct/non-distinct aggregates in a single scan
    # via Expand, so the dupe count does not cost a second read
    row_checks = o.agg(
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("v_custkey_null"),
        F.count(F.when(~F.col("o_orderstatus").isin(statuses), 1)).alias("v_status_set"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("v_price_range"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v_key_dupes"),
    )
    order_check = li.agg(
        F.count(F.when(F.col("l_quantity") < 1, 1)).alias("v_quantity_range"),
        F.count(
            F.when(~F.col("l_discount").between(0.0, 1.0), 1)
        ).alias("v_discount_range"),
    )
    s = row_checks.crossJoin(order_check)
    rows = [
        ("orders.o_orderkey is unique", "v_key_dupes"),
        ("orders.o_custkey not null", "v_custkey_null"),
        ("orders.o_orderstatus in (O,F,P)", "v_status_set"),
        ("orders.o_totalprice > 0", "v_price_range"),
        ("lineitem.l_quantity >= 1", "v_quantity_range"),
        ("lineitem.l_discount in [0,1]", "v_discount_range"),
    ]
    from functools import reduce as _reduce

    stacked = [
        s.select(
            F.lit(name).alias("expectation"),
            F.col(col).alias("n_violations"),
            (F.col(col) == 0).alias("passed"),
        )
        for name, col in rows
    ]
    return _reduce(lambda a, b: a.unionByName(b), stacked)


ORACLE_EXPECTATION_REPORT = """
WITH s AS (
  SELECT (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) AS v_key_dupes,
         (SELECT COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) FROM orders) AS v_custkey_null,
         (SELECT COUNT(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END) FROM orders) AS v_status_set,
         (SELECT COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END) FROM orders) AS v_price_range,
         (SELECT COUNT(CASE WHEN l_quantity < 1 THEN 1 END) FROM lineitem) AS v_quantity_range,
         (SELECT COUNT(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 1.0) THEN 1 END) FROM lineitem) AS v_discount_range
)
SELECT 'orders.o_orderkey is unique' AS expectation, v_key_dupes AS n_violations,
       v_key_dupes = 0 AS passed FROM s
UNION ALL
SELECT 'orders.o_custkey not null', v_custkey_null, v_custkey_null = 0 FROM s
UNION ALL
SELECT 'orders.o_orderstatus in (O,F,P)', v_status_set, v_status_set = 0 FROM s
UNION ALL
SELECT 'orders.o_totalprice > 0', v_price_range, v_price_range = 0 FROM s
UNION ALL
SELECT 'lineitem.l_quantity >= 1', v_quantity_range, v_quantity_range = 0 FROM s
UNION ALL
SELECT 'lineitem.l_discount in [0,1]', v_discount_range, v_discount_range = 0 FROM s
"""


L_DIVERSITY_MIN = 3


def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity audit — the companion to
    ``k_anonymity_report``: a quasi-identifier class can be large
    (k-anonymous) yet still leak if everyone in it shares the same
    SENSITIVE value. Per (nationality, market-segment) class, the
    number of distinct sensitive values (the customer's top order
    priority as the stand-in sensitive attribute) and the l≥3
    release flag.

    Scale shape: one aggregate to derive each customer's sensitive
    value (max-by over their orders), one hash aggregate on the QI
    tuple with a distinct count — output bounded by the QI domain,
    same as the k-anonymity twin."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    sens = orders.groupBy("o_custkey").agg(
        F.max("o_orderpriority").alias("sensitive")
    )
    qi = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(sens, cust.c_custkey == sens.o_custkey)
        .select(F.col("n_name").alias("nationality"), "c_mktsegment", "sensitive")
    )
    return qi.groupBy("nationality", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct("sensitive").alias("l_distinct"),
        (F.countDistinct("sensitive") >= L_DIVERSITY_MIN).alias("releasable"),
    )


ORACLE_L_DIVERSITY_REPORT = f"""
WITH sens AS (
  SELECT o_custkey, MAX(o_orderpriority) AS sensitive
  FROM orders GROUP BY o_custkey
), qi AS (
  SELECT n_name AS nationality, c_mktsegment, sensitive
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN sens ON c_custkey = o_custkey
)
SELECT nationality, c_mktsegment,
       COUNT(*) AS class_size,
       COUNT(DISTINCT sensitive) AS l_distinct,
       COUNT(DISTINCT sensitive) >= {L_DIVERSITY_MIN} AS releasable
FROM qi
GROUP BY nationality, c_mktsegment
"""


CHART_BARS_N = 90  # reference default: --days 90 of price history
CHART_MA_SHORT = 20
CHART_MA_LONG = 50


def top25_chart_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chart-input extraction for the top-25 screener picks: each
    pick's header metadata joined to its latest-N OHLCV bars with the
    MA20/MA50 overlay columns a candlestick front-end draws.

    Reference parity: ``backtesting/create_top25_viz_input.py``
    (top-25 by score, LEFT-merge to dims, chart-ready columns,
    picks without data survive the merge) +
    ``backtesting/visualize_signals.py:60-105`` (per-symbol price
    window of ``--days 90`` bars ending at the signal, ma20/ma50 =
    pandas ``rolling(n).mean()`` over the fetched window — NULL
    until the window fills). The reference anchors the window at
    signal_date; here the orders and events calendars are disjoint
    synthetic domains, so the window anchors at each symbol's own
    latest bar — the same "last N bars before the chart's right
    edge" shape.

    Scale notes: the pick list is 25 rows — it broadcasts into the
    events scan, so the bar pipeline aggregates ONLY the picked
    symbols' ticks (predicate reaches the scan as a semi-join /
    DPP-able filter; nothing market-wide shuffles). The latest-N
    rank and both moving averages are per-symbol windows over ≤N
    bars × 25 symbols. The final frame is ≤ 25·(N+1) rows — chart
    payload, not data volume."""
    from .fin_domain import ohlcv_resample

    # picks carry the customer KEY from the screener core — joining
    # back on the displayed name is wrong: names need not be unique
    # (the scale replicas repeat base customers under offset keys),
    # so a name join fans each pick across its clones (25 → 250 rows
    # at the sf1 replica). The frame feeds TWO consumers (the bar
    # semi-join's broadcast build and the final header join) —
    # persist + pin so the screener's rank pipeline runs once, not
    # twice (the r07 shared-branch discipline; the frame is 25 rows).
    pins: list[DataFrame] = []
    picks = (
        _screener_top25(spark, sf_dir, pins)
        .select(
            "pick_key",
            "symbol",
            "signal_date",
            "trade_strategy",
            "success_probability",
            "signal_strength",
            "overall_quality_score",
            "composite_score",
            "sector",
        )
        .persist()
    )
    from pyspark.sql import Window

    bars = ohlcv_resample(spark, sf_dir).join(
        F.broadcast(picks.select(F.col("pick_key").alias("user_id"))), "user_id", "semi"
    )
    w_rank = Window.partitionBy("user_id").orderBy(F.col("date").desc())
    latest = bars.withColumn("rn", F.row_number().over(w_rank)).filter(
        F.col("rn") <= CHART_BARS_N
    )
    w20 = Window.partitionBy("user_id").orderBy("date").rowsBetween(-(CHART_MA_SHORT - 1), 0)
    w50 = Window.partitionBy("user_id").orderBy("date").rowsBetween(-(CHART_MA_LONG - 1), 0)
    overlay = latest.select(
        "user_id",
        "date",
        "open",
        "high",
        "low",
        "close",
        F.col("volume").cast("bigint").alias("volume"),
        F.when(
            F.count(F.lit(1)).over(w20) == CHART_MA_SHORT,
            F.avg("close").over(w20),
        ).alias("ma20"),
        F.when(
            F.count(F.lit(1)).over(w50) == CHART_MA_LONG,
            F.avg("close").over(w50),
        ).alias("ma50"),
    )
    result = (
        picks.join(overlay, picks["pick_key"] == overlay["user_id"], "left")
        .select(
            "pick_key",
            "symbol",
            "signal_date",
            "trade_strategy",
            "success_probability",
            "signal_strength",
            "overall_quality_score",
            "composite_score",
            "sector",
            "date",
            "open",
            "high",
            "low",
            "close",
            "volume",
            "ma20",
            "ma50",
        )
        # (symbol, date) alone is not a total order in the documented
        # name-collision case (two picks = clone customers sharing a
        # name → identical (symbol, date) bar rows from different
        # pick_keys); pick_key makes the sort total on both sides
        # (ADVICE r11), then drops from the output contract.
        .orderBy("symbol", "pick_key", "date")
        .drop("pick_key")
    )
    return pin_on_first_action(result, [*pins, picks])


ORACLE_TOP25_CHART_INPUT = f"""
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
         COUNT(*) AS volume,
         MAX(o_orderdate) AS signal_date
  FROM orders GROUP BY o_custkey
), last AS (
  SELECT o_custkey, o_totalprice AS close FROM (
    SELECT o_custkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders
  ) WHERE rn = 1
), scored AS (
  SELECT per.o_custkey, total_spend, volume, signal_date, close,
         total_spend / volume AS avg_order_value,
         PERCENT_RANK() OVER (ORDER BY total_spend) AS success_probability,
         PERCENT_RANK() OVER (ORDER BY volume) * 100 AS signal_strength,
         PERCENT_RANK() OVER (ORDER BY total_spend / volume) * 100 AS overall_quality_score
  FROM per JOIN last USING (o_custkey)
), picks AS (
  SELECT o_custkey AS pick_key, c_name AS symbol, signal_date,
         c_mktsegment AS trade_strategy,
         success_probability, signal_strength, overall_quality_score,
         success_probability * 0.6 + signal_strength / 100 * 0.2
           + overall_quality_score / 100 * 0.2 AS composite_score,
         n_name AS sector
  FROM scored
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE success_probability >= 0.80 AND overall_quality_score >= 50
  ORDER BY composite_score DESC, symbol, pick_key
  LIMIT 25
), t AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS date, value,
    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn_a,
    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_d
  FROM events
  WHERE user_id IN (SELECT pick_key FROM picks)
), bars AS (
  SELECT user_id, date,
    MIN(CASE WHEN rn_a = 1 THEN value END) AS open,
    MAX(value) AS high,
    MIN(value) AS low,
    MIN(CASE WHEN rn_d = 1 THEN value END) AS close,
    CAST(COUNT(*) AS BIGINT) AS volume
  FROM t GROUP BY user_id, date
), latest AS (
  SELECT * FROM (
    SELECT bars.*, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY date DESC) AS rn
    FROM bars
  ) WHERE rn <= {CHART_BARS_N}
), overlay AS (
  SELECT user_id, date, open, high, low, close, volume,
    CASE WHEN COUNT(*) OVER w20 = {CHART_MA_SHORT}
         THEN AVG(close) OVER w20 END AS ma20,
    CASE WHEN COUNT(*) OVER w50 = {CHART_MA_LONG}
         THEN AVG(close) OVER w50 END AS ma50
  FROM latest
  WINDOW
    w20 AS (PARTITION BY user_id ORDER BY date
            ROWS BETWEEN {CHART_MA_SHORT - 1} PRECEDING AND CURRENT ROW),
    w50 AS (PARTITION BY user_id ORDER BY date
            ROWS BETWEEN {CHART_MA_LONG - 1} PRECEDING AND CURRENT ROW)
)
SELECT symbol, signal_date, trade_strategy, success_probability,
       signal_strength, overall_quality_score, composite_score, sector,
       date, open, high, low, close, volume, ma20, ma50
FROM picks
LEFT JOIN overlay ON pick_key = user_id
ORDER BY symbol, pick_key, date
"""


QUERIES = {
    "l_diversity_report": l_diversity_report,
    "expectation_report": expectation_report,
    "daily_screener": daily_screener,
    "top25_chart_input": top25_chart_input,
    "database_summary": database_summary,
    "k_anonymity_report": k_anonymity_report,
}

ORACLES = {
    "l_diversity_report": ORACLE_L_DIVERSITY_REPORT,
    "expectation_report": ORACLE_EXPECTATION_REPORT,
    "daily_screener": ORACLE_DAILY_SCREENER,
    "top25_chart_input": ORACLE_TOP25_CHART_INPUT,
    "database_summary": ORACLE_DATABASE_SUMMARY,
    "k_anonymity_report": ORACLE_K_ANONYMITY_REPORT,
}
