"""Relational core: scans, filters, joins, aggregations, top-k.

Covers SURVEY §2 ids (queries below note theirs): scans S1, filter/
projection P1-P2/P9, distinct P6, distinct-on P7, joins J1-J8/J11,
aggregations A1/A3-A8/A9/A13, sorts/top-k O1-O5, set ops §2.7,
null-handling F7.

Scale notes (100 TB stance):
- Dimension joins (region/nation/customer/part) are explicitly
  ``broadcast()`` — no shuffle of the fact side.
- Fact-fact joins key on the join column and let AQE pick
  sort-merge vs shuffled-hash and split skewed partitions.
- Aggregates are expressed declaratively so Catalyst plans partial
  (map-side) aggregation before the shuffle.
- All money sums use exact decimal accumulation (functions.exact)
  so results are identical at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import davg, dsum, with_share_of_total
from ..sources.catalog import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------- A-family
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped grouped aggregate (SURVEY A1/A4 analog;
    mirrors the reference's grouped conditional sums,
    transform_insider_transactions_agg.py:75-124)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc_price = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    charge = disc_price * (F.lit(1).cast("decimal(3,2)") + F.col("l_tax").cast("decimal(3,2)"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING_SUMMARY = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  -- decimal→double via VARCHAR: DuckDB's direct cast converts the
  -- int128 to double FIRST and divides by 10^scale after (two
  -- roundings) — once the scaled integer exceeds 2^53 (these scale-
  -- 4/6 sums do at the 50× replica) that can land 1 ulp off the
  -- correctly-rounded value Spark's BigDecimal.doubleValue always
  -- produces; strtod is correctly rounded, so the string hop makes
  -- both engines round the SAME exact decimal identically
  -- (measured: sum_charge N/O group off by 3.05e-05 at sf5).
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE)
    AS sum_disc_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
           * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE)
    AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def conditional_pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual-pivot conditional aggregation — SUM/AVG/COUNT(CASE
    WHEN …) per group (SURVEY A1/A3; reference
    transform_insider_transactions_agg.py:75-124 does 30 of these)."""
    li = _t(spark, sf_dir, "lineitem")
    big = F.col("l_quantity") > 25
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(big, F.col("l_extendedprice").cast("decimal(18,2)")))
            .cast("double")
            .alias("sum_big_price"),
            F.sum(F.when(~big, F.col("l_extendedprice").cast("decimal(18,2)")))
            .cast("double")
            .alias("sum_small_price"),
            F.count(F.when(big, F.lit(1))).alias("n_big"),
            F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("n_disc"),
            (
                F.sum(F.when(big, F.col("l_quantity").cast("decimal(18,2)"))).cast("double")
                / F.count(F.when(big, F.lit(1)))
            ).alias("avg_big_qty"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_CONDITIONAL_PIVOT = """
SELECT
  l_returnflag,
  CAST(SUM(CASE WHEN l_quantity > 25 THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_big_price,
  CAST(SUM(CASE WHEN NOT (l_quantity > 25) THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_small_price,
  COUNT(CASE WHEN l_quantity > 25 THEN 1 END) AS n_big,
  COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_disc,
  CAST(SUM(CASE WHEN l_quantity > 25 THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
    / COUNT(CASE WHEN l_quantity > 25 THEN 1 END) AS avg_big_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def order_priority_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT per group (SURVEY A5/A6;
    database_summary_view.py:125-134)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_ORDER_PRIORITY_STATS = """
SELECT
  o_orderpriority,
  COUNT(*) AS n_orders,
  COUNT(DISTINCT o_custkey) AS n_customers,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def union_all_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL stacked per-table stats (SURVEY A8;
    database_summary_view.py:121-184)."""
    rows = []
    for name, key in [("orders", "o_orderkey"), ("lineitem", "l_orderkey"), ("customer", "c_custkey")]:
        df = _t(spark, sf_dir, name)
        rows.append(
            df.agg(
                F.lit(name).alias("table_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(key).alias("n_keys"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("table_name")


ORACLE_UNION_ALL_REPORT = """
SELECT * FROM (
  SELECT 'orders' AS table_name, COUNT(*) AS n_rows, COUNT(DISTINCT o_orderkey) AS n_keys FROM orders
  UNION ALL
  SELECT 'lineitem', COUNT(*), COUNT(DISTINCT l_orderkey) FROM lineitem
  UNION ALL
  SELECT 'customer', COUNT(*), COUNT(DISTINCT c_custkey) FROM customer
) ORDER BY table_name
"""


def union_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION with dedup — key space union (SURVEY A7;
    transform_fundamental_quality_scores.py:114-131)."""
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(F.col("o_custkey").alias("custkey"))
    big = o.filter(F.col("o_totalprice") > 400000).select(F.col("o_custkey").alias("custkey"))
    return urgent.union(big).distinct().orderBy("custkey")


ORACLE_UNION_DEDUP_KEYS = """
SELECT DISTINCT custkey FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT o_custkey FROM orders WHERE o_totalprice > 400000
) ORDER BY custkey
"""


def event_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global share-of-total via empty-frame window (SURVEY A13/W20;
    transform_earnings_call_transcript_eda.py:98-103)."""
    ev = _t(spark, sf_dir, "events")
    cnt = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return with_share_of_total(cnt, "n", "pct").orderBy("event_type")


ORACLE_EVENT_TYPE_SHARE = """
SELECT event_type, n, 100.0 * n / SUM(n) OVER () AS pct
FROM (SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type)
ORDER BY event_type
"""


# --------------------------------------------------------------- joins
def top_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi join + grouped agg + deterministic top-k
    (SURVEY J1, O4; backtest_strategies.py:101-121 join shape).

    Shape: revenue is pre-aggregated per order BEFORE the join, so
    (a) the join input shrinks from lineitems to orders, (b) the
    orders side broadcasts, and (c) n_orders becomes a plain count
    instead of a COUNT DISTINCT expansion over joined lineitems —
    exact-decimal sums are associative, so the two-level sum is
    bit-identical to the flat one (oracle keeps the flat form)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    per_order = li.groupBy("l_orderkey").agg(F.sum(rev).alias("order_rev"))
    # no broadcast hints: orders is a FACT table and customer scales
    # with SF — a hard broadcast hint would OOM at the 100 TB target;
    # AQE picks broadcast at fixture scale on its own
    per_cust = (
        per_order.join(
            o.select("o_orderkey", "o_custkey"),
            per_order.l_orderkey == F.col("o_orderkey"),
            "inner",
        )
        .groupBy("o_custkey")
        .agg(
            F.sum("order_rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey, "inner")
        .select(F.col("c_custkey").alias("custkey"), "c_name", "revenue", "n_orders")
        .orderBy(F.desc("revenue"), "custkey")
        .limit(10)
    )


ORACLE_TOP_REVENUE_CUSTOMERS = """
SELECT c_custkey AS custkey, c_name, revenue, n_orders
FROM (
  SELECT o_custkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
         COUNT(DISTINCT o_orderkey) AS n_orders
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey
) r JOIN customer ON o_custkey = c_custkey
ORDER BY revenue DESC, custkey
LIMIT 10
"""


def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join through broadcast dims (SURVEY J3/J4;
    transform_fundamental_quality_scores.py:185-230 multi-join).
    customer/nation/region are broadcast — only one fact shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("r_name")
    )


ORACLE_REGIONAL_REVENUE = """
SELECT r_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


def customers_without_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join — unprocessed-keys discovery idiom (SURVEY J7;
    transform_trading_signals.py:930-946)."""
    c = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


ORACLE_CUSTOMERS_WITHOUT_URGENT = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
ORDER BY c_custkey
"""


def customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join universe filter (SURVEY J8;
    transform_load_symbol_universe.py:305-331)."""
    c = _t(spark, sf_dir, "customer")
    open_o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        c.join(open_o, c.c_custkey == open_o.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


ORACLE_CUSTOMERS_WITH_OPEN_ORDERS = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
ORDER BY c_custkey
"""


def order_fill_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join preserving unmatched + COALESCE fill (SURVEY J2,
    F7; transform_trading_signals.py:182-187 raw⟕features)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
    heavy = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_heavy"), dsum("l_quantity").alias("heavy_qty"))
    )
    return (
        o.join(heavy, o.o_orderkey == heavy.l_orderkey, "left")
        .select(
            "o_orderkey",
            "o_orderdate",
            F.coalesce("n_heavy", F.lit(0)).alias("n_heavy"),
            F.coalesce("heavy_qty", F.lit(0.0)).alias("heavy_qty"),
        )
        .orderBy("o_orderkey")
    )


ORACLE_ORDER_FILL_LEFT_JOIN = """
SELECT o_orderkey, o_orderdate,
       COALESCE(n_heavy, 0) AS n_heavy,
       COALESCE(heavy_qty, 0.0) AS heavy_qty
FROM orders
LEFT JOIN (
  SELECT l_orderkey, COUNT(*) AS n_heavy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS heavy_qty
  FROM lineitem WHERE l_quantity > 45 GROUP BY l_orderkey
) h ON o_orderkey = h.l_orderkey
WHERE o_orderdate >= TIMESTAMP '2000-01-01'
ORDER BY o_orderkey
"""


def key_list_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-side key-list filter — IN-list pushed to the scan
    (SURVEY J11/P9; trading_bot/daily_signal_scorer.py:102-138)."""
    o = _t(spark, sf_dir, "orders")
    keys = [1, 7, 42, 99, 123, 500, 777, 1001]
    return (
        o.filter(F.col("o_custkey").isin(keys))
        .filter(F.col("o_orderdate") >= F.lit("1996-01-01"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderkey")
    )


ORACLE_KEY_LIST_PUSHDOWN = """
SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
FROM orders
WHERE o_custkey IN (1, 7, 42, 99, 123, 500, 777, 1001)
  AND o_orderdate >= TIMESTAMP '1996-01-01'
ORDER BY o_orderkey
"""


# --------------------------------------------------------------- dedup / top-k
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ON — latest row per key (SURVEY P7/O5/O6;
    trading_bot/daily_signal_scorer.py:73-89)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_custkey")
    )


ORACLE_LATEST_ORDER_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
ORDER BY o_custkey
"""


def top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (SURVEY O5; scoring funnel top-25 idiom,
    run_daily_transform.py:289-295)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_mktsegment", "rk", "o_orderkey", "o_totalprice")
        .orderBy("c_mktsegment", "rk")
    )


ORACLE_TOP_ORDERS_PER_SEGMENT = """
SELECT c_mktsegment, rk, o_orderkey, o_totalprice
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rk <= 3
ORDER BY c_mktsegment, rk
"""


def segment_percentile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete 10th/90th percentile per group via rank arithmetic —
    identical formula both engines (SURVEY A9;
    transform_fundamental_quality_scores.py:250-284). Uses discrete
    selection (value at ceil(q*n)) instead of interpolation so the
    result is an actual data value — exactly reproducible, unlike
    interpolated quantiles whose float expression trees differ
    across engines."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wc = Window.partitionBy("c_mktsegment")
    ranked = c.select(
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    p10 = F.ceil(F.lit(0.1) * F.col("n")).cast("int")
    p90 = F.ceil(F.lit(0.9) * F.col("n")).cast("int")
    return (
        ranked.groupBy("c_mktsegment")
        .agg(
            F.min(F.when(F.col("rn") == p10, F.col("c_acctbal"))).alias("p10_acctbal"),
            F.min(F.when(F.col("rn") == p90, F.col("c_acctbal"))).alias("p90_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_SEGMENT_PERCENTILE_BOUNDS = """
SELECT c_mktsegment,
       MIN(CASE WHEN rn = CAST(CEIL(0.1 * n) AS INT) THEN c_acctbal END) AS p10_acctbal,
       MIN(CASE WHEN rn = CAST(CEIL(0.9 * n) AS INT) THEN c_acctbal END) AS p90_acctbal,
       COUNT(*) AS n_customers
FROM (
  SELECT c_mktsegment, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS rn,
         COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM customer
)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def shipping_delay_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic (F9): order→ship delay distribution
    per priority — datediff + conditional buckets + exact avg."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min(delay).alias("min_delay_days"),
            F.max(delay).alias("max_delay_days"),
            (F.sum(delay).cast("double") / F.count(delay)).alias("avg_delay_days"),
            F.count(F.when(delay > 90, 1)).alias("n_late"),
            (F.lit(100.0) * F.count(F.when(delay > 90, 1)) / F.count(F.lit(1))).alias("pct_late"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_SHIPPING_DELAY_STATS = """
SELECT o_orderpriority,
  COUNT(*) AS n_items,
  MIN(date_diff('day', o_orderdate, l_shipdate)) AS min_delay_days,
  MAX(date_diff('day', o_orderdate, l_shipdate)) AS max_delay_days,
  CAST(SUM(date_diff('day', o_orderdate, l_shipdate)) AS DOUBLE)
    / COUNT(date_diff('day', o_orderdate, l_shipdate)) AS avg_delay_days,
  COUNT(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90 THEN 1 END) AS n_late,
  CAST(100.0 AS DOUBLE) * COUNT(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90 THEN 1 END)
    / COUNT(*) AS pct_late
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def customer_value_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score normalization (F14, the quality-score idiom on test
    data): clip acctbal to fixed bounds → scale 0-100, revenue-rank
    component, weighted composite, penalty flag — the reference's
    _normalize_to_score shape (transform_fundamental_quality_scores
    .py:250-345) with deterministic bounds."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(dsum("o_totalprice").alias("total_spend"))
    j = c.join(spend, c.c_custkey == spend.o_custkey, "left").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
    )
    lb, ub = F.lit(0.0), F.lit(8000.0)
    clipped = F.when(F.col("c_acctbal").isNotNull(), F.least(F.greatest(F.col("c_acctbal"), lb), ub))
    bal_score = (clipped - lb) / (ub - lb) * 100.0
    from ..operators.ranks import pct_rank_avg_ties

    spend_score = pct_rank_avg_ties([F.col("c_mktsegment")], F.col("total_spend")) * 100.0
    out = j.select(
        "c_custkey",
        "c_mktsegment",
        bal_score.alias("balance_score"),
        spend_score.alias("spend_score"),
    )
    composite = F.col("balance_score") * 0.4 + F.col("spend_score") * 0.6
    composite = F.when(F.col("balance_score") < 10.0, composite * 0.8).otherwise(composite)
    return out.select(
        "*",
        composite.alias("composite_score"),
        F.coalesce(composite >= 70.0, F.lit(False)).alias("is_high_value"),
    )


ORACLE_CUSTOMER_VALUE_SCORES = """
WITH spend AS (
  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
  FROM orders GROUP BY o_custkey
), j AS (
  SELECT c_custkey, c_mktsegment, c_acctbal, COALESCE(total_spend, CAST(0.0 AS DOUBLE)) AS total_spend
  FROM customer LEFT JOIN spend ON c_custkey = o_custkey
), s AS (
  SELECT c_custkey, c_mktsegment,
    CASE WHEN c_acctbal IS NOT NULL
         THEN (LEAST(GREATEST(c_acctbal, CAST(0.0 AS DOUBLE)), CAST(8000.0 AS DOUBLE))
               - CAST(0.0 AS DOUBLE)) / (CAST(8000.0 AS DOUBLE) - CAST(0.0 AS DOUBLE)) * CAST(100.0 AS DOUBLE)
    END AS balance_score,
    (RANK() OVER (PARTITION BY c_mktsegment ORDER BY total_spend)
     + (COUNT(*) OVER (PARTITION BY c_mktsegment, total_spend) - 1) / CAST(2.0 AS DOUBLE))
    / COUNT(*) OVER (PARTITION BY c_mktsegment) * CAST(100.0 AS DOUBLE) AS spend_score
  FROM j
)
SELECT c_custkey, c_mktsegment, balance_score, spend_score,
  CASE WHEN balance_score < CAST(10.0 AS DOUBLE)
       THEN (balance_score * CAST(0.4 AS DOUBLE) + spend_score * CAST(0.6 AS DOUBLE)) * CAST(0.8 AS DOUBLE)
       ELSE balance_score * CAST(0.4 AS DOUBLE) + spend_score * CAST(0.6 AS DOUBLE)
  END AS composite_score,
  COALESCE(CASE WHEN balance_score < CAST(10.0 AS DOUBLE)
       THEN (balance_score * CAST(0.4 AS DOUBLE) + spend_score * CAST(0.6 AS DOUBLE)) * CAST(0.8 AS DOUBLE)
       ELSE balance_score * CAST(0.4 AS DOUBLE) + spend_score * CAST(0.6 AS DOUBLE)
  END >= CAST(70.0 AS DOUBLE), FALSE) AS is_high_value
FROM s
"""


def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed fact⋈dim join through the explicit salting operator
    (operators/skew.py): events has 5 distinct event_type keys —
    unsalted, 5 reducers carry the entire fact shuffle. The salted
    plan joins on (event_type, salt) over 16× more reducers and
    must produce bit-identical results to the plain join (the
    oracle IS the plain join)."""
    from ..operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = ev.groupBy("event_type").agg(
        (dsum("value") / F.count(F.lit(1))).alias("type_avg"),
        F.count(F.lit(1)).alias("type_n"),
    )
    out = salted_join(ev, dim, ["event_type"], n_salt=16)
    return out.select(
        "event_id",
        "event_type",
        "value",
        "type_avg",
        "type_n",
        (F.col("value") - F.col("type_avg")).alias("value_dev"),
    )


ORACLE_SALTED_SKEW_JOIN = """
WITH dim AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS type_avg,
         COUNT(*) AS type_n
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type, value, type_avg, type_n, value - type_avg AS value_dev
FROM events e JOIN dim USING (event_type)
"""


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate shape (TPC-H Q17): lineitems whose
    quantity is below 20%% of their part's average quantity, summed.
    The correlated subquery de-correlates to a per-part aggregate +
    equi-join — one extra scan + one broadcast-able agg, never a
    per-row subquery execution."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        (davg("l_quantity") * F.lit(0.2)).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(per_part), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


ORACLE_SMALL_QUANTITY_REVENUE = """
WITH t AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) * 0.2 AS qty_threshold
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem JOIN t USING (l_partkey)
WHERE l_quantity < qty_threshold
"""


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy aggregation (region → nation → total):
    grouping sets compute every level in ONE scan + one shuffle —
    map-side partials fan into all grouping combinations, vs N
    scans for N levels done naively. grouping_id disambiguates the
    NULL-as-subtotal rows."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    facts = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", "n_name", "o_totalprice")
    )
    return (
        facts.rollup("r_name", "n_name")
        .agg(
            dsum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().alias("gid"),
        )
        .select("r_name", "n_name", "revenue", "n_orders", "gid")
    )


ORACLE_REVENUE_ROLLUP = """
SELECT r_name, n_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders,
       GROUPING(r_name) * 2 + GROUPING(n_name) AS gid
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bi-nation shipping volume by year.

    Scale shape: the nation filter is pushed INTO the supplier and
    customer dims before any fact join (classic Q7 rewrite), so the
    lineitem side is reduced by the broadcast semi-ish join to the
    ~2/25 qualifying suppliers BEFORE the fact-fact shuffle join
    with orders — at 100 TB the big shuffle moves only qualifying
    rows."""
    n1, n2 = "NATION_18", "NATION_19"
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(n1, n2))
    ns = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    nc = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01")) & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    disc_price = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    j = (
        li.join(F.broadcast(ns), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nc), F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


ORACLE_NATION_TRADE_VOLUME = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND ((sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
       OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18'))
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped max-of-aggregate: the supplier(s) whose
    quarterly revenue equals the global maximum — an agg joined back
    against its own scalar max (the view + subquery idiom). The max
    is one broadcast scalar row; equality on exactly-accumulated
    decimal-derived doubles is engine-portable."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    disc_price = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(disc_price).cast("double").alias("total_revenue"))
    mx = rev.agg(F.max("total_revenue").alias("mr"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mr"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


ORACLE_TOP_SUPPLIER_REVENUE = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped distribution-of-counts: how many customers
    placed exactly N qualifying orders (urgent orders excluded by a
    filter pushed below the join). Two aggregations: a left join
    counts orders per customer (NULL-safe — customers with none
    count 0), then the counts themselves are histogrammed. At scale
    the first agg shuffles on c_custkey (the join key, reused), the
    second shuffles tiny (one row per distinct count)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != F.lit("1-URGENT")
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


ORACLE_CUSTOMER_ORDER_DISTRIBUTION = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
             WHERE o_orderpriority <> '1-URGENT') o
    ON c_custkey = o.o_custkey
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped IN-subquery-on-aggregate: orders whose total
    lineitem quantity exceeds a threshold, enriched with the
    customer. The IN (SELECT ... HAVING SUM > t) de-correlates to a
    per-order aggregate + semi-join; here the aggregate IS the
    payload, so it is computed once and inner-joined — one shuffle
    on l_orderkey, then a join that AQE sizes (the filtered agg is
    small → broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > F.lit(250.0))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


ORACLE_LARGE_VOLUME_ORDERS = """
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 250.0
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders
JOIN big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
"""


def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped scalar-subquery + anti-join: customers whose
    balance is above the average positive balance but who have no
    open ('O') orders, summarized per market segment. The scalar avg
    is one broadcast row (a cross join with a 1-row frame); the
    NOT EXISTS is a left-anti join on c_custkey. At scale the anti
    join shuffles both sides on the key once — no per-row subquery."""
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        davg("c_acctbal").alias("avg_bal")
    )
    open_orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == F.lit("O")
    ).select("o_custkey")
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(open_orders, cust.c_custkey == open_orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_IDLE_RICH_CUSTOMERS = """
SELECT c_mktsegment, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                       / COUNT(c_acctbal)
                    FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def sole_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped EXISTS / NOT-EXISTS chain: suppliers who
    were the ONLY late shipper (ship > order date + 90 days) on a
    finished multi-supplier order. Rather than executing correlated
    EXISTS probes, both existence tests de-correlate into one
    per-order aggregate — distinct suppliers total and distinct late
    suppliers — so the whole query is two hash aggregations on
    l_orderkey plus a broadcast of the supplier dim. This is the
    plan shape that survives 100 TB; correlated-subquery execution
    would not."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == F.lit("F")
    ).select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90)).alias("is_late"),
    )
    per_order = joined.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late_supp"),
    )
    sole_late = (
        joined.filter(F.col("is_late"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            per_order.filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)),
            "l_orderkey",
        )
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole_late.join(F.broadcast(sup), sole_late.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


ORACLE_SOLE_LATE_SUPPLIERS = """
WITH joined AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 90 DAY AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supp
  FROM joined GROUP BY l_orderkey
), sole_late AS (
  SELECT DISTINCT j.l_orderkey, j.l_suppkey
  FROM joined j
  JOIN per_order p ON j.l_orderkey = p.l_orderkey
  WHERE j.is_late AND p.n_supp > 1 AND p.n_late_supp = 1
)
SELECT s_name, COUNT(*) AS numwait
FROM sole_late JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""



def weighted_avg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 as a driver query (the reference shape is the sentiment
    weighted-average + HAVING over relevance weights,
    transform_news_sentiment.py sentiment_agg): per-user weighted
    average event value with weight = event_id % 10 + 1, keeping
    only users with >= 20 events. Exact-decimal weighted sum, ONE
    double divide at the end; map-side partial aggregation."""
    ev = load_table(spark, sf_dir, "events")
    wgt = (F.col("event_id") % 10 + 1).cast("decimal(4,0)")
    wsum = F.sum(F.col("value").cast("decimal(18,2)") * wgt)
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            wsum.cast("double").alias("weighted_sum"),
            F.sum(wgt).cast("bigint").alias("total_weight"),
        )
        .filter(F.col("n_events") >= 20)
        .select(
            "user_id",
            "n_events",
            "weighted_sum",
            "total_weight",
            (F.col("weighted_sum") / F.col("total_weight").cast("double")).alias(
                "weighted_avg"
            ),
        )
        .orderBy("user_id")
    )


ORACLE_WEIGHTED_AVG_HAVING = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(event_id % 10 + 1 AS DECIMAL(4,0))) AS DOUBLE)
         AS weighted_sum,
       CAST(SUM(CAST(event_id % 10 + 1 AS DECIMAL(4,0))) AS BIGINT) AS total_weight,
       CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(event_id % 10 + 1 AS DECIMAL(4,0))) AS DOUBLE)
         / CAST(SUM(CAST(event_id % 10 + 1 AS DECIMAL(4,0))) AS DOUBLE) AS weighted_avg
FROM events
GROUP BY user_id
HAVING COUNT(*) >= 20
ORDER BY user_id
"""


def lineitem_adjacent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 as a driver query: COMPOSITE-KEY equi self-join — each
    lineitem joined to the next line of the same order on
    (l_orderkey, l_linenumber + 1), reporting the price step between
    adjacent lines. One shuffle pair on the composite key; the
    reference analog is the 3-statement composite-key join in
    fundamental quality scores (symbol_id, fiscal_date_ending)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("price_a"),
    )
    b = li.select(
        F.col("l_orderkey").alias("b_orderkey"),
        (F.col("l_linenumber") - 1).alias("b_prev_line"),
        F.col("l_extendedprice").alias("price_b"),
    )
    delta = (
        F.col("price_b").cast("decimal(18,2)") - F.col("price_a").cast("decimal(18,2)")
    ).cast("double")
    return (
        a.join(
            b,
            (a.l_orderkey == b.b_orderkey) & (a.l_linenumber == b.b_prev_line),
        )
        .select("l_orderkey", "l_linenumber", "price_a", "price_b", delta.alias("price_step"))
        .orderBy("l_orderkey", "l_linenumber")
    )


ORACLE_LINEITEM_ADJACENT_PAIRS = """
SELECT a.l_orderkey, a.l_linenumber,
       a.l_extendedprice AS price_a,
       b.l_extendedprice AS price_b,
       CAST(CAST(b.l_extendedprice AS DECIMAL(18,2))
            - CAST(a.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price_step
FROM lineitem a
JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1
ORDER BY a.l_orderkey, a.l_linenumber
"""



def order_value_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/F10 as a driver query (the reference shape is the insider
    transaction-size tier summary): bucketize orders into value
    tiers, then per-tier counts, exact-decimal value sums and
    averages, and distinct-customer counts. One hash aggregate with
    map-side combine; the bucketize is a pure CASE expression."""
    o = load_table(spark, sf_dir, "orders")
    tier = (
        F.when(F.col("o_totalprice") < 50_000, "SMALL")
        .when(F.col("o_totalprice") < 150_000, "MEDIUM")
        .otherwise("LARGE")
    )
    return (
        o.groupBy(tier.alias("value_tier"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_value"),
            davg("o_totalprice").alias("avg_value"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .orderBy("value_tier")
    )


ORACLE_ORDER_VALUE_TIERS = """
SELECT CASE WHEN o_totalprice < 50000 THEN 'SMALL'
            WHEN o_totalprice < 150000 THEN 'MEDIUM'
            ELSE 'LARGE' END AS value_tier,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_totalprice)
         AS avg_value,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders
GROUP BY 1
ORDER BY value_tier
"""


def null_handling_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P5/F7 as a driver query: NULL-injection via NULLIF (open
    orders lose their status), then the three NULL disciplines the
    reference uses side by side — count of nulls, COALESCE fill to a
    sentinel, and dropna survivors — reported per priority."""
    o = load_table(spark, sf_dir, "orders")
    st = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return (
        o.select("o_orderpriority", st.alias("st"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("st").isNull(), 1).otherwise(0)).alias("n_null"),
            F.count("st").alias("n_after_dropna"),
            F.sum(F.when(F.coalesce(F.col("st"), F.lit("X")) == "X", 1).otherwise(0)).alias(
                "n_filled_sentinel"
            ),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_NULL_HANDLING_REPORT = """
SELECT o_orderpriority,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN NULLIF(o_orderstatus, 'O') IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null,
       COUNT(NULLIF(o_orderstatus, 'O')) AS n_after_dropna,
       CAST(SUM(CASE WHEN COALESCE(NULLIF(o_orderstatus, 'O'), 'X') = 'X'
                     THEN 1 ELSE 0 END) AS BIGINT)
         AS n_filled_sentinel
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


INC_CUTOFF = "2000-01-01"


def incremental_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance — the 100 TB shape
    where a (month, priority) revenue rollup is NEVER recomputed
    from the full fact table: orders before the cutoff play the
    PERSISTED aggregate state (sum + count per group), orders after
    it play the newly-arrived batch; the refreshed view is the
    algebraic merge (sum-of-sums, sum-of-counts) of state and batch
    partials. The oracle is the full recompute over all orders —
    hash equality proves merge ≡ recompute, which is exactly the
    invariant an incremental pipeline must preserve.

    Correctness discipline: the state carries EXACT DECIMAL sums
    (cast to double only in the final projection) so the merge is
    associative to the bit — state stores sums and counts, never
    averages, because averages don't merge. Scale shape: each side
    is one hash aggregate with map-side partials; the merge
    re-shuffles only the (tiny) per-group state rows, proportional
    to group count, not fact rows. In production the state side is
    a TableIO-persisted table and only the batch agg runs per
    refresh (same ledger pattern as plans/watermarks.py)."""
    o = _t(spark, sf_dir, "orders").select(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("order_month"),
        "o_orderpriority",
        "o_totalprice",
        "o_orderdate",
    )
    dec = F.col("o_totalprice").cast("decimal(18,2)")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("order_month", "o_orderpriority").agg(
            F.sum(dec).alias("rev_state"), F.count(F.lit(1)).alias("n_state")
        )

    state = partial(o.filter(F.col("o_orderdate") < F.lit(INC_CUTOFF)))
    # null-safe complement: a NULL date must land in exactly one side
    # or merge ≠ recompute (no nulls in the test data, but the
    # invariant shouldn't depend on that)
    batch = partial(
        o.filter((F.col("o_orderdate") >= F.lit(INC_CUTOFF)) | F.col("o_orderdate").isNull())
    )
    merged = (
        state.unionByName(batch)
        .groupBy("order_month", "o_orderpriority")
        .agg(F.sum("rev_state").alias("rev_dec"), F.sum("n_state").alias("n_orders"))
    )
    return merged.select(
        "order_month",
        "o_orderpriority",
        F.col("rev_dec").cast("double").alias("revenue"),
        "n_orders",
        (F.col("rev_dec").cast("double") / F.col("n_orders")).alias("avg_order_value"),
    )


ORACLE_INCREMENTAL_ROLLUP_MAINTENANCE = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
       o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_order_value
FROM orders
GROUP BY 1, 2
"""


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two table snapshots — the Delta
    CDF / Iceberg-changelog shape: full-outer join the OLD and NEW
    versions on the natural key and emit one row per change with
    ``change_type`` ∈ {insert, delete, update} (unchanged rows drop
    out). Snapshots are carved deterministically from ``orders``:
    OLD omits keys ≡ 3 (mod 10) — those become inserts; NEW omits
    keys ≡ 7 (mod 10) — those become deletes; NEW re-prices keys
    ≡ 0 (mod 5) — those become updates.

    Scale shape: ONE full-outer sort-merge join on the key (both
    sides shuffle once; with bucketed layout or Delta CDF the
    shuffle disappears entirely); the change classification is a
    pure projection. No skew risk — the key is unique per side."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    old = o.filter(F.col("o_orderkey") % 10 != 3).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("old_status"),
        F.col("o_totalprice").alias("old_price"),
    )
    new = (
        o.filter(F.col("o_orderkey") % 10 != 7)
        .select(
            "o_orderkey",
            F.col("o_orderstatus").alias("new_status"),
            # +10.0 (not a percentage round-trip): IEEE double add is
            # bit-identical across engines; round(x*1.1, 2) is not
            F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + F.lit(10.0))
            .otherwise(F.col("o_totalprice"))
            .alias("new_price"),
        )
    )
    j = old.join(new, "o_orderkey", "full_outer")
    change = (
        F.when(F.col("old_price").isNull(), F.lit("insert"))
        .when(F.col("new_price").isNull(), F.lit("delete"))
        .when(
            (F.col("old_price") != F.col("new_price"))
            | (F.col("old_status") != F.col("new_status")),
            F.lit("update"),
        )
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select("o_orderkey", "change_type", "old_price", "new_price")
    )


ORACLE_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT o_orderkey, o_orderstatus AS old_status, o_totalprice AS old_price
  FROM orders WHERE o_orderkey % 10 <> 3
), new AS (
  SELECT o_orderkey, o_orderstatus AS new_status,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS new_price
  FROM orders WHERE o_orderkey % 10 <> 7
), j AS (
  SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
         old_status, old_price, new_status, new_price
  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
)
SELECT o_orderkey,
       CASE WHEN old_price IS NULL THEN 'insert'
            WHEN new_price IS NULL THEN 'delete'
            WHEN old_price <> new_price OR old_status <> new_status THEN 'update'
       END AS change_type,
       old_price, new_price
FROM j
WHERE (CASE WHEN old_price IS NULL THEN 'insert'
            WHEN new_price IS NULL THEN 'delete'
            WHEN old_price <> new_price OR old_status <> new_status THEN 'update'
       END) IS NOT NULL
"""


def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema — the
    data-quality gate a warehouse runs after every load: for each
    child→parent relationship, total child rows, orphan rows
    (child key with no parent), and null-key rows. One output row
    per relationship, stacked with unionByName (A8 idiom).

    Scale shape: each relationship is a LEFT ANTI join from the
    fact to the (broadcast-sized) parent key set — no fact-side
    shuffle when the parent fits a broadcast, which dim tables do
    by definition. Counts are map-side-partial aggregates."""
    checks = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    outs = []
    for rel, child, ck, parent, pk in checks:
        c = _t(spark, sf_dir, child)
        p = _t(spark, sf_dir, parent).select(F.col(pk).alias(ck)).distinct()
        orphans = (
            c.filter(F.col(ck).isNotNull())
            .join(F.broadcast(p), ck, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        base = c.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col(ck).isNull(), 1)).alias("n_null_keys"),
        )
        outs.append(
            base.crossJoin(orphans).select(
                F.lit(rel).alias("relationship"), "n_rows", "n_null_keys", "n_orphans"
            )
        )
    from functools import reduce as _reduce

    return _reduce(lambda a, b: a.unionByName(b), outs)


ORACLE_FK_INTEGRITY_AUDIT = """
SELECT 'lineitem.l_orderkey->orders' AS relationship,
       (SELECT COUNT(*) FROM lineitem) AS n_rows,
       (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL) AS n_null_keys,
       (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL
          AND l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)) AS n_orphans
UNION ALL
SELECT 'orders.o_custkey->customer',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL),
       (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL
          AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL))
UNION ALL
SELECT 'customer.c_nationkey->nation',
       (SELECT COUNT(*) FROM customer),
       (SELECT COUNT(*) FROM customer WHERE c_nationkey IS NULL),
       (SELECT COUNT(*) FROM customer WHERE c_nationkey IS NOT NULL
          AND c_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL))
UNION ALL
SELECT 'supplier.s_nationkey->nation',
       (SELECT COUNT(*) FROM supplier),
       (SELECT COUNT(*) FROM supplier WHERE s_nationkey IS NULL),
       (SELECT COUNT(*) FROM supplier WHERE s_nationkey IS NOT NULL
          AND s_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL))
UNION ALL
SELECT 'nation.n_regionkey->region',
       (SELECT COUNT(*) FROM nation),
       (SELECT COUNT(*) FROM nation WHERE n_regionkey IS NULL),
       (SELECT COUNT(*) FROM nation WHERE n_regionkey IS NOT NULL
          AND n_regionkey NOT IN (SELECT r_regionkey FROM region WHERE r_regionkey IS NOT NULL))
"""


def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt — the inverse of the A1 pivot: a wide
    per-priority metrics row (orders, revenue, max price) melts
    into tidy (priority, metric, value) triples via the native
    ``DataFrame.unpivot`` (Spark ≥3.4; compiles to a single
    Expand node — one pass, no union of self-scans). The oracle is
    the portable UNION ALL formulation.

    Scale shape: the melt itself is map-only (Expand multiplies
    rows without a shuffle); the only shuffle is the upstream
    grouped aggregate."""
    o = _t(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
        F.max("o_totalprice").alias("max_price"),
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_orders", "revenue", "max_price"],
        variableColumnName="metric",
        valueColumnName="value",
    )


ORACLE_UNPIVOT_METRICS = """
WITH wide AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS DOUBLE) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         MAX(o_totalprice) AS max_price
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM wide
UNION ALL
SELECT o_orderpriority, 'revenue', revenue FROM wide
UNION ALL
SELECT o_orderpriority, 'max_price', max_price FROM wide
"""


def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profiling over ``orders`` — the stats a
    warehouse collects after every load (and what an optimizer's
    CBO consumes): per column, row count, null count, exact
    distinct count, and for numeric columns min/max/mean as
    doubles. One row per column, stacked (A8 idiom).

    Scale shape: ONE aggregate pass over the table computes every
    column's stats together (count/min/max are map-side partials;
    the exact distincts expand the aggregate — at 100 TB you'd
    swap them for HLL sketches, which queries/sketches.py already
    provides; exact is kept here for the value oracle). The
    per-column rows come from an IN-PLAN explode over that single
    aggregate row — no per-column re-scan, no driver round-trip."""
    o = _t(spark, sf_dir, "orders")
    num_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    all_cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in all_cols:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"nulls_{c}"),
            F.countDistinct(c).alias(f"dist_{c}"),
        ]
    for c in num_cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"max_{c}"),
            (dsum(F.col(c)) / F.count(c)).alias(f"mean_{c}"),
        ]
    # ONE scan, ZERO construction jobs: referencing the aggregate
    # frame from every per-column union branch made Catalyst
    # duplicate it — five scans of the table (PLANS.md caught it) —
    # and the r06 collect-and-stack fixed the scans by running the
    # aggregate at CONSTRUCTION time. Exploding a literal array of
    # per-column structs over the one-row aggregate keeps both: the
    # aggregate is one subplan consumed once, and the stack is pure
    # projection.
    s = o.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"nulls_{c}").alias("n_nulls"),
            F.col(f"dist_{c}").alias("n_distinct"),
            (F.col(f"min_{c}") if c in num_cols else F.lit(None).cast("double")).alias("min_value"),
            (F.col(f"max_{c}") if c in num_cols else F.lit(None).cast("double")).alias("max_value"),
            (F.col(f"mean_{c}") if c in num_cols else F.lit(None).cast("double")).alias("mean_value"),
        )
        for c in all_cols
    ]
    return s.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


ORACLE_COLUMN_PROFILE = """
WITH s AS (
  SELECT COUNT(*) AS n_rows,
         COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS nulls_k,
         COUNT(DISTINCT o_orderkey) AS dist_k,
         COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS nulls_c,
         COUNT(DISTINCT o_custkey) AS dist_c,
         COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END) AS nulls_s,
         COUNT(DISTINCT o_orderstatus) AS dist_s,
         COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END) AS nulls_p,
         COUNT(DISTINCT o_totalprice) AS dist_p,
         COUNT(CASE WHEN o_orderpriority IS NULL THEN 1 END) AS nulls_pr,
         COUNT(DISTINCT o_orderpriority) AS dist_pr,
         CAST(MIN(o_orderkey) AS DOUBLE) AS min_k,
         CAST(MAX(o_orderkey) AS DOUBLE) AS max_k,
         CAST(SUM(CAST(o_orderkey AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_orderkey) AS mean_k,
         CAST(MIN(o_custkey) AS DOUBLE) AS min_c,
         CAST(MAX(o_custkey) AS DOUBLE) AS max_c,
         CAST(SUM(CAST(o_custkey AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_custkey) AS mean_c,
         CAST(MIN(o_totalprice) AS DOUBLE) AS min_p,
         CAST(MAX(o_totalprice) AS DOUBLE) AS max_p,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_totalprice) AS mean_p
  FROM orders
)
SELECT 'o_orderkey' AS column_name, n_rows, nulls_k AS n_nulls, dist_k AS n_distinct,
       min_k AS min_value, max_k AS max_value, mean_k AS mean_value FROM s
UNION ALL
SELECT 'o_custkey', n_rows, nulls_c, dist_c, min_c, max_c, mean_c FROM s
UNION ALL
SELECT 'o_orderstatus', n_rows, nulls_s, dist_s, NULL, NULL, NULL FROM s
UNION ALL
SELECT 'o_totalprice', n_rows, nulls_p, dist_p, min_p, max_p, mean_p FROM s
UNION ALL
SELECT 'o_orderpriority', n_rows, nulls_pr, dist_pr, NULL, NULL, NULL FROM s
"""


def pareto_front_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front) over parts — minimize retail
    price, maximize size: the multi-objective shortlist query
    (cheapest part at every size level nothing strictly beats).
    Algorithm is the textbook sort-scan: order by (price asc, size
    desc), keep a row iff its size strictly exceeds the running max
    size of every STRICTLY cheaper-or-better predecessor — one
    ordered pass, no O(n²) dominance join. Exact (price, size)
    duplicates collapse to the min partkey first so 'keep' is
    well-defined under ties.

    The oracle runs the IDENTICAL window recurrence, so parity is
    by construction. Scale shape: the sort-scan is DISTRIBUTED via
    operators/total_order.range_prefix_scan_max — range-partition
    the scan order, per-partition running max, each partition's
    incoming max from a bounded driver prefix-combine. No
    single-partition WindowExec anywhere (the r04 shape had one;
    the plan lint now bans it); every sort partition is ~|parts|/P
    rows."""
    from ..operators.memo import pin_on_first_action
    from ..operators.total_order import range_prefix_scan_max

    p = _t(spark, sf_dir, "part")
    dedup = (
        p.groupBy("p_retailprice", "p_size")
        .agg(F.min("p_partkey").alias("p_partkey"))
    )
    pins: list[DataFrame] = []
    scanned = range_prefix_scan_max(
        dedup,
        [F.asc("p_retailprice"), F.desc("p_size"), F.asc("p_partkey")],
        "p_size",
        "runmax_size",
        pins=pins,
    ).select("p_partkey", "p_retailprice", "p_size", "runmax_size")
    front = scanned.filter(
        F.col("runmax_size").isNull() | (F.col("p_size") > F.col("runmax_size"))
    ).select("p_partkey", "p_retailprice", "p_size")
    return pin_on_first_action(front, pins, fill=False)


ORACLE_PARETO_FRONT_PARTS = """
WITH dedup AS (
  SELECT p_retailprice, p_size, MIN(p_partkey) AS p_partkey
  FROM part GROUP BY p_retailprice, p_size
), scanned AS (
  SELECT p_partkey, p_retailprice, p_size,
         MAX(p_size) OVER (ORDER BY p_retailprice ASC, p_size DESC, p_partkey ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax_size
  FROM dedup
)
SELECT p_partkey, p_retailprice, p_size
FROM scanned
WHERE runmax_size IS NULL OR p_size > runmax_size
"""


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the sequence-modeling prep stage (session path
    analysis, next-event prediction features): count (prev_type →
    next_type) transitions along each user's (ts, event_id) order,
    then row-normalize into transition probabilities.

    Scale shape: one shuffle on user_id for the lag, then a hash
    aggregate on the (tiny) type-pair key; the row normalization is
    a window over |types|² rows — constants, regardless of input
    size."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    cnt = seq.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    wrow = Window.partitionBy("prev_type")
    return cnt.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wrow).cast("double")).alias("p"),
    )


ORACLE_EVENT_TRANSITION_MATRIX = """
WITH seq AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
), cnt AS (
  SELECT prev_type, next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n,
       CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
FROM cnt
"""


def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation — all four grouping combinations of
    (status, priority) in one scan + one shuffle, grouping_id
    disambiguating subtotal NULLs (completes the grouping-sets
    family next to ``revenue_rollup``'s ROLLUP)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            dsum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().alias("gid"),
        )
        .select("o_orderstatus", "o_orderpriority", "revenue", "n_orders", "gid")
    )


ORACLE_CUBE_STATUS_PRIORITY = """
SELECT o_orderstatus, o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders,
       GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


JOIN_EXPLOSION_LIMIT = 1000


def join_explosion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality guardrail — the pre-flight check a pipeline
    runs before an untrusted join: per join key, the row count on
    each side and the output rows the join WOULD produce (their
    product), flagging keys whose fan-out exceeds the budget. Run
    here on the lineitem⋈lineitem self-join key (the worst-case
    shape: every key multiplies).

    Scale shape: two map-side-combined counts and a join of the two
    (small) per-key count frames — the audit never materializes the
    joined rows it is sizing. Output is capped to the top-20
    worst keys: the guardrail's verdict, not a dump."""
    li = _t(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    sized = per_key.select(
        "l_orderkey",
        F.col("n").alias("n_left"),
        F.col("n").alias("n_right"),
        (F.col("n") * F.col("n")).alias("out_rows"),
    )
    return (
        sized.withColumn("explodes", F.col("out_rows") > JOIN_EXPLOSION_LIMIT)
        .orderBy(F.desc("out_rows"), F.asc("l_orderkey"))
        .limit(20)
    )


ORACLE_JOIN_EXPLOSION_AUDIT = f"""
SELECT l_orderkey, n AS n_left, n AS n_right, n * n AS out_rows,
       n * n > {JOIN_EXPLOSION_LIMIT} AS explodes
FROM (SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey)
ORDER BY out_rows DESC, l_orderkey ASC
LIMIT 20
"""


def rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-navigation cascade — the warehouse pattern where
    each coarser rollup is built from the NEXT FINER rollup, never
    from the fact table: daily revenue from orders, monthly from
    the daily frame, quarterly from the monthly frame. The oracle
    aggregates straight from the facts, so the hash match proves
    the cascade loses nothing — the invariant that lets a 100 TB
    warehouse serve quarter queries from a million-row monthly
    table instead of re-scanning facts.

    Exactness: revenue stays DECIMAL through every cascade level
    (doubles would drift re-aggregating) and is cast once in the
    final projection. Scale shape: the fact scan happens ONCE (the
    daily agg); each further level aggregates the previous level's
    output — row counts shrink ~30× per step."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
        F.count(F.lit(1)).alias("n"),
    )
    monthly = daily.groupBy(F.trunc("day", "month").alias("month")).agg(
        F.sum("rev").alias("rev"), F.sum("n").alias("n")
    )
    quarterly = monthly.groupBy(F.trunc("month", "quarter").alias("quarter")).agg(
        F.sum("rev").alias("rev"), F.sum("n").alias("n")
    )
    return quarterly.select(
        "quarter",
        F.col("rev").cast("double").alias("revenue"),
        F.col("n").alias("n_orders"),
    )


ORACLE_ROLLUP_CASCADE = """
SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY 1
"""


import math as _math

# Benford expected first-digit shares, computed ONCE in Python and
# embedded as identical double literals in both engines (log10 in
# SQL would differ in the last ulp between libm implementations —
# the same reason tfidf_top_terms is log-free)
_BENFORD_P = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law forensic audit over order amounts — the
    classic fraud screen on financial figures: observed first-digit
    distribution vs the Benford expectation, with each digit's
    χ²-contribution (n·(obs_share − p)²/p). Fabricated amounts show
    up as a fat χ² tail; real transaction data tracks Benford
    closely.

    Scale shape: first-digit extraction is a string expression,
    then ONE 9-bucket hash aggregate with map-side partials — the
    audit is a single cheap pass no matter the table size."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d1 = F.substring(F.floor("o_totalprice").cast("string"), 1, 1).alias("digit")
    counts = o.select(d1).groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    total = counts.agg(F.sum("n_obs").alias("n_total"))
    expected = F.create_map(
        *[x for d, p in _BENFORD_P.items() for x in (F.lit(str(d)), F.lit(p))]
    )
    j = counts.crossJoin(total).withColumn("p_expected", expected[F.col("digit")])
    obs_share = F.col("n_obs").cast("double") / F.col("n_total").cast("double")
    dev = obs_share - F.col("p_expected")
    return j.select(
        "digit",
        "n_obs",
        obs_share.alias("obs_share"),
        "p_expected",
        (F.col("n_total").cast("double") * dev * dev / F.col("p_expected")).alias(
            "chi2_contrib"
        ),
    )


ORACLE_BENFORD_AUDIT = f"""
WITH counts AS (
  SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS digit,
         COUNT(*) AS n_obs
  FROM orders WHERE o_totalprice >= 1
  GROUP BY 1
), total AS (
  SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM counts
), expected(digit, p_expected) AS (
  VALUES {", ".join(f"('{d}', CAST({p!r} AS DOUBLE))" for d, p in _BENFORD_P.items())}
)
SELECT c.digit, n_obs,
       CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) AS obs_share,
       p_expected,
       CAST(n_total AS DOUBLE)
         * (CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) - p_expected)
         * (CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) - p_expected)
         / p_expected AS chi2_contrib
FROM counts c JOIN expected e ON c.digit = e.digit
CROSS JOIN total
"""


def abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto contribution analysis — per market segment,
    customers ranked by revenue with their cumulative revenue share,
    classed A (first customers covering ≤80% of segment revenue),
    B (≤95%), C (tail). The classic 80/20 concentration report every
    commercial analytics stack ships.

    Exactness: revenue and the cumulative sum stay DECIMAL through
    the window (a double running sum would drift with partition
    order); the share division happens once per row on the exact
    numerator. Scale shape: one shuffle on (segment, customer) for
    the rollup, one window per segment reusing a single sort —
    segments are few, so per-partition data is the only size that
    matters (AQE skew split if one segment dominates)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    per = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")), o.o_custkey == F.col("c_custkey"))
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_dec"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("rev_dec"), F.asc("c_custkey")
    ).rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy("c_mktsegment")
    cum = F.sum("rev_dec").over(w)
    tot = F.sum("rev_dec").over(wt)
    share = cum.cast("double") / tot.cast("double")
    klass = F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C")
    return per.select(
        "c_mktsegment",
        "c_custkey",
        F.col("rev_dec").cast("double").alias("revenue"),
        share.alias("cum_share"),
        klass.alias("abc_class"),
    )


ORACLE_ABC_ANALYSIS = """
WITH per AS (
  SELECT c_mktsegment, c_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT c_mktsegment, c_custkey, rev_dec,
         CAST(SUM(rev_dec) OVER (PARTITION BY c_mktsegment
                                 ORDER BY rev_dec DESC, c_custkey ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE)
           / CAST(SUM(rev_dec) OVER (PARTITION BY c_mktsegment) AS DOUBLE) AS cum_share
  FROM per
)
SELECT c_mktsegment, c_custkey, CAST(rev_dec AS DOUBLE) AS revenue, cum_share,
       CASE WHEN cum_share <= 0.80 THEN 'A'
            WHEN cum_share <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
"""


N_SALT = 16


def salted_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit salted two-phase aggregation — the skew-safe
    aggregate shape (the agg-side sibling of ``salted_skew_join``):
    a hot grouping key (only 5 event types over millions of rows)
    first aggregates on (key, salt) so the hot key's rows spread
    over N_SALT reducers, then the per-salt partials merge on the
    bare key. The oracle is the plain GROUP BY — hash equality
    proves salting is semantics-free, which is the property that
    lets you apply it mechanically to any skewed additive agg.

    (Spark's map-side partial aggregation usually makes this
    unnecessary for plain sums; the explicit form is what you need
    when partials DON'T combine map-side — high-cardinality
    distincts under each hot key, collect-style aggs — and it's the
    shape AQE's skew handling cannot reach because the skew is in
    the AGG key, not a join.) Exactness: decimal partial sums merge
    exactly, cast once at the end."""
    ev = _t(spark, sf_dir, "events")
    salted = ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALT)))
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("v_dec"),
    )
    return (
        partial.groupBy("event_type")
        .agg(F.sum("n").alias("n_events"), F.sum("v_dec").alias("v_dec"))
        .select(
            "event_type", "n_events", F.col("v_dec").cast("double").alias("total_value")
        )
    )


ORACLE_SALTED_TWO_PHASE_AGG = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


QUERIES = {
    "salted_two_phase_agg": salted_two_phase_agg,
    "abc_analysis": abc_analysis,
    "benford_audit": benford_audit,
    "incremental_rollup_maintenance": incremental_rollup_maintenance,
    "rollup_cascade": rollup_cascade,
    "snapshot_diff": snapshot_diff,
    "fk_integrity_audit": fk_integrity_audit,
    "unpivot_metrics": unpivot_metrics,
    "column_profile": column_profile,
    "pareto_front_parts": pareto_front_parts,
    "event_transition_matrix": event_transition_matrix,
    "cube_status_priority": cube_status_priority,
    "join_explosion_audit": join_explosion_audit,
    "order_value_tiers": order_value_tiers,
    "null_handling_report": null_handling_report,
    "weighted_avg_having": weighted_avg_having,
    "lineitem_adjacent_pairs": lineitem_adjacent_pairs,
    "pricing_summary": pricing_summary,
    "nation_trade_volume": nation_trade_volume,
    "top_supplier_revenue": top_supplier_revenue,
    "conditional_pivot_agg": conditional_pivot_agg,
    "order_priority_stats": order_priority_stats,
    "union_all_report": union_all_report,
    "union_dedup_keys": union_dedup_keys,
    "event_type_share": event_type_share,
    "top_revenue_customers": top_revenue_customers,
    "regional_revenue": regional_revenue,
    "customers_without_urgent": customers_without_urgent,
    "customers_with_open_orders": customers_with_open_orders,
    "order_fill_left_join": order_fill_left_join,
    "key_list_pushdown": key_list_pushdown,
    "latest_order_per_customer": latest_order_per_customer,
    "top_orders_per_segment": top_orders_per_segment,
    "segment_percentile_bounds": segment_percentile_bounds,
    "shipping_delay_stats": shipping_delay_stats,
    "customer_value_scores": customer_value_scores,
    "salted_skew_join": salted_skew_join,
    "small_quantity_revenue": small_quantity_revenue,
    "revenue_rollup": revenue_rollup,
    "customer_order_distribution": customer_order_distribution,
    "large_volume_orders": large_volume_orders,
    "idle_rich_customers": idle_rich_customers,
    "sole_late_suppliers": sole_late_suppliers,
}

ORACLES = {
    "salted_two_phase_agg": ORACLE_SALTED_TWO_PHASE_AGG,
    "abc_analysis": ORACLE_ABC_ANALYSIS,
    "benford_audit": ORACLE_BENFORD_AUDIT,
    "incremental_rollup_maintenance": ORACLE_INCREMENTAL_ROLLUP_MAINTENANCE,
    "rollup_cascade": ORACLE_ROLLUP_CASCADE,
    "snapshot_diff": ORACLE_SNAPSHOT_DIFF,
    "fk_integrity_audit": ORACLE_FK_INTEGRITY_AUDIT,
    "unpivot_metrics": ORACLE_UNPIVOT_METRICS,
    "column_profile": ORACLE_COLUMN_PROFILE,
    "pareto_front_parts": ORACLE_PARETO_FRONT_PARTS,
    "event_transition_matrix": ORACLE_EVENT_TRANSITION_MATRIX,
    "cube_status_priority": ORACLE_CUBE_STATUS_PRIORITY,
    "join_explosion_audit": ORACLE_JOIN_EXPLOSION_AUDIT,
    "order_value_tiers": ORACLE_ORDER_VALUE_TIERS,
    "null_handling_report": ORACLE_NULL_HANDLING_REPORT,
    "weighted_avg_having": ORACLE_WEIGHTED_AVG_HAVING,
    "lineitem_adjacent_pairs": ORACLE_LINEITEM_ADJACENT_PAIRS,
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "nation_trade_volume": ORACLE_NATION_TRADE_VOLUME,
    "top_supplier_revenue": ORACLE_TOP_SUPPLIER_REVENUE,
    "conditional_pivot_agg": ORACLE_CONDITIONAL_PIVOT,
    "order_priority_stats": ORACLE_ORDER_PRIORITY_STATS,
    "union_all_report": ORACLE_UNION_ALL_REPORT,
    "union_dedup_keys": ORACLE_UNION_DEDUP_KEYS,
    "event_type_share": ORACLE_EVENT_TYPE_SHARE,
    "top_revenue_customers": ORACLE_TOP_REVENUE_CUSTOMERS,
    "regional_revenue": ORACLE_REGIONAL_REVENUE,
    "customers_without_urgent": ORACLE_CUSTOMERS_WITHOUT_URGENT,
    "customers_with_open_orders": ORACLE_CUSTOMERS_WITH_OPEN_ORDERS,
    "order_fill_left_join": ORACLE_ORDER_FILL_LEFT_JOIN,
    "key_list_pushdown": ORACLE_KEY_LIST_PUSHDOWN,
    "latest_order_per_customer": ORACLE_LATEST_ORDER_PER_CUSTOMER,
    "top_orders_per_segment": ORACLE_TOP_ORDERS_PER_SEGMENT,
    "segment_percentile_bounds": ORACLE_SEGMENT_PERCENTILE_BOUNDS,
    "shipping_delay_stats": ORACLE_SHIPPING_DELAY_STATS,
    "customer_value_scores": ORACLE_CUSTOMER_VALUE_SCORES,
    "salted_skew_join": ORACLE_SALTED_SKEW_JOIN,
    "small_quantity_revenue": ORACLE_SMALL_QUANTITY_REVENUE,
    "revenue_rollup": ORACLE_REVENUE_ROLLUP,
    "customer_order_distribution": ORACLE_CUSTOMER_ORDER_DISTRIBUTION,
    "large_volume_orders": ORACLE_LARGE_VOLUME_ORDERS,
    "idle_rich_customers": ORACLE_IDLE_RICH_CUSTOMERS,
    "sole_late_suppliers": ORACLE_SOLE_LATE_SUPPLIERS,
}
