"""Sketch-based profiling — approximate aggregates whose merge
property is what makes 100 TB summary statistics single-pass:
HyperLogLog++ for distinct counts (`approx_count_distinct`) and the
Greenwald-Khanna quantile sketch (`percentile_approx`). Both are
mergeable partial aggregates: every partition builds a constant-
size sketch, the shuffle carries sketches (not values), and the
final merge is exact over sketches — the same shape at 32 rows or
32 trillion.

The exact variants used everywhere else in this engine
(`countDistinct`, sort-based percentiles) shuffle data proportional
to cardinality; these shuffle O(1) per group.

Value-oracle contract (r07 verdict task 6): raw sketch outputs are
algorithm-specific (Spark's HLL++ ≠ DuckDB's approx_distinct), so
the profiles apply the same sketch-then-verify discipline as
``frequent_tokens``: each metric is emitted as its EXACT value
(DuckDB-reproducible) plus a BOOLEAN asserting the sketch estimate
landed inside its published error bound — the oracle emits literal
TRUE, so a sketch straying outside its bound hash-fails the gate.
The sketches still execute (the booleans derive from them); the
exact twins ride the same aggregate pass. Exact quantile twins use
DISCRETE value-at-rank selection (rank arithmetic, an actual data
value) — interpolated quantiles' float trees differ across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.memo import pin_on_first_action
from ..operators.total_order import global_row_number
from ..sources.catalog import load_table

RSD = 0.02  # HLL++ target relative standard deviation
PCT_ACC = 10_000  # percentile_approx accuracy knob (rank err ≤ n/acc)
HLL_SIGMA = 5  # HLL bound multiplier: |approx-exact| ≤ 5·rsd·exact
Q_DELTA = 0.02  # quantile bound: estimate within ranks of q ± 2%
# (200× the GK guarantee of 1/PCT_ACC — generous so the boolean is
# stable under any partitioning, while still catching a broken
# sketch, whose error would be rank-order, not rank-epsilon)


def _discrete_quantiles(
    base: DataFrame,
    group_col: str,
    value_col: str,
    qs: list[tuple[float, str]],
    pins: list[DataFrame],
) -> DataFrame:
    """Per-group DISCRETE quantiles (value at rank ⌈q·n⌉) plus the
    ±Q_DELTA rank-window bounds, via operators/total_order ranking —
    groups here are few-but-huge (event types, languages), exactly
    the shape a plain PARTITION BY window would funnel into one
    task. One broadcast of the per-group counts; value-at-rank
    selections all ride one aggregate."""
    nn = base.filter(F.col(value_col).isNotNull()).select(group_col, value_col)
    ranked = global_row_number(nn, [F.col(value_col)], "rn", group_cols=[group_col], pins=pins)
    cnt = ranked.groupBy(group_col).agg(F.max("rn").alias("__nv"))
    j = ranked.join(F.broadcast(cnt), group_col)
    aggs = []
    for q, name in qs:
        exact_r = F.ceil(F.lit(q) * F.col("__nv"))
        lo_r = F.greatest(F.ceil(F.lit(q - Q_DELTA) * F.col("__nv")), F.lit(1).cast("long"))
        hi_r = F.least(F.ceil(F.lit(q + Q_DELTA) * F.col("__nv")), F.col("__nv"))
        aggs += [
            F.min(F.when(F.col("rn") == exact_r, F.col(value_col))).alias(f"{name}_exact"),
            F.min(F.when(F.col("rn") == lo_r, F.col(value_col))).alias(f"__{name}_lo"),
            F.min(F.when(F.col("rn") == hi_r, F.col(value_col))).alias(f"__{name}_hi"),
        ]
    return j.groupBy(group_col).agg(*aggs)


def _within_hll_bound(approx_col: str, exact_col: str) -> F.Column:
    return (
        F.abs(F.col(approx_col) - F.col(exact_col))
        <= F.lit(HLL_SIGMA * RSD) * F.col(exact_col).cast("double")
    ).alias(f"{exact_col}_sketch_in_bound")


def approx_events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type stream profile, sketch-then-verify: exact row
    counts, exact user cardinality with the HLL++ estimate's
    error-bound boolean, and exact discrete value quantiles with the
    GK estimates' rank-window booleans (module docstring)."""
    ev = load_table(spark, sf_dir, "events")
    prof = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=RSD).alias("__au"),
        F.percentile_approx("value", [0.5, 0.9, 0.99], PCT_ACC).alias("__q"),
    )
    pins: list[DataFrame] = []
    qsel = _discrete_quantiles(
        ev, "event_type", "value", [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")], pins
    )
    qb = F.lit(True)
    for i, name in enumerate(["p50", "p90", "p99"]):
        qb = qb & F.col("__q")[i].between(F.col(f"__{name}_lo"), F.col(f"__{name}_hi"))
    out = (
        prof.join(qsel, "event_type")
        .select(
            "event_type",
            "n_rows",
            "exact_users",
            _within_hll_bound("__au", "exact_users"),
            "p50_exact",
            "p90_exact",
            "p99_exact",
            qb.alias("quantiles_sketch_in_bound"),
        )
        .orderBy("event_type")
    )
    return pin_on_first_action(out, pins, fill=False)


ORACLE_APPROX_EVENTS_PROFILE = """
WITH prof AS (
  SELECT event_type, COUNT(*) AS n_rows,
         COUNT(DISTINCT user_id) AS exact_users
  FROM events GROUP BY event_type
), r AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn
  FROM events WHERE value IS NOT NULL
), c AS (
  SELECT event_type, MAX(rn) AS nv FROM r GROUP BY event_type
), sel AS (
  SELECT r.event_type,
    MIN(CASE WHEN rn = CAST(ceil(0.50 * nv) AS BIGINT) THEN value END) AS p50_exact,
    MIN(CASE WHEN rn = CAST(ceil(0.90 * nv) AS BIGINT) THEN value END) AS p90_exact,
    MIN(CASE WHEN rn = CAST(ceil(0.99 * nv) AS BIGINT) THEN value END) AS p99_exact
  FROM r JOIN c USING (event_type) GROUP BY r.event_type
)
SELECT p.event_type, n_rows, exact_users,
       TRUE AS exact_users_sketch_in_bound,
       p50_exact, p90_exact, p99_exact,
       TRUE AS quantiles_sketch_in_bound
FROM prof p JOIN sel USING (event_type)
ORDER BY event_type
"""


def approx_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide dedup-planning profile, sketch-then-verify: the
    cheap first pass that sizes a dedup job before running it —
    exact per-language doc counts, distinct sources and length
    classes with HLL++ bound booleans, exact discrete median length
    with the GK estimate's rank-window boolean."""
    d = load_table(spark, sf_dir, "documents")
    prof = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("exact_sources"),
        F.approx_count_distinct("source", rsd=RSD).alias("__as"),
        F.countDistinct("n_chars").alias("exact_len_classes"),
        F.approx_count_distinct("n_chars", rsd=RSD).alias("__al"),
        F.percentile_approx("n_chars", 0.5, PCT_ACC).alias("__m"),
    )
    pins: list[DataFrame] = []
    qsel = _discrete_quantiles(d, "lang", "n_chars", [(0.5, "median_len")], pins)
    out = (
        prof.join(qsel, "lang")
        .select(
            "lang",
            "n_docs",
            "exact_sources",
            _within_hll_bound("__as", "exact_sources"),
            "exact_len_classes",
            _within_hll_bound("__al", "exact_len_classes"),
            "median_len_exact",
            F.col("__m")
            .between(F.col("__median_len_lo"), F.col("__median_len_hi"))
            .alias("median_sketch_in_bound"),
        )
        .orderBy("lang")
    )
    return pin_on_first_action(out, pins, fill=False)


ORACLE_APPROX_CORPUS_PROFILE = """
WITH prof AS (
  SELECT lang, COUNT(*) AS n_docs,
         COUNT(DISTINCT source) AS exact_sources,
         COUNT(DISTINCT n_chars) AS exact_len_classes
  FROM documents GROUP BY lang
), r AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) AS rn
  FROM documents WHERE n_chars IS NOT NULL
), c AS (
  SELECT lang, MAX(rn) AS nv FROM r GROUP BY lang
), sel AS (
  SELECT r.lang,
    MIN(CASE WHEN rn = CAST(ceil(0.50 * nv) AS BIGINT) THEN n_chars END) AS median_len_exact
  FROM r JOIN c USING (lang) GROUP BY r.lang
)
SELECT p.lang, n_docs,
       exact_sources, TRUE AS exact_sources_sketch_in_bound,
       exact_len_classes, TRUE AS exact_len_classes_sketch_in_bound,
       median_len_exact, TRUE AS median_sketch_in_bound
FROM prof p JOIN sel USING (lang)
ORDER BY lang
"""


FREQ_SUPPORT = 0.02  # heavy-hitter threshold (share of token mass)


def frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters via sketch-then-verify: a single-pass
    Karp-Papadimitriou-Shenker candidate sweep (``stat.freqItems`` —
    mergeable, O(1/support) state per partition) guarantees a
    SUPERSET of every token with share ≥ support; exact counts are
    then computed ONLY for candidates, and the final filter keeps
    true heavy hitters. Same approximate-generate → exact-verify
    pattern as the LSH dedup ladder — the pattern the HLL/GK
    profiles above now follow too.

    Scale shape: the candidate list is ≤ 1/support items (driver-
    side, small BY CONSTRUCTION); the verify pass is a map-side-
    combinable count over an `isin` filter that prunes the shuffle
    to candidate tokens only — never a full-vocabulary shuffle."""
    from ..functions import text as T

    # materialize: three actions consume this frame (candidate sweep,
    # total count, verify aggregate) — don't re-tokenize per action
    d = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(T.tokens(F.col("text"))).alias("term"))
        .localCheckpoint(eager=True)
    )
    # sweep at HALF the reporting threshold: freqItems guarantees a
    # superset only of items with share strictly GREATER than its
    # support, so an item at exactly FREQ_SUPPORT could be swept out
    # if we probed at FREQ_SUPPORT itself; the verify filter below
    # (>=) is the single source of truth for the cut
    cands = d.stat.freqItems(["term"], FREQ_SUPPORT / 2).collect()[0][0]
    total = d.count()
    share = F.col("n").cast("double") / F.lit(float(total))
    return (
        d.filter(F.col("term").isin(list(cands)))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("share", share)
        .filter(F.col("n") >= F.lit(FREQ_SUPPORT) * F.lit(float(total)))
        .orderBy(F.desc("n"), "term")
    )


ORACLE_FREQUENT_TOKENS = f"""
WITH t AS (
  SELECT unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents
), c AS (
  SELECT term, COUNT(*) AS n FROM t GROUP BY term
), tot AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS total FROM c
)
SELECT term, n, CAST(n AS DOUBLE) / total AS share
FROM c, tot
WHERE n >= {FREQ_SUPPORT} * total
ORDER BY n DESC, term
"""


QUERIES = {
    "approx_events_profile": approx_events_profile,
    "approx_corpus_profile": approx_corpus_profile,
    "frequent_tokens": frequent_tokens,
}

# every sketch query carries a full value oracle via the
# sketch-then-verify pattern: exact twins are compared cell-exact,
# sketch estimates are compared through their error-bound booleans
ORACLES: dict[str, str] = {
    "approx_events_profile": ORACLE_APPROX_EVENTS_PROFILE,
    "approx_corpus_profile": ORACLE_APPROX_CORPUS_PROFILE,
    "frequent_tokens": ORACLE_FREQUENT_TOKENS,
}
