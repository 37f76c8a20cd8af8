"""Corpus-mixture queries — the dataset-curation stages of a
training-data pipeline that sit ABOVE per-document filtering:
temperature-weighted source mixing, deterministic stratified
sampling, corpus vocabulary statistics, and per-document token
entropy.

Scale notes (100 TB stance):
- Mixture weights aggregate the whole corpus down to one row per
  source (map-side partial sums; the final frame is tiny) — the
  normalizing sum is a window over that tiny frame, never over the
  corpus.
- Stratified sampling is HASH-threshold based, not RNG: the keep
  decision is a pure function of (doc content hash, per-group
  rate), so it is identical across engines, runs, retries, and
  parallelism, and needs no shuffle at all beyond the tiny
  per-group rate broadcast.
- Vocabulary stats are a two-level aggregate keyed by (source,
  term): gram counts partial-aggregate map-side before the single
  shuffle, and the per-source rollup rides the same partitioning.
- Token entropy folds a SORTED per-doc count array sequentially
  (F.aggregate), so the float accumulation order is fixed —
  bit-identical results at any parallelism, matching the engine's
  exact-aggregation discipline for doubles that DECIMAL can't carry
  (logarithms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators.memo import pin_on_first_action
from ..operators.total_order import global_ntile, global_prefix_sum
from ..sources.catalog import load_table

_NORM = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


MIX_ALPHA = 0.7  # temperature exponent, the multilingual-LM default
MIX_TOKEN_BUDGET = 1_000_000


def _with_mix_weight_quota(per_src: DataFrame) -> DataFrame:
    """Shared temperature-mixture weight math over a per-source frame
    with a ``total_tokens`` column — used by the weights report, the
    epoch expansion and every corpus_build mixture stage so they can
    never desynchronize. Attaches ``mix_weight`` and ``token_quota``.

    The pow chain is computed DRIVER-SIDE (r12): JVM ``Math.pow``
    differs from C libm ``pow`` by 1 ulp on ~10% of inputs (measured
    204/1961 on this box), and no decimal quantization can fully
    absorb that — a 1-ulp pair straddles a grain boundary with
    probability ulp/grain, which the r12 sf5 sweep hit on 2 of 20
    sources (the r10 sweep's int128 finding was the same chain one
    step later). CPython's ``math.pow`` IS the C libm DuckDB calls
    (12,384/12,384 bit-equal on this box), so computing raw =
    HALF_UP(shortest-repr(pow), 10dp) in Python reproduces the
    oracle's ``CAST(CAST(pow(…) AS VARCHAR) AS DECIMAL(28,10))``
    exactly, the Decimal sum is exact on both sides, and the final
    divisions are IEEE-deterministic given bit-equal operands.

    The collect is bounded by contract: one row per corpus SOURCE
    (a handful at any data size — sources are provenance labels,
    not data). The weights frame re-enters the plan as a broadcast
    join, so nothing downstream changes shape at 100 TB."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    spark = per_src.sparkSession
    totals = per_src.select("source", "total_tokens").collect()
    raws = {
        r["source"]: Decimal(repr(math.pow(float(r["total_tokens"]), MIX_ALPHA))).quantize(
            Decimal(1).scaleb(-10), rounding=ROUND_HALF_UP
        )
        for r in totals
    }
    tot = sum(raws.values(), Decimal(0))
    rows = []
    for src, raw in raws.items():
        # float(str(Decimal)) is strtod — correctly rounded, matching
        # the oracle's VARCHAR->DOUBLE casts bit for bit
        weight = float(str(raw)) / float(str(tot))
        rows.append((src, weight, weight * float(MIX_TOKEN_BUDGET)))
    wdf = spark.createDataFrame(rows, "source string, mix_weight double, token_quota double")
    return per_src.join(F.broadcast(wdf), "source")


def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing: each source's sampling
    weight is n_tokens^alpha normalized over sources (alpha < 1
    upsamples small sources), plus the token quota each source gets
    from a fixed training budget and the implied epochs over the
    source (quota / corpus size — >1 means the small source is seen
    multiple times)."""
    d = _docs(spark, sf_dir).select(
        "source", F.size(T.tokens(F.col("text"))).alias("n_tokens")
    )
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    # pow() is libm-dependent (last-ulp differences across engines)
    # and the normalizing sum would otherwise fold doubles in
    # partition order — quantize pow to a fixed decimal grain and
    # accumulate exactly, then do the divisions in one fixed chain.
    return _with_mix_weight_quota(per_src).select(
        "source",
        "n_docs",
        "total_tokens",
        "mix_weight",
        "token_quota",
        (F.col("token_quota") / F.col("total_tokens").cast("double")).alias("epochs"),
    ).orderBy("source")


ORACLE_SOURCE_MIXTURE_WEIGHTS = f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens
  FROM documents GROUP BY source
), raw_t AS (
  SELECT source, n_docs, total_tokens,
         CAST(CAST(pow(CAST(total_tokens AS DOUBLE), {MIX_ALPHA}) AS VARCHAR) AS DECIMAL(28,10)) AS raw
  FROM per_src
), wt AS (
  -- decimal->double via VARCHAR (r9 2^53 policy, tripped again by the
  -- r10 sf5 sweep): SUM(raw)'s scaled integer exceeds 2^53 at 50x, where
  -- DuckDB's direct int128->double cast double-rounds 1-5 ulp off
  -- Spark's correctly-rounded BigDecimal.doubleValue; strtod matches it
  SELECT source, n_docs, total_tokens,
         CAST(CAST(raw AS VARCHAR) AS DOUBLE) / CAST(CAST(SUM(raw) OVER () AS VARCHAR) AS DOUBLE) AS mix_weight
  FROM raw_t
)
SELECT source, n_docs, total_tokens, mix_weight,
       mix_weight * {float(MIX_TOKEN_BUDGET)} AS token_quota,
       mix_weight * {float(MIX_TOKEN_BUDGET)} / CAST(total_tokens AS DOUBLE) AS epochs
FROM wt
ORDER BY source
"""


def mixture_epoch_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the temperature mixture: turn each source's
    ``epochs`` (from the same weight math as
    ``source_mixture_weights``) into a deterministic per-document
    COPY COUNT — floor(epochs) copies for every doc plus one extra
    copy for docs whose content-hash fraction falls under
    frac(epochs). This is the sampler that actually BUILDS the
    mixed training set (explode(sequence(1, n_copies)) materializes
    the rows; here the driver-compared output is the per-source
    accounting: total copies and sampled tokens vs the quota).

    Scale shape: the per-source epoch frame is tiny and broadcast;
    the copy decision is a pure function of (doc hash, source rate) —
    no RNG, no shuffle; the accounting aggregate partial-sums
    map-side. Upsampling epochs stay identical across retries, so a
    re-run of a failed shard emits the same copies (idempotent
    materialization)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(T.tokens(F.col("text"))).alias("n_tokens"),
        F.substring(T.content_hash(F.col("text")), 1, 8).alias("h8"),
    )
    per_src = d.groupBy("source").agg(
        F.sum("n_tokens").alias("total_tokens"),
    )
    eps = _with_mix_weight_quota(per_src).select(
        "source",
        (F.col("token_quota") / F.col("total_tokens").cast("double")).alias("epochs"),
        "token_quota",
    )
    base = F.floor(F.col("epochs")).cast("bigint")
    frac = F.col("epochs") - F.floor(F.col("epochs"))
    thresh = F.lpad(
        F.lower(F.hex(F.floor(frac * F.lit(float(16**8))).cast("bigint"))), 8, "0"
    )
    joined = d.join(F.broadcast(eps), "source").select(
        "source",
        "n_tokens",
        "token_quota",
        (base + F.when(F.col("h8") < thresh, 1).otherwise(0)).alias("n_copies"),
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_copies").alias("total_copies"),
            F.sum(F.col("n_copies") * F.col("n_tokens")).alias("sampled_tokens"),
            F.first("token_quota").alias("token_quota"),
        )
        .select(
            "source",
            "n_docs",
            "total_copies",
            "sampled_tokens",
            "token_quota",
            (F.col("sampled_tokens").cast("double") / F.col("token_quota")).alias(
                "quota_fill_ratio"
            ),
        )
        .orderBy("source")
    )


ORACLE_MIXTURE_EPOCH_EXPANSION = f"""
WITH d AS (
  SELECT doc_id, source, len({_TOKS}) AS n_tokens,
         substr(md5({_NORM}), 1, 8) AS h8
  FROM documents
), per_src AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM d GROUP BY source
), raw_t AS (
  SELECT source, total_tokens,
         CAST(CAST(pow(CAST(total_tokens AS DOUBLE), {MIX_ALPHA}) AS VARCHAR) AS DECIMAL(28,10)) AS raw
  FROM per_src
), eps AS (
  SELECT source,
         CAST(CAST(raw AS VARCHAR) AS DOUBLE) / CAST(CAST(SUM(raw) OVER () AS VARCHAR) AS DOUBLE)
           * {float(MIX_TOKEN_BUDGET)} / CAST(total_tokens AS DOUBLE) AS epochs,
         CAST(CAST(raw AS VARCHAR) AS DOUBLE) / CAST(CAST(SUM(raw) OVER () AS VARCHAR) AS DOUBLE)
           * {float(MIX_TOKEN_BUDGET)} AS token_quota
  FROM raw_t
), copies AS (
  SELECT d.source, d.n_tokens, eps.token_quota,
         CAST(floor(epochs) AS BIGINT)
         + CASE WHEN d.h8 < lpad(lower(to_hex(CAST(floor((epochs - floor(epochs))
                  * {float(16 ** 8)}) AS BIGINT))), 8, '0') THEN 1 ELSE 0 END AS n_copies
  FROM d JOIN eps ON d.source = eps.source
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_copies) AS BIGINT) AS total_copies,
       CAST(SUM(n_copies * n_tokens) AS BIGINT) AS sampled_tokens,
       ANY_VALUE(token_quota) AS token_quota,
       CAST(SUM(n_copies * n_tokens) AS DOUBLE) / ANY_VALUE(token_quota) AS quota_fill_ratio
FROM copies
GROUP BY source
ORDER BY source
"""


STRATA_CAP = 60  # target docs per language stratum


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: cap each language stratum
    at ~STRATA_CAP docs by keeping documents whose content-hash
    fraction falls below the stratum's rate (rate = cap / n_lang,
    capped at 1). The hash threshold is compared in hex-string
    space — the first 8 md5 nibbles against the rate scaled to
    16^8 — so the decision is engine-independent and needs no RNG
    state. Duplicated content always samples identically (same
    hash), which keeps downstream dedup honest."""
    d = _docs(spark, sf_dir)
    n_lang = Window.partitionBy("lang")
    rate = F.least(
        F.lit(1.0), F.lit(float(STRATA_CAP)) / F.count(F.lit(1)).over(n_lang)
    )
    # rate -> zero-padded 8-nibble hex threshold; md5 prefix < threshold <=> keep.
    # rate >= 1.0 keeps EVERYTHING explicitly: floor(1.0 * 16^8) is a
    # NINE-hex-char value that lpad(..., 8) would TRUNCATE to
    # '10000000', silently keeping only ~1/16 of a full-keep stratum
    # (r03 review finding — the oracle shared the same bug, so parity
    # was green while both engines dropped ~94% of small strata).
    thresh = F.lpad(
        F.lower(F.hex(F.floor(rate * F.lit(float(16**8))).cast("bigint"))), 8, "0"
    )
    h = T.content_hash(F.col("text"))
    keep = (rate >= 1.0) | (F.substring(h, 1, 8) < thresh)
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.substring(h, 1, 8).alias("hash_prefix"),
        rate.alias("sample_rate"),
        keep.alias("sampled"),
    ).orderBy("doc_id")


ORACLE_STRATIFIED_SAMPLE = f"""
WITH d AS (
  SELECT doc_id, lang, source,
         substr(md5({_NORM}), 1, 8) AS hash_prefix,
         LEAST(1.0, {float(STRATA_CAP)} / COUNT(*) OVER (PARTITION BY lang)) AS sample_rate
  FROM documents
)
SELECT doc_id, lang, source, hash_prefix, sample_rate,
       sample_rate >= 1.0 OR
       hash_prefix < lpad(lower(to_hex(CAST(floor(sample_rate * {float(16 ** 8)}) AS BIGINT))), 8, '0')
         AS sampled
FROM d
ORDER BY doc_id
"""


def vocab_hapax_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary statistics: vocabulary size, hapax
    legomena (terms occurring exactly once in the source), total
    tokens, hapax ratio, and corpus-level type-token ratio — the
    Zipf/coverage profile a tokenizer-training or data-mixing pass
    reads before choosing sources."""
    d = _docs(spark, sf_dir).select("source", T.tokens(F.col("text")).alias("toks"))
    term = d.select("source", F.explode("toks").alias("term"))
    cnt = term.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    return (
        cnt.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
            F.sum("c").alias("total_tokens"),
        )
        .select(
            "source",
            "vocab_size",
            "n_hapax",
            "total_tokens",
            (F.col("n_hapax").cast("double") / F.col("vocab_size").cast("double")).alias(
                "hapax_ratio"
            ),
            (F.col("vocab_size").cast("double") / F.col("total_tokens").cast("double")).alias(
                "ttr"
            ),
        )
        .orderBy("source")
    )


ORACLE_VOCAB_HAPAX_STATS = f"""
WITH term AS (
  SELECT source, unnest({_TOKS}) AS term FROM documents
), cnt AS (
  SELECT source, term, COUNT(*) AS c FROM term GROUP BY source, term
)
SELECT source,
       COUNT(*) AS vocab_size,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(SUM(c) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS hapax_ratio,
       COUNT(*) / CAST(SUM(c) AS DOUBLE) AS ttr
FROM cnt
GROUP BY source
ORDER BY source
"""


def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the unigram distribution (in
    bits) plus its normalized form (entropy / log2 vocab) — a
    quality proxy separating natural text from degenerate repetition
    (low entropy) and random noise (entropy ≈ max).

    Floats-with-logs can't ride DECIMAL, so determinism comes from
    ORDER instead: the per-doc term counts are sorted (count, term)
    and folded sequentially with F.aggregate — the same left-fold a
    single-threaded oracle performs — making the double sum
    bit-identical at any parallelism. The fold runs over one small
    per-doc array, not the corpus: the heavy work is still the
    (doc, term) hash aggregate, which partial-aggregates map-side.

    The compared columns are rounded to 9 decimals in BOTH engines:
    the sorted fold fixes summation order, but JVM ``log2`` and
    DuckDB's libm ``log2`` still differ in the last ulp (≤4.4e-15
    observed), so bit-exact comparison needs the repo's standard
    per-column quantization (SURVEY §7.2 tolerance policy — same
    treatment tfidf_top_terms got by avoiding ln entirely)."""
    from .text import _docs_explode_width

    d = _docs_explode_width(spark, sf_dir).select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    )
    cnt = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.array_sort(F.collect_list(F.struct("c", "term"))).alias("counts"),
    )
    n = F.col("n_tokens").cast("double")
    ent = -F.aggregate(
        F.col("counts"),
        F.lit(0.0),
        lambda acc, s: acc + (s["c"].cast("double") / n) * F.log2(s["c"].cast("double") / n),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.col("vocab").alias("vocab_size"),
        F.round(ent, 9).alias("entropy_bits"),
        F.round(
            F.when(F.col("vocab") > 1, ent / F.log2(F.col("vocab").cast("double"))).otherwise(
                F.lit(0.0)
            ),
            9,
        ).alias("entropy_norm"),
    ).orderBy("doc_id")


ORACLE_TOKEN_ENTROPY = f"""
WITH term AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), cnt AS (
  SELECT doc_id, term, COUNT(*) AS c FROM term GROUP BY doc_id, term
), per_doc AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         COUNT(*) AS vocab_size,
         list_sort(list(struct_pack(c := c, term := term))) AS counts
  FROM cnt GROUP BY doc_id
), ent AS (
  SELECT doc_id, n_tokens, vocab_size,
         -list_reduce(
            list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(counts,
                s -> (CAST(s['c'] AS DOUBLE) / n_tokens) * log2(CAST(s['c'] AS DOUBLE) / n_tokens))),
            (acc, x) -> acc + x) AS entropy_bits
  FROM per_doc
)
SELECT doc_id, n_tokens, vocab_size,
       ROUND(entropy_bits, 9) AS entropy_bits,
       ROUND(CASE WHEN vocab_size > 1 THEN entropy_bits / log2(CAST(vocab_size AS DOUBLE))
                  ELSE 0.0 END, 9) AS entropy_norm
FROM ent
ORDER BY doc_id
"""


def length_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum assignment: within each language, rank
    documents by token count and cut them into 4 equal-frequency
    curriculum stages (short → long), then report each stage's
    document count and token range — the bucketing a
    shortest-first / sequence-length-warmup training schedule
    consumes.

    Determinism: NTILE over a TOTAL order (n_tokens, doc_id) — the
    tie-break by unique doc_id makes stage assignment a pure
    function of the data, identical across engines and parallelism.

    Scale shape: languages are few but HUGE, so a per-lang window
    would sort each language in one task. The stage assignment runs
    through operators/total_order.global_ntile instead: range-
    partition on (lang, n_tokens, doc_id), per-partition row_number
    plus bounded per-(partition, lang) count offsets, exact ANSI
    NTILE fill arithmetic — identical values, every sort partition
    ~|corpus|/P rows regardless of language skew. The per-stage
    rollup is then a plain hash aggregate."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        # bigint up front so min/max/sum dtypes match the oracle's
        # BIGINT len()/aggregates without per-column casts
        F.size(T.tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    # Race-free without a fill: global_ntile funnels through ONE
    # broadcast build whose innermost stage computes the cached
    # range exchange (= the tokenize-everything pass) exactly once
    # before the probe launches; the pin only releases it.
    pins: list[DataFrame] = []
    staged = global_ntile(
        d, 4, [F.col("n_tokens"), F.col("doc_id")], "stage", group_cols=["lang"], pins=pins
    )
    out = (
        staged.groupBy("lang", "stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("stage_tokens"),
        )
        .orderBy("lang", "stage")
    )
    return pin_on_first_action(out, pins, fill=False)


ORACLE_LENGTH_CURRICULUM_BUCKETS = f"""
WITH d AS (
  SELECT doc_id, lang, len({_TOKS}) AS n_tokens FROM documents
), staged AS (
  SELECT lang, n_tokens,
         NTILE(4) OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS stage
  FROM d
)
SELECT lang, stage,
       COUNT(*) AS n_docs,
       MIN(n_tokens) AS min_tokens,
       MAX(n_tokens) AS max_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS stage_tokens
FROM staged
GROUP BY lang, stage
ORDER BY lang, stage
"""


N_NEGATIVES = 3


def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive /
    embedding-model training: give every document K=3 in-language
    negatives by ordering docs on a content-independent
    pseudo-random rank (md5 of the id) and taking the next K in
    rank order — uniform-ish, reproducible across runs/engines/
    retries (no RNG state), and never an all-pairs join. The last K
    docs per language get fewer negatives (LEAD runs off the
    partition edge) — documented contract, callers that need exactly
    K wrap around with a second pass over the partition head.

    Scale shape: one shuffle per language window; the rank is
    uniform, so partitions are balanced regardless of how doc_ids
    were assigned. At 100 TB, lang partitions would be salted into
    rank ranges (any consistent order is a valid sampler) so no
    language needs a single-partition sort."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("rk")
    )
    w = Window.partitionBy("lang").orderBy("rk")
    # windows materialize BEFORE the generator (posexplode can't
    # contain window expressions)
    leads = d.select(
        "doc_id",
        "lang",
        *[F.lead("doc_id", j).over(w).alias(f"n{j}") for j in range(1, N_NEGATIVES + 1)],
    )
    negs = F.array(*[F.col(f"n{j}") for j in range(1, N_NEGATIVES + 1)])
    ex = leads.select("doc_id", "lang", F.posexplode(negs).alias("neg_rank", "neg_id"))
    return (
        ex.filter(F.col("neg_id").isNotNull())
        .select("doc_id", "lang", (F.col("neg_rank") + 1).alias("neg_rank"), "neg_id")
        .orderBy("doc_id", "neg_rank")
    )


ORACLE_CONTRASTIVE_NEGATIVES = f"""
WITH d AS (
  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS rk FROM documents
), l AS (
  -- leads computed BEFORE the 1->K expansion (a window over the
  -- expanded relation would step across the same doc's copies)
  SELECT doc_id, lang,
         {', '.join(f"LEAD(doc_id, {j}) OVER (PARTITION BY lang ORDER BY rk) AS n{j}" for j in range(1, N_NEGATIVES + 1))}
  FROM d
), ex AS (
  SELECT doc_id, lang, j AS neg_rank,
         CASE j {' '.join(f"WHEN {j} THEN n{j}" for j in range(1, N_NEGATIVES + 1))} END AS neg_id
  FROM l, LATERAL (SELECT unnest(range(1, {N_NEGATIVES + 1})) AS j)
)
SELECT doc_id, lang, CAST(neg_rank AS INT) AS neg_rank, neg_id
FROM ex
WHERE neg_id IS NOT NULL
ORDER BY doc_id, neg_rank
"""


def source_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level curation — the stage that decides which SOURCES
    (crawls, feeds, dumps) stay in the training mix before any
    per-document work: per source, document count, average length,
    the share of documents that are exact duplicates of ANYTHING in
    the whole corpus (cross-source duplication is the signal — a
    mirror site shows up here), and the keep decision at the usual
    50% dup-rate threshold.

    Scale shape: one md5 per doc (map-only), one corpus-wide hash
    aggregate keyed on the digest (the exact-dedup shuffle the
    pipeline already pays), and one per-source rollup. The flag
    rides a window count over the digest — same shuffle as the
    groupBy+join formulation, one operator fewer."""
    d = _docs(spark, sf_dir).select(
        "source",
        F.md5(T.normalize_ws(F.col("text"))).alias("h"),
        F.size(T.tokens(F.col("text"))).alias("n_tokens"),
    )
    dup = F.count(F.lit(1)).over(Window.partitionBy("h")) > 1
    flagged = d.select("source", "n_tokens", dup.alias("is_dup"))
    share = F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("double") / F.count(
        F.lit(1)
    ).cast("double")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_tokens"
        ),
        share.alias("dup_share"),
        (share <= 0.5).alias("keep"),
    )


ORACLE_SOURCE_CURATION_REPORT = f"""
WITH d AS (
  SELECT source, md5({_NORM}) AS h, len({_TOKS}) AS n_tokens FROM documents
), flagged AS (
  SELECT source, n_tokens,
         COUNT(*) OVER (PARTITION BY h) > 1 AS is_dup
  FROM d
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_tokens,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS dup_share,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) <= 0.5 AS keep
FROM flagged
GROUP BY source
"""


DSIR_TARGET_LANG = "en"


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection via importance resampling (Xie et
    al. 2023): estimate unigram distributions for a TARGET domain
    (here the ``lang = 'en'`` slice stands in for the high-quality
    target corpus) and for the RAW corpus, both add-one smoothed
    over the shared vocabulary, then weight every document by its
    log importance ratio Σ c_d(w)·[log p_target(w) − log p_raw(w)].
    Documents that look like the target distribution get positive
    weight (``upweighted``) — the resampling stage then samples
    proportionally; this query materializes the weights plus the
    per-token normalization used for length-independent comparison.

    Determinism: the per-doc (term, counts) structs are array_sort'd
    and folded sequentially, fixing double-accumulation order at any
    parallelism; the compared outputs round to 9 decimals (the
    repo's libm-log policy, as in unigram_logprob_scores);
    ``upweighted`` derives from the ROUNDED weight so the boolean
    can't flip on a sub-9dp ulp.

    Scale shape: two term-keyed hash aggregates (target + raw — the
    target one prunes with a pushed lang filter), one term join
    back (AQE skew-splits Zipf-heavy grams), scalar totals on a
    1-row broadcast; per-doc scoring is a map-side fold. The corpus
    is repartitioned to full parallelism before the term explode —
    map-side width sized to the EXPLODED volume, not the compressed
    scan width (same fix and rationale as
    bigram_interpolated_scores: the sf5 scan yielded 8 splits on 32
    cores and the partial (doc, term) agg spilled 650MB; with the
    repartition it is spill-free)."""
    d = (
        _docs(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", "lang", T.tokens(F.col("text")).alias("toks"))
    )
    # td feeds THREE consumers (raw, tgt, per-doc scoring join) and
    # is deliberately NOT cached: caching a term-EXPLODED corpus
    # frame was measured strictly slower at bench scale (none 1.95s
    # / persist 2.48s / persist+pin 3.07s at sf0.1 — the columnar
    # cache build of a string-keyed exploded frame costs more than
    # the overlapping recomputes), and it would also block Catalyst
    # from pushing the `lang` filter BELOW the aggregate for the
    # target leg (a cached td pins the unfiltered shape). At full
    # cluster utilization the trade flips — persist() here is the
    # one-line change, noted rather than paid.
    td = (
        d.select("doc_id", "lang", F.explode("toks").alias("term"))
        .groupBy("doc_id", "lang", "term")
        .agg(F.count(F.lit(1)).alias("c_d"))
    )
    raw = td.groupBy("term").agg(F.sum("c_d").alias("c_r"))
    tgt = (
        td.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("term")
        .agg(F.sum("c_d").alias("c_t"))
    )
    stats = raw.join(tgt, "term", "left").select(
        "term", "c_r", F.coalesce("c_t", F.lit(0)).alias("c_t")
    )
    totals = stats.agg(
        F.sum("c_r").alias("n_r"),
        F.sum("c_t").alias("n_t"),
        F.count(F.lit(1)).alias("vocab"),
    )
    # same exchange slim-down as unigram/bigram LM scoring (queries/
    # text.py): each term's double contribution is computed on the
    # stats join (totals ride a 1-row broadcast), the per-doc fold
    # sorts and folds bare doubles — ascending-double order is
    # engine-independent and bit-equal doubles commute, so the
    # accumulation is as deterministic as the old sort-by-term-string
    # fold with no term string through the per-doc exchange
    t_dsir = F.col("c_d").cast("double") * (
        F.log10(
            (F.col("c_t") + F.lit(1)).cast("double")
            / (F.col("n_t") + F.col("vocab")).cast("double")
        )
        - F.log10(
            (F.col("c_r") + F.lit(1)).cast("double")
            / (F.col("n_r") + F.col("vocab")).cast("double")
        )
    )
    per_doc = (
        td.join(stats, "term")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", "lang", "c_d", t_dsir.alias("t"))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c_d").alias("n_tokens"),
            F.array_sort(F.collect_list("t")).alias("ts"),
        )
    )
    fold = F.aggregate(F.col("ts"), F.lit(0.0), lambda acc, x: acc + x)
    li = F.round(fold, 9)
    return per_doc.select(
        "doc_id",
        "lang",
        "n_tokens",
        li.alias("log10_importance"),
        F.round(fold / F.col("n_tokens").cast("double"), 9).alias("per_token_importance"),
        (li > 0).alias("upweighted"),
    ).orderBy("doc_id")


ORACLE_DSIR_IMPORTANCE_WEIGHTS = f"""
WITH term AS (
  SELECT doc_id, lang, unnest({_TOKS}) AS term FROM documents
), td AS (
  SELECT doc_id, lang, term, COUNT(*) AS c_d FROM term GROUP BY doc_id, lang, term
), raw AS (
  SELECT term, CAST(SUM(c_d) AS BIGINT) AS c_r FROM td GROUP BY term
), tgt AS (
  SELECT term, CAST(SUM(c_d) AS BIGINT) AS c_t FROM td
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY term
), stats AS (
  SELECT raw.term, c_r, COALESCE(c_t, 0) AS c_t
  FROM raw LEFT JOIN tgt ON raw.term = tgt.term
), totals AS (
  SELECT CAST(SUM(c_r) AS BIGINT) AS n_r, CAST(SUM(c_t) AS BIGINT) AS n_t,
         COUNT(*) AS vocab
  FROM stats
), per_doc AS (
  SELECT doc_id, lang,
         CAST(SUM(c_d) AS BIGINT) AS n_tokens,
         -- mirrors the Spark side: t per (doc, term) BEFORE the
         -- per-doc list, fold in ascending-double order
         list_sort(list(
           CAST(c_d AS DOUBLE)
           * (log10(CAST(c_t + 1 AS DOUBLE) / CAST(n_t + vocab AS DOUBLE))
              - log10(CAST(c_r + 1 AS DOUBLE) / CAST(n_r + vocab AS DOUBLE))))) AS ts
  FROM td JOIN stats USING (term), totals
  GROUP BY doc_id, lang
), scored AS (
  SELECT doc_id, lang, n_tokens,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ts),
           (acc, x) -> acc + x) AS li
  FROM per_doc
)
SELECT doc_id, lang, n_tokens,
       ROUND(li, 9) AS log10_importance,
       ROUND(li / n_tokens, 9) AS per_token_importance,
       ROUND(li, 9) > 0 AS upweighted
FROM scored
ORDER BY doc_id
"""


PPS_SAMPLE_K = 100


def pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling — the
    deterministic weighted-sampling stage of a corpus-mixture
    pipeline (sample documents proportional to their length so the
    sampled TOKEN mass, not the doc count, matches the budget):
    walk the corpus in doc_id order, lay the k = PPS_SAMPLE_K
    sampling boundaries at multiples of W/k over the cumulative
    weight line, and select each document once per boundary its
    weight interval covers (a doc longer than W/k is selected with
    multiplicity — the textbook systematic-PPS estimator, zero RNG).

    Everything is BIGINT: the hit count is
    floor(cum·k/W) − floor((cum−w)·k/W), so the sample is bit-exact
    across engines, runs, and parallelism. cum·k needs headroom:
    total corpus chars × k must stay under 2⁶³ (at 100 TB text and
    k = 100 that is ~10¹⁶ — three orders inside the BIGINT range).

    Scale shape: the cumulative weight is the distributed scan-sum
    (operators/total_order.global_prefix_sum — range partition +
    P-row theta-join offsets, no single-partition window); the total
    rides a 1-row broadcast; selection is a per-row integer
    predicate. One balanced exchange end to end."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("w")
    )
    pins: list[DataFrame] = []
    cum = global_prefix_sum(d, ["doc_id"], "w", out="cum", pins=pins)
    total = d.agg(F.sum("w").alias("tw"))
    k = int(PPS_SAMPLE_K)
    n_hits = F.expr(f"cum * {k} DIV tw - (cum - w) * {k} DIV tw")
    out = (
        cum.join(F.broadcast(total))
        .select("doc_id", "source", "w", "cum", n_hits.alias("n_hits"))
        .filter(F.col("n_hits") >= 1)
    )
    return pin_on_first_action(out, pins, fill=False)


ORACLE_PPS_SYSTEMATIC_SAMPLE = f"""
WITH d AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w FROM documents
), c AS (
  SELECT doc_id, source, w,
         CAST(SUM(w) OVER (ORDER BY doc_id) AS BIGINT) AS cum
  FROM d
), t AS (
  SELECT CAST(SUM(w) AS BIGINT) AS tw FROM d
)
SELECT doc_id, source, w, cum,
       cum * {PPS_SAMPLE_K} // tw - (cum - w) * {PPS_SAMPLE_K} // tw AS n_hits
FROM c, t
WHERE cum * {PPS_SAMPLE_K} // tw - (cum - w) * {PPS_SAMPLE_K} // tw >= 1
"""


QUERIES = {
    "dsir_importance_weights": dsir_importance_weights,
    "pps_systematic_sample": pps_systematic_sample,
    "source_curation_report": source_curation_report,
    "source_mixture_weights": source_mixture_weights,
    "length_curriculum_buckets": length_curriculum_buckets,
    "contrastive_negatives": contrastive_negatives,
    "stratified_sample": stratified_sample,
    "vocab_hapax_stats": vocab_hapax_stats,
    "token_entropy": token_entropy,
    "mixture_epoch_expansion": mixture_epoch_expansion,
}

ORACLES = {
    "dsir_importance_weights": ORACLE_DSIR_IMPORTANCE_WEIGHTS,
    "pps_systematic_sample": ORACLE_PPS_SYSTEMATIC_SAMPLE,
    "source_curation_report": ORACLE_SOURCE_CURATION_REPORT,
    "contrastive_negatives": ORACLE_CONTRASTIVE_NEGATIVES,
    "length_curriculum_buckets": ORACLE_LENGTH_CURRICULUM_BUCKETS,
    "mixture_epoch_expansion": ORACLE_MIXTURE_EPOCH_EXPANSION,
    "source_mixture_weights": ORACLE_SOURCE_MIXTURE_WEIGHTS,
    "stratified_sample": ORACLE_STRATIFIED_SAMPLE,
    "vocab_hapax_stats": ORACLE_VOCAB_HAPAX_STATS,
    "token_entropy": ORACLE_TOKEN_ENTROPY,
}
