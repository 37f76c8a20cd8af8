"""Text-analysis queries over ``documents`` — the LLM-data-pipeline
text operators (language-ID, quality scoring, token counting,
fingerprinting) plus the reference's string family (F1-F4).

Everything is JVM expressions (codegen-friendly); tokenization
happens once per query via a materialized token-array column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators.memo import pin_on_first_action
from ..sources.catalog import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _docs_explode_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus scan sized for a gram/token EXPLODE: repartitions to
    full parallelism so map-side task width tracks the exploded
    volume, not the compressed scan width (snappy parquet at sf5 is
    8 splits on 32 cores — the explode multiplies bytes ~10×, so
    the 8-task partial aggregates ran 4× under-parallel and, for
    the widest grams, spilled). One corpus-bytes shuffle, ~2% of a
    gram query's wall; on a cluster the equivalent is lowering
    spark.sql.files.maxPartitionBytes by the explode factor.
    Measured at sf5 (cold): bigram 79→45s, unigram 19.4→13.7s,
    boilerplate 47.6→14.4s, eval_contamination 40.5→11.3s,
    duplicate_spans 37.3→20.6s, tfidf 20.3→7.5s, doc_repetition
    35.7→15.6s, token_entropy 17.5→12.7s — see SCALING.md
    round-10."""
    return _docs(spark, sf_dir).repartition(spark.sparkContext.defaultParallelism)


_STOP_SQL = ", ".join(f"'{w}'" for w in T.STOPWORDS)


def quality_score_expr() -> "F.Column":
    """The canonical quality formula over a frame carrying a
    ``toks`` array column — THE single definition both
    ``doc_quality_scores`` and the ``corpus_build`` capstone's
    quality gate evaluate, so the two can never desynchronize.
    Bit-exact cross-engine (doc_quality_scores is value-oracled),
    which is what makes a threshold comparison on it safe."""
    nt = F.expr("size(toks)")
    nstop = T.word_count("toks", T.STOPWORDS)
    ttr = T.type_token_ratio("toks")
    stop_ratio = nstop / nt
    return F.lit(100.0) * (
        F.lit(0.4) * F.least(F.lit(1.0), nt / F.lit(60.0))
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.3) * ttr
    )


def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / stopword / type-token quality heuristics — the
    quality-scoring stage of a training-data pipeline."""
    d = _docs(spark, sf_dir).select("doc_id", "lang", T.tokens(F.col("text")).alias("toks"), "text")
    nt = F.expr("size(toks)")
    nstop = T.word_count("toks", T.STOPWORDS)
    ttr = T.type_token_ratio("toks")
    avg_len = (F.length(T.normalize_ws(F.col("text"))) - (nt - 1)) / nt
    stop_ratio = nstop / nt
    quality = quality_score_expr()
    return d.select(
        "doc_id",
        "lang",
        nt.alias("n_tokens"),
        nstop.alias("n_stopwords"),
        stop_ratio.alias("stop_ratio"),
        ttr.alias("ttr"),
        avg_len.alias("avg_token_len"),
        quality.alias("quality_score"),
    )


# The oracle twin of quality_score_expr over a relation exposing a
# `toks` list column — shared with the corpus_build capstone oracle.
QUALITY_SQL = (
    f"CAST(100.0 AS DOUBLE) * (CAST(0.4 AS DOUBLE) * LEAST(CAST(1.0 AS DOUBLE),"
    f" len(toks) / CAST(60.0 AS DOUBLE))"
    f" + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) -"
    f" len(list_filter(toks, t -> t IN ({_STOP_SQL}))) / CAST(len(toks) AS DOUBLE))"
    f" + CAST(0.3 AS DOUBLE) * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)))"
)


ORACLE_DOC_QUALITY_SCORES = f"""
WITH d AS (
  SELECT doc_id, lang,
    string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks,
    trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id, lang,
  len(toks) AS n_tokens,
  len(list_filter(toks, t -> t IN ({_STOP_SQL}))) AS n_stopwords,
  len(list_filter(toks, t -> t IN ({_STOP_SQL}))) / CAST(len(toks) AS DOUBLE) AS stop_ratio,
  len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS ttr,
  (length(norm) - (len(toks) - 1)) / CAST(len(toks) AS DOUBLE) AS avg_token_len,
  CAST(100.0 AS DOUBLE) * (CAST(0.4 AS DOUBLE) * LEAST(CAST(1.0 AS DOUBLE), len(toks) / CAST(60.0 AS DOUBLE))
         + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - len(list_filter(toks, t -> t IN ({_STOP_SQL}))) / CAST(len(toks) AS DOUBLE))
         + CAST(0.3 AS DOUBLE) * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))) AS quality_score
FROM d
"""


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID with deterministic argmax (fixed
    priority on ties). Synthetic corpora → the value is the
    operator shape, not linguistic accuracy."""
    d = _docs(spark, sf_dir).select("doc_id", "lang", T.tokens(F.col("text")).alias("toks"))
    scores = {lg: T.word_count("toks", ws).alias(f"c_{lg}") for lg, ws in T.LANG_MARKERS.items()}
    scored = d.select("doc_id", "lang", *scores.values())
    langs = list(T.LANG_MARKERS)
    best = F.greatest(*[F.col(f"c_{lg}") for lg in langs])
    expr = None
    for lg in langs:  # fixed priority order = deterministic tie-break
        cond = F.col(f"c_{lg}") == best
        expr = F.when(cond, lg) if expr is None else expr.when(cond, lg)
    return scored.select(
        "doc_id",
        "lang",
        *[f"c_{lg}" for lg in langs],
        expr.alias("predicted_lang"),
        (expr == F.col("lang")).alias("is_match"),
    )


_marker_cols = "\n".join(
    f"  len(list_filter(toks, t -> t IN ({', '.join(repr(w) for w in ws)}))) AS c_{lg},"
    for lg, ws in T.LANG_MARKERS.items()
)
_langs = list(T.LANG_MARKERS)
_best = "GREATEST(" + ", ".join(f"c_{lg}" for lg in _langs) + ")"
_pred = "CASE " + " ".join(f"WHEN c_{lg} = {_best} THEN '{lg}'" for lg in _langs) + " END"

ORACLE_LANG_ID_HEURISTIC = f"""
WITH d AS (
  SELECT doc_id, lang, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
), s AS (
  SELECT doc_id, lang,
{_marker_cols}
  FROM d
)
SELECT doc_id, lang, c_en, c_es, c_de, c_fr, c_zh,
  {_pred} AS predicted_lang,
  {_pred} = lang AS is_match
FROM s
"""


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting."""
    d = _docs(spark, sf_dir)
    bpe = F.regexp_count(F.col("text"), F.lit(r"[a-z]+|[0-9]+"))
    nt = F.size(T.tokens(F.col("text")))
    return d.select(
        "doc_id",
        "n_chars",
        F.length("text").alias("len_text"),
        nt.alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        # NULL when no BPE runs exist (all-punctuation text): Spark's
        # non-ANSI /0 gives NULL but DuckDB's ieee division gives inf
        # — the explicit guard keeps both engines on NULL
        F.when(bpe > 0, F.length("text") / bpe.cast("double")).alias("chars_per_bpe_token"),
    )


ORACLE_TOKEN_STATS = """
SELECT doc_id, n_chars, length(text) AS len_text,
  len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS n_ws_tokens,
  len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_bpe_tokens,
  CASE WHEN len(regexp_extract_all(text, '[a-z]+|[0-9]+')) > 0
       THEN length(text) / CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS DOUBLE)
  END AS chars_per_bpe_token
FROM documents
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: full-text MD5, min-shingle-hash (a
    1-permutation MinHash), and a 2-hex-char bucket for grouping."""
    d = _docs(spark, sf_dir).select("doc_id", "text", T.tokens(F.col("text")).alias("toks"))
    full = F.md5(T.normalize_ws(F.col("text")))
    minsh = F.array_min(F.transform(T.shingles("toks", 3), lambda s: F.md5(s)))
    return d.filter(F.expr("size(toks) >= 3")).select(
        "doc_id",
        full.alias("content_md5"),
        minsh.alias("min_shingle_md5"),
        F.substring(full, 1, 2).alias("bucket"),
    )


ORACLE_DOC_FINGERPRINTS = """
WITH d AS (
  SELECT doc_id,
    trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm,
    string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
)
SELECT doc_id,
  md5(norm) AS content_md5,
  list_min(list_transform(
    list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(list_slice(toks, i, i + 2), ' '))),
    s -> md5(s))) AS min_shingle_md5,
  substr(md5(norm), 1, 2) AS bucket
FROM d
WHERE len(toks) >= 3
"""


CHUNK_SIZE = 64
CHUNK_STRIDE = 48


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-style document chunking: overlapping
    CHUNK_SIZE-token windows every CHUNK_STRIDE tokens (tail kept),
    with a stable (doc_id, chunk_idx) identity and an md5 per chunk
    for downstream chunk-level dedup. Pure JVM expressions —
    sequence → explode → slice; one row per chunk, tokenization
    once per document. Scale shape: chunking is embarrassingly
    parallel (narrow after the scan), and output rows carry only
    the chunk — never the whole document."""
    d = _docs(spark, sf_dir).select("doc_id", T.tokens(F.col("text")).alias("toks"))
    d = d.filter(F.expr("size(toks) >= 1"))
    # window starts every STRIDE tokens; a start past the last full
    # window is kept only if it is the document's first (short doc)
    starts = F.expr(
        f"filter(sequence(1, size(toks), {CHUNK_STRIDE}),"
        f" s -> s = 1 OR s <= size(toks) - {CHUNK_SIZE} + {CHUNK_STRIDE})"
    )
    ex = d.select("doc_id", "toks", F.posexplode(starts).alias("idx", "start"))
    chunk_toks = F.expr(f"slice(toks, start, {CHUNK_SIZE})")
    chunk_text = F.array_join(chunk_toks, " ")
    return ex.select(
        "doc_id",
        F.col("idx").alias("chunk_idx"),
        "start",
        F.size(chunk_toks).alias("n_tokens"),
        F.md5(chunk_text).alias("chunk_md5"),
        chunk_text.alias("chunk_text"),
    )


_NORM = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"

ORACLE_DOC_CHUNKS = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), starts AS (
  SELECT doc_id, toks,
         list_filter(range(1, len(toks) + 1, {CHUNK_STRIDE}),
                     s -> s = 1 OR s <= len(toks) - {CHUNK_SIZE} + {CHUNK_STRIDE}) AS ss
  FROM d WHERE len(toks) >= 1
), ex AS (
  SELECT doc_id, toks, generate_subscripts(ss, 1) - 1 AS chunk_idx, unnest(ss) AS start
  FROM starts
)
SELECT doc_id, chunk_idx, start,
       len(list_slice(toks, start, start + {CHUNK_SIZE} - 1)) AS n_tokens,
       md5(array_to_string(list_slice(toks, start, start + {CHUNK_SIZE} - 1), ' ')) AS chunk_md5,
       array_to_string(list_slice(toks, start, start + {CHUNK_SIZE} - 1), ' ') AS chunk_text
FROM ex
"""


def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: extract a typed field from
    the JSON ``props`` column of events (get_json_object — no
    Python, schema-on-read) and aggregate it per event_type."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


ORACLE_JSON_PROPS_STATS = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
GROUP BY event_type
"""


def doc_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data preparation flow, end to end in
    one declarative plan: language filter → token-count quality gate
    → exact-dedup (canonical doc per content hash survives) →
    overlapping chunking with per-chunk md5. Each stage exists as a
    standalone oracle-checked query; this proves they compose
    without materialization boundaries — Catalyst sees one tree, so
    the quality filter prunes documents before the dedup shuffle and
    chunking only runs on survivors."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", "text", T.tokens(F.col("text")).alias("toks")
    )
    gated = d.filter((F.col("lang") == "en") & (F.expr("size(toks) >= 30")))
    hashed = gated.withColumn("h", T.content_hash(F.col("text")))
    canon = hashed.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    survivors = hashed.join(canon, ["h", "doc_id"], "left_semi")
    starts = F.expr(
        f"filter(sequence(1, size(toks), {CHUNK_STRIDE}),"
        f" s -> s = 1 OR s <= size(toks) - {CHUNK_SIZE} + {CHUNK_STRIDE})"
    )
    ex = survivors.select("doc_id", "toks", F.posexplode(starts).alias("idx", "start"))
    chunk_toks = F.expr(f"slice(toks, start, {CHUNK_SIZE})")
    chunk_text = F.array_join(chunk_toks, " ")
    return ex.select(
        "doc_id",
        F.col("idx").alias("chunk_idx"),
        F.size(chunk_toks).alias("n_tokens"),
        F.md5(chunk_text).alias("chunk_md5"),
    )


ORACLE_DOC_PREP_PIPELINE = f"""
WITH d AS (
  SELECT doc_id, lang, text, {_TOKS} AS toks,
         md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS h
  FROM documents
), gated AS (
  SELECT * FROM d WHERE lang = 'en' AND len(toks) >= 30
), canon AS (
  SELECT h, MIN(doc_id) AS doc_id FROM gated GROUP BY h
), survivors AS (
  SELECT g.* FROM gated g JOIN canon c ON g.h = c.h AND g.doc_id = c.doc_id
), starts AS (
  SELECT doc_id, toks,
         list_filter(range(1, len(toks) + 1, {CHUNK_STRIDE}),
                     s -> s = 1 OR s <= len(toks) - {CHUNK_SIZE} + {CHUNK_STRIDE}) AS ss
  FROM survivors
), ex AS (
  SELECT doc_id, toks, generate_subscripts(ss, 1) - 1 AS chunk_idx, unnest(ss) AS start
  FROM starts
)
SELECT doc_id, chunk_idx,
       len(list_slice(toks, start, start + {CHUNK_SIZE} - 1)) AS n_tokens,
       md5(array_to_string(list_slice(toks, start, start + {CHUNK_SIZE} - 1), ' ')) AS chunk_md5
FROM ex
"""


def doc_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition metrics — the
    repetition-pruning stage of a training-data pipeline: duplicate
    trigram fraction (1 − distinct/total) and the occurrence share
    of the single most frequent bigram, flagged at the usual
    thresholds.

    Shape: per-doc set metrics ride the token array (no shuffle);
    the top-bigram share is an exploded two-level hash aggregate —
    (doc_id, gram) counts get map-side partial aggregation, then a
    per-doc max/sum — which at 100 TB shuffles counted grams, not
    documents. No interpreted higher-order aggregate lambdas (the
    SimHash lesson: those run outside codegen)."""
    d = _docs_explode_width(spark, sf_dir).select("doc_id", T.tokens(F.col("text")).alias("toks"))
    d = d.filter(F.expr("size(toks) >= 3"))
    base = d.select(
        "doc_id",
        F.expr("size(toks)").alias("n_tokens"),
        (F.expr("size(toks)") - 2).alias("tri_total"),
        F.expr("size(array_distinct(transform(sequence(1, size(toks) - 2),"
               " i -> concat_ws(' ', slice(toks, i, 3)))))").alias("tri_distinct"),
    )
    ex = d.select("doc_id", F.explode(T.ngrams("toks", 2)).alias("g"))
    cnt = ex.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    top = cnt.groupBy("doc_id").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("total_bg")
    )
    j = base.join(top, "doc_id")
    dup_tri = (
        (F.col("tri_total") - F.col("tri_distinct")).cast("double")
        / F.col("tri_total").cast("double")
    )
    top_share = F.col("top_c").cast("double") / F.col("total_bg").cast("double")
    return j.select(
        "doc_id",
        "n_tokens",
        dup_tri.alias("dup_trigram_frac"),
        top_share.alias("top_bigram_share"),
        ((dup_tri > 0.2) | (top_share > 0.18)).alias("is_repetitive"),
    )


ORACLE_DOC_REPETITION_FILTER = f"""
WITH toks_t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), t AS (
  SELECT doc_id, toks FROM toks_t WHERE len(toks) >= 3
), base AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len(toks) - 2 AS tri_total,
         len(list_distinct(list_transform(range(1, len(toks) - 1),
             i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS tri_distinct
  FROM t
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
  FROM t
), cnt AS (
  SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2
), top AS (
  SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS total_bg
  FROM cnt GROUP BY doc_id
)
SELECT base.doc_id, n_tokens,
       CAST(tri_total - tri_distinct AS DOUBLE) / CAST(tri_total AS DOUBLE) AS dup_trigram_frac,
       CAST(top_c AS DOUBLE) / CAST(total_bg AS DOUBLE) AS top_bigram_share,
       (CAST(tri_total - tri_distinct AS DOUBLE) / CAST(tri_total AS DOUBLE) > 0.2)
         OR (CAST(top_c AS DOUBLE) / CAST(total_bg AS DOUBLE) > 0.18) AS is_repetitive
FROM base JOIN top ON base.doc_id = top.doc_id
"""


def train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/eval split — the holdout-assignment step
    of a training-data pipeline, done by CONTENT HASH, not RNG:
    identical across engines, runs, and parallelism, and duplicate
    documents land in the same split (no train/eval leakage through
    near-identical copies). First md5 nibble ∈ {0,1} → eval
    (2/16 = 12.5% expected)."""
    d = _docs(spark, sf_dir)
    h = T.content_hash(F.col("text"))
    return d.select(
        "doc_id",
        h.alias("content_md5"),
        F.when(F.substring(h, 1, 1).isin("0", "1"), F.lit("eval"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


ORACLE_TRAIN_EVAL_SPLIT = f"""
SELECT doc_id, md5({_NORM}) AS content_md5,
       CASE WHEN substr(md5({_NORM}), 1, 1) IN ('0', '1')
            THEN 'eval' ELSE 'train' END AS split
FROM documents
"""


SHARD_TOKEN_BUDGET = 512


def shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard assignment — the sequence-packing step of
    a training pipeline: within each language, documents (in stable
    doc_id order) are packed into shards of ~{budget} tokens via a
    running token count; shard_id = floor(tokens_before / budget).
    One window over the lang partitioning — no driver-side bin
    packing loop; at 100 TB this is the same single shuffle on the
    partition key any per-lang feature pays."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.size(T.tokens(F.col("text"))).alias("n_tokens")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    return d.select(
        "doc_id",
        "lang",
        "n_tokens",
        before.alias("tokens_before"),
        F.floor(before / F.lit(SHARD_TOKEN_BUDGET)).cast("bigint").alias("shard_id"),
    )


ORACLE_SHARD_PACKING = f"""
WITH t AS (
  SELECT doc_id, lang, len({_TOKS}) AS n_tokens FROM documents
), c AS (
  SELECT doc_id, lang, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
  FROM t
)
SELECT doc_id, lang, n_tokens, tokens_before,
       CAST(floor(tokens_before / {SHARD_TOKEN_BUDGET}.0) AS BIGINT) AS shard_id
FROM c
"""


SEQ_LEN = 512


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk SEQUENCE packing — the step that turns a
    curated corpus into fixed-length training examples (GPT-style:
    documents are concatenated per language in stable doc_id order
    and the token stream is cut every {SEQ_LEN} tokens; a document
    crossing a boundary is SPLIT, unlike ``shard_packing`` where a
    doc always lands whole in one shard). Output is the stitching
    manifest a data loader consumes: one row per (document,
    sequence) overlap with the half-open token slice on both axes —
    (lang, doc_id, seq_id, doc_tok_start, doc_tok_end,
    seq_tok_start). Docs with no tokens contribute nothing.

    Scale shape: one per-lang window for the running offset (the
    same single shuffle any per-lang feature pays), then an in-plan
    ``sequence``/explode over each doc's overlapped sequence ids —
    output rows ≈ docs + total_tokens/{SEQ_LEN}, linear. All
    arithmetic is integer (div/greatest/least) — bit-exact in any
    engine, no floats anywhere."""
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", F.size(T.tokens(F.col("text"))).alias("n_tokens"))
        .filter(F.col("n_tokens") >= 1)
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    d2 = d.withColumn("off", off)
    seqs = F.expr(
        f"sequence(off div {SEQ_LEN}, (off + n_tokens - 1) div {SEQ_LEN})"
    )
    e = d2.select(
        "lang", "doc_id", "n_tokens", "off", F.explode(seqs).alias("seq_id")
    )
    lo = F.greatest(F.col("off"), F.col("seq_id") * F.lit(SEQ_LEN))
    hi = F.least(
        F.col("off") + F.col("n_tokens"), (F.col("seq_id") + F.lit(1)) * F.lit(SEQ_LEN)
    )
    return e.select(
        "lang",
        "doc_id",
        F.col("seq_id").cast("bigint").alias("seq_id"),
        (lo - F.col("off")).cast("bigint").alias("doc_tok_start"),
        (hi - F.col("off")).cast("bigint").alias("doc_tok_end"),
        (lo - F.col("seq_id") * F.lit(SEQ_LEN)).cast("bigint").alias("seq_tok_start"),
    )


ORACLE_SEQUENCE_PACKING = f"""
WITH t AS (
  SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
), f AS (
  SELECT * FROM t WHERE n_tokens >= 1
), c AS (
  SELECT doc_id, lang, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
  FROM f
), e AS (
  SELECT lang, doc_id, n_tokens, off,
         unnest(range(off // {SEQ_LEN}, (off + n_tokens - 1) // {SEQ_LEN} + 1)) AS seq_id
  FROM c
)
SELECT lang, doc_id, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(GREATEST(off, seq_id * {SEQ_LEN}) - off AS BIGINT) AS doc_tok_start,
       CAST(LEAST(off + n_tokens, (seq_id + 1) * {SEQ_LEN}) - off AS BIGINT) AS doc_tok_end,
       CAST(GREATEST(off, seq_id * {SEQ_LEN}) - seq_id * {SEQ_LEN} AS BIGINT) AS seq_tok_start
FROM e
"""


def props_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Number-scrubbing redaction over the semi-structured ``props``
    column (the PII-scrub shape: pattern → placeholder, with audit
    counts). Pure JVM regex — per event_type: events processed,
    digit-runs redacted, and distinct post-redaction templates
    (collapsing values exposes the schema of the JSON payloads)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    redacted = F.regexp_replace("props", r"\d+", "#")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.regexp_count("props", F.lit(r"\d+"))).alias("n_digit_runs"),
            F.countDistinct(redacted).alias("n_templates"),
        )
    )


ORACLE_PROPS_REDACT = r"""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(len(regexp_extract_all(props, '\d+'))) AS BIGINT) AS n_digit_runs,
       COUNT(DISTINCT regexp_replace(props, '\d+', '#', 'g')) AS n_templates
FROM events
WHERE props IS NOT NULL
GROUP BY event_type
"""


CONTAM_K = 8  # shingle width for eval-overlap detection


def eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination scan — the decontamination stage of a
    training-data pipeline: for every TRAIN document, the fraction
    of its distinct 8-gram shingles that also appear anywhere in the
    EVAL split (same content-hash split as ``train_eval_split``, so
    the check is deterministic and leakage-proof by construction).

    Scale shape: the eval side of a real pipeline is benchmark-sized
    (thousands of docs), so its distinct-shingle set broadcasts; the
    100 TB train side is then a map-side semi-join probe — no
    shuffle of the corpus. At fixture scale the same plan runs with
    the eval set a few thousand rows."""
    d = _docs_explode_width(spark, sf_dir).select(
        "doc_id",
        T.content_hash(F.col("text")).alias("h"),
        T.tokens(F.col("text")).alias("toks"),
    ).filter(F.expr(f"size(toks) >= {CONTAM_K}"))
    is_eval = F.substring("h", 1, 1).isin("0", "1")
    # materialize: the tokenize→shingle→explode chain feeds the eval
    # gram set AND both train-side aggregates — three plan walks
    # without it (temp-table write at cluster scale, SCALING.md).
    # persist(), not eager localCheckpoint: populates at the first
    # action, so CONSTRUCTING the query launches no job.
    sh = d.select(
        "doc_id",
        is_eval.alias("is_eval"),
        F.explode(T.shingles("toks", CONTAM_K)).alias("g"),
    ).persist()
    eval_g = sh.filter(F.col("is_eval")).select("g").distinct()
    train = sh.filter(~F.col("is_eval"))
    base = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        train.join(F.broadcast(eval_g), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    frac = F.col("n_contaminated").cast("double") / F.col("n_shingles").cast("double")
    out = base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        F.coalesce(frac, F.lit(0.0)).alias("contamination_frac"),
        F.coalesce(frac > 0.05, F.lit(False)).alias("is_contaminated"),
    )
    return pin_on_first_action(out, [sh], fill=False)


ORACLE_EVAL_CONTAMINATION = f"""
WITH d AS (
  SELECT doc_id, md5({_NORM}) AS h, {_TOKS} AS toks FROM documents
), t AS (
  SELECT doc_id, substr(h, 1, 1) IN ('0', '1') AS is_eval, toks
  FROM d WHERE len(toks) >= {CONTAM_K}
), sh AS (
  SELECT doc_id, is_eval,
         unnest(list_distinct(list_transform(range(1, len(toks) - {CONTAM_K - 2}),
                i -> array_to_string(list_slice(toks, i, i + {CONTAM_K - 1}), ' ')))) AS g
  FROM t
), eval_g AS (
  SELECT DISTINCT g FROM sh WHERE is_eval
), train AS (
  SELECT doc_id, g FROM sh WHERE NOT is_eval
), base AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY doc_id
), hits AS (
  SELECT doc_id, COUNT(*) AS n_contaminated
  FROM train WHERE g IN (SELECT g FROM eval_g) GROUP BY doc_id
)
SELECT base.doc_id, n_shingles,
       COALESCE(n_contaminated, 0) AS n_contaminated,
       COALESCE(CAST(n_contaminated AS DOUBLE) / CAST(n_shingles AS DOUBLE), 0.0)
         AS contamination_frac,
       COALESCE(CAST(n_contaminated AS DOUBLE) / CAST(n_shingles AS DOUBLE) > 0.05, FALSE)
         AS is_contaminated
FROM base LEFT JOIN hits ON base.doc_id = hits.doc_id
"""


BOILER_K = 5     # n-gram width for cross-doc boilerplate detection
BOILER_MIN_DOCS = 2  # a 5-gram in >= this many distinct docs is boilerplate


def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate pruning (the C4/CCNet shared-
    n-gram shape): 5-grams occurring in multiple DISTINCT documents
    are boilerplate; each doc reports what fraction of its distinct
    5-grams are boilerplate and whether it survives the prune.

    Scale shape: per-doc distinct shingles explode → one hash
    aggregation keyed by the gram (map-side partial count, since
    each doc contributes a gram once the distinct-doc count is a
    plain count) → the boilerplate gram set semi-joins back. Both
    shuffles key on the gram; at 100 TB the gram string would ride
    as xxhash64(gram) to shrink the shuffle — kept as the string
    here for cross-engine value parity."""
    d = _docs_explode_width(spark, sf_dir).select("doc_id", T.tokens(F.col("text")).alias("toks"))
    d = d.filter(F.expr(f"size(toks) >= {BOILER_K}"))
    # materialize: the tokenize→shingle→explode chain feeds THREE
    # consumers (gram counts, per-doc base counts, the semi-join
    # probe) — without this it runs three times. At cluster scale
    # this is a temp-table write (SCALING.md localCheckpoint note).
    # persist() keeps construction job-free.
    sh = d.select(
        "doc_id", F.explode(T.shingles("toks", BOILER_K)).alias("g")
    ).persist()
    boiler = (
        sh.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= F.lit(BOILER_MIN_DOCS))
        .select("g")
    )
    base = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        sh.join(boiler, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    frac = F.col("n_boiler").cast("double") / F.col("n_shingles").cast("double")
    out = base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
        F.coalesce(frac, F.lit(0.0)).alias("boiler_frac"),
        F.coalesce(frac <= 0.5, F.lit(True)).alias("keep"),
    )
    return pin_on_first_action(out, [sh], fill=False)


ORACLE_BOILERPLATE_NGRAMS = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), t AS (
  SELECT doc_id, toks FROM d WHERE len(toks) >= {BOILER_K}
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(toks) - {BOILER_K - 2}),
                i -> array_to_string(list_slice(toks, i, i + {BOILER_K - 1}), ' ')))) AS g
  FROM t
), boiler AS (
  SELECT g FROM sh GROUP BY g HAVING COUNT(*) >= {BOILER_MIN_DOCS}
), base AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
), hits AS (
  SELECT doc_id, COUNT(*) AS n_boiler
  FROM sh WHERE g IN (SELECT g FROM boiler) GROUP BY doc_id
)
SELECT base.doc_id, n_shingles,
       COALESCE(n_boiler, 0) AS n_boiler,
       COALESCE(CAST(n_boiler AS DOUBLE) / CAST(n_shingles AS DOUBLE), 0.0) AS boiler_frac,
       COALESCE(CAST(n_boiler AS DOUBLE) / CAST(n_shingles AS DOUBLE) <= 0.5, TRUE) AS keep
FROM base LEFT JOIN hits ON base.doc_id = hits.doc_id
"""


DUPSPAN_K = 8


def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring extraction — the suffix-array
    substring-dedup shape of Lee et al., *Deduplicating Training
    Data Makes Language Models Better* (2021), approximated with
    fixed-K rolling windows: every K-token window that occurs
    anywhere else in the corpus (another document, or another
    position in the same document) marks its start position as
    duplicated; overlapping/abutting duplicated windows then merge
    (gaps-and-islands) into maximal spans. Output is the span list
    a span-level deduper would actually cut: (doc, start, length,
    window count). Distinct from ``boilerplate_ngrams`` (per-doc
    shared-gram *fractions*) — this recovers the *extents*.

    Scale shape: positional windows explode per doc (JVM exprs, no
    Python); duplicate detection is one shuffle keyed on the gram
    (a window count — same shuffle a groupBy+join would pay, minus
    the join); island merge is one shuffle on doc_id whose sort
    feeds both the lag and the running sum; the final per-island
    agg is bounded by span count. At 100 TB the gram string would
    ride as xxhash64(gram) to shrink the shuffle (collision odds
    ~n²/2⁶⁴); kept as the string here for cross-engine value
    parity — same note as boilerplate_ngrams."""
    from pyspark.sql import Window

    d = _docs_explode_width(spark, sf_dir).select("doc_id", T.tokens(F.col("text")).alias("toks"))
    d = d.filter(F.expr(f"size(toks) >= {DUPSPAN_K}"))
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(toks) - {DUPSPAN_K - 1}),"
                f" i -> concat_ws(' ', slice(toks, i, {DUPSPAN_K})))"
            )
        ).alias("idx", "g"),
    ).select("doc_id", (F.col("idx") + 1).cast("long").alias("pos"), "g")
    dup = (
        grams.withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("g")))
        .filter(F.col("cnt") >= 2)
        .select("doc_id", "pos")
    )
    w_d = Window.partitionBy("doc_id").orderBy("pos")
    # windows at p and q overlap or abut iff q <= p + K: same island
    brk = (
        F.when(F.col("pos") - F.lag("pos").over(w_d) <= DUPSPAN_K, F.lit(0))
        .otherwise(F.lit(1))
    )
    isl = dup.withColumn("b", brk).withColumn("island", F.sum("b").over(w_d))
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + DUPSPAN_K).alias("span_len"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_len", "n_windows")
    )


def duplicate_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUT step of exact-substring dedup — applies
    ``duplicate_spans``'s maximal extents to the corpus and rebuilds
    each document's text with every duplicated span removed (the
    policy of Lee et al.'s released ExactSubstr tool: ALL occurrences
    of a duplicated substring are cut, accepting slight over-removal
    for a driver-free, embarrassingly-parallel pass). Output is the
    per-doc removal manifest a curation ladder records: token counts
    before/after, spans cut, and the md5 of the cleaned text (the
    value proof that the cut itself — not just the extent report —
    is cross-engine exact; the full cleaned string would dominate
    the comparison payload for no extra signal).

    Scale shape: the span frame is the duplicate_spans plan; spans
    collapse to one array per doc (bounded by span count) and join
    back to the docs on doc_id; the cut is a per-row JVM lambda
    (filter-with-index + exists over the doc's spans) — linear in
    corpus tokens, no Python, no extra shuffle beyond the span
    grouping. Docs shorter than K (no windows) pass through
    untouched via the left join."""
    spans = duplicate_spans(spark, sf_dir)
    spans_by_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_len")).alias("spans")
    )
    d = _docs(spark, sf_dir).select("doc_id", T.tokens(F.col("text")).alias("toks"))
    joined = d.join(spans_by_doc, "doc_id", "left").withColumn(
        "spans", F.coalesce(F.col("spans"), F.expr("array()"))
    )
    kept = F.expr(
        "filter(toks, (tok, i) -> NOT exists(spans,"
        " s -> i + 1 >= s.span_start AND i + 1 < s.span_start + s.span_len))"
    )
    return joined.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        F.size("spans").cast("long").alias("n_spans_cut"),
        F.md5(F.concat_ws(" ", kept)).alias("clean_md5"),
    )


ORACLE_DUPLICATE_SPANS = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), t AS (
  SELECT doc_id, toks FROM d WHERE len(toks) >= {DUPSPAN_K}
), grams AS (
  SELECT doc_id, CAST(p AS BIGINT) AS pos,
         array_to_string(list_slice(toks, p, p + {DUPSPAN_K - 1}), ' ') AS g
  FROM t, unnest(range(1, len(toks) - {DUPSPAN_K} + 2)) AS r(p)
), dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY g) AS cnt FROM grams
  ) WHERE cnt >= 2
), brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {DUPSPAN_K} THEN 0 ELSE 1 END AS b
  FROM dup
), isl AS (
  SELECT doc_id, pos, SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brk
)
SELECT doc_id, MIN(pos) AS span_start,
       MAX(pos) - MIN(pos) + {DUPSPAN_K} AS span_len,
       COUNT(*) AS n_windows
FROM isl GROUP BY doc_id, island
"""


ORACLE_DUPLICATE_SPAN_REMOVAL = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), t AS (
  SELECT doc_id, toks FROM d WHERE len(toks) >= {DUPSPAN_K}
), grams AS (
  SELECT doc_id, CAST(p AS BIGINT) AS pos,
         array_to_string(list_slice(toks, p, p + {DUPSPAN_K - 1}), ' ') AS g
  FROM t, unnest(range(1, len(toks) - {DUPSPAN_K} + 2)) AS r(p)
), dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY g) AS cnt FROM grams
  ) WHERE cnt >= 2
), brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {DUPSPAN_K} THEN 0 ELSE 1 END AS b
  FROM dup
), isl AS (
  SELECT doc_id, pos, SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brk
), spans AS (
  SELECT doc_id, island, MIN(pos) AS span_start,
         MAX(pos) - MIN(pos) + {DUPSPAN_K} AS span_len
  FROM isl GROUP BY doc_id, island
), covered AS (
  SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
  FROM spans, unnest(range(span_start, span_start + span_len)) AS r(p)
), positions AS (
  SELECT doc_id, CAST(p AS BIGINT) AS pos, toks[p] AS tok
  FROM d, unnest(range(1, len(toks) + 1)) AS r(p)
), keptpos AS (
  SELECT doc_id, pos, tok FROM positions ANTI JOIN covered USING (doc_id, pos)
), kept AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS clean
  FROM keptpos GROUP BY doc_id
), nspans AS (
  SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id
)
SELECT d.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans_cut,
       md5(COALESCE(clean, '')) AS clean_md5
FROM d LEFT JOIN kept USING (doc_id) LEFT JOIN nspans USING (doc_id)
"""


TFIDF_TOP = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 characteristic terms by a TF-IDF-shaped
    rarity score — the keyword-extraction step of a corpus indexing
    pipeline. Score = tf · (N+1)/(df+1): the same monotone-in-1/df
    ranking as log-IDF, but log-free — every factor is an exact
    integer and the single division is IEEE-correctly-rounded, so
    the score is bit-identical across engines (ln() is not
    correctly-rounded and may differ in the last ulp between
    libm implementations).

    Scale shape: two hash aggregations — (doc, term) term
    frequencies, then term document frequencies (map-side partial on
    both) — a broadcast of the df table is NOT needed: df joins back
    on the term key the tf frame already shuffled on. Top-3 per doc
    is a bounded window."""
    from pyspark.sql import Window

    d = _docs_explode_width(spark, sf_dir)
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    terms = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                (F.col("tf") * (F.col("n_docs") + 1)).cast("double")
                / (F.col("df") + 1).cast("double")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP)
        .select("doc_id", "rank", "term", "tf", "df", "score")
    )


ORACLE_TFIDF_TOP_TERMS = f"""
WITH terms AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, term, tf, df,
         CAST(tf * (n_docs + 1) AS DOUBLE) / CAST(df + 1 AS DOUBLE) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, rank, term, tf, df, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= {TFIDF_TOP}
"""


def transcript_title_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference parity: the earnings-call transcript title-EDA query
    (transforms/transform_earnings_call_transcript_eda.py:46-103) —
    a first-match CASE/ILIKE cascade buckets each row, then a global
    ``SUM(COUNT(*)) OVER ()`` turns counts into percentage shares,
    ordered most-common first. Same shape here over ``documents``
    with content-keyword tiers standing in for the title tiers (the
    fixture has no job-title column; the operator — cascade classify
    + count + rounded global share — is the thing under parity).

    Scale shape: the share total is an aggregate broadcast back onto
    the ≤5 tier rows (no empty-frame window — the plan lint bans
    unpartitioned WindowExec even over bounded inputs, to keep the
    pattern out of the codebase); the heavy side is a
    map-side-combinable hash aggregate."""
    d = _docs(spark, sf_dir)
    low = F.lower(F.col("text"))
    tier = (
        F.when(low.contains("stream") | low.contains("window"), "Streaming / Windowing")
        .when(low.contains("join") | low.contains("merge"), "Join / Merge")
        .when(low.contains("agg") | low.contains("group"), "Aggregation")
        .when(low.contains("scan") | low.contains("filter"), "Scan / Filter")
        .otherwise("Needs Classification")
    )
    from ..functions.exact import with_share_of_total

    counted = (
        d.filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .groupBy(tier.alias("aggregate_title"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        with_share_of_total(counted, "cnt", "percentage", ndigits=2)
        .select("aggregate_title", "cnt", "percentage")
        .orderBy(F.col("cnt").desc(), "aggregate_title")
    )


ORACLE_TRANSCRIPT_TITLE_SHARE = """
WITH classified AS (
  SELECT CASE
           WHEN lower(text) LIKE '%stream%' OR lower(text) LIKE '%window%'
             THEN 'Streaming / Windowing'
           WHEN lower(text) LIKE '%join%' OR lower(text) LIKE '%merge%'
             THEN 'Join / Merge'
           WHEN lower(text) LIKE '%agg%' OR lower(text) LIKE '%group%'
             THEN 'Aggregation'
           WHEN lower(text) LIKE '%scan%' OR lower(text) LIKE '%filter%'
             THEN 'Scan / Filter'
           ELSE 'Needs Classification'
         END AS aggregate_title
  FROM documents
  WHERE text IS NOT NULL AND text != ''
)
SELECT aggregate_title,
       COUNT(*) AS cnt,
       ROUND(100.0 * COUNT(*) / SUM(COUNT(*)) OVER (), 2) AS percentage
FROM classified
GROUP BY aggregate_title
ORDER BY cnt DESC, aggregate_title
"""


def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via the Spark 4 VARIANT type:
    ``parse_json`` once into the binary variant encoding, then
    multiple typed accesses (``variant_get`` as bigint AND as
    string) without re-parsing the JSON text per access — the
    at-scale answer to repeated ``get_json_object`` calls, which
    each re-tokenize the string (``json_props_stats`` is the legacy
    twin of this query; same table, same rollup).

    Scale shape: parse + typed access are JVM expressions inside
    whole-stage codegen; one shuffle for the event_type rollup with
    map-side partial aggregation."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "bigint")
    ks = F.variant_get(v, "$.k", "string")
    return (
        ev.select("event_type", k.alias("k"), F.length(ks).cast("bigint").alias("klen"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.count_distinct(F.col("k")).alias("k_distinct"),
            F.sum((F.col("k") % 2 == 0).cast("bigint")).alias("n_even"),
            F.max("klen").alias("klen_max"),
        )
        .orderBy("event_type")
    )


ORACLE_VARIANT_PROPS_STATS = """
WITH t AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         length(json_extract_string(props, '$.k')) AS klen
  FROM events
)
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(k) AS BIGINT) AS k_sum,
       COUNT(DISTINCT k) AS k_distinct,
       CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even,
       MAX(klen) AS klen_max
FROM t
WHERE k IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the perplexity-proxy quality
    filter of a training-data pipeline: fit unigram probabilities on
    the corpus itself, then score each document by its mean token
    log10-probability (degenerate/boilerplate docs score HIGH —
    their tokens are corpus-frequent; noise scores LOW). Also
    reports the rarest-token corpus count per doc (an OOV-ishness
    signal).

    Determinism: the per-doc (term, c_doc, c_corpus) triples are
    sorted by term and folded sequentially (F.aggregate), fixing the
    double-accumulation order at any parallelism; compared columns
    round to 9 decimals in both engines (libm log10 last-ulp
    policy, same as token_entropy).

    Scale shape: two hash aggregates — (doc, term) then (term) —
    both partial-aggregating map-side; the doc×term → term join
    shuffles on term (vocab is Zipf-skewed, but the corpus-count
    side is one row per term, so AQE's skew split handles the heavy
    grams); the scalar corpus total rides a 1-row broadcast cross
    join, never a driver collect. The corpus repartitions to full
    parallelism before the token explode (the bigram explode-width
    fix, same rationale: map-side task width sized to the EXPLODED
    volume, not the compressed scan width)."""
    d = (
        _docs(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", T.tokens(F.col("text")).alias("toks"))
    )
    term_doc = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c_d"))
    )
    corpus = term_doc.groupBy("term").agg(F.sum("c_d").alias("c_t"))
    total = corpus.agg(F.sum("c_t").alias("n_corpus"))
    # same exchange slim-down as bigram_interpolated_scores: t is
    # computed on the join (total rides a 1-row broadcast), the
    # per-doc fold sorts and folds bare doubles — ascending-double
    # order is engine-independent and bit-equal doubles commute, so
    # determinism matches the old sort-by-term-string fold while the
    # per-doc exchange drops the term string entirely
    t_uni = F.col("c_d").cast("double") * F.log10(
        F.col("c_t").cast("double") / F.col("n_corpus").cast("double")
    )
    per_doc = (
        term_doc.join(corpus, "term")
        .crossJoin(F.broadcast(total))
        .select("doc_id", "c_d", "c_t", t_uni.alias("t"))
        .groupBy("doc_id")
        .agg(
            F.sum("c_d").alias("n_tokens"),
            F.count(F.lit(1)).alias("doc_vocab"),
            F.min("c_t").alias("rarest_count"),
            F.array_sort(F.collect_list("t")).alias("ts"),
        )
    )
    fold = F.aggregate(F.col("ts"), F.lit(0.0), lambda acc, x: acc + x)
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "doc_vocab",
        "rarest_count",
        F.round(fold / F.col("n_tokens").cast("double"), 9).alias("avg_logprob10"),
    ).orderBy("doc_id")


ORACLE_UNIGRAM_LOGPROB_SCORES = f"""
WITH term AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), td AS (
  SELECT doc_id, term, COUNT(*) AS c_d FROM term GROUP BY doc_id, term
), corpus AS (
  SELECT term, CAST(SUM(c_d) AS BIGINT) AS c_t FROM td GROUP BY term
), total AS (
  SELECT CAST(SUM(c_t) AS BIGINT) AS n_corpus FROM corpus
), per_doc AS (
  -- mirrors the Spark side: t per (doc, term) BEFORE the per-doc
  -- list, fold in ascending-double order (bit-equal doubles commute)
  SELECT doc_id,
         CAST(SUM(c_d) AS BIGINT) AS n_tokens,
         COUNT(*) AS doc_vocab,
         MIN(c_t) AS rarest_count,
         list_sort(list(CAST(c_d AS DOUBLE)
                        * log10(CAST(c_t AS DOUBLE) / n_corpus))) AS ts
  FROM td JOIN corpus USING (term), total
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, doc_vocab, rarest_count,
       ROUND(
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ts),
           (acc, x) -> acc + x) / n_tokens, 9) AS avg_logprob10
FROM per_doc
ORDER BY doc_id
"""


BIGRAM_LAMBDA = 0.7   # interpolation weight on the bigram term
BIGRAM_LAMBDA_C = 0.3  # 1 - lambda, pinned as a literal: the Python
                       # expression 1.0 - 0.7 is 0.30000000000000004,
                       # which would silently diverge from a SQL 0.3


def bigram_interpolated_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram language-model scoring — the next rung
    above ``unigram_logprob_scores`` on the perplexity-filter
    ladder (the n-gram LM quality filter of CCNet/KenLM-style
    pipelines): per-document mean log10 of
    λ·p(y|x) + (1−λ)·p(y), with the conditional add-one smoothed
    over the unigram vocabulary (p(y|x) = (c(xy)+1)/(c(x·)+V),
    c(x·) = bigram-context count of x) and λ = 0.7. Repetitive /
    template-y documents score HIGH (their bigrams are corpus-
    frequent); incoherent token soup scores LOW even when its
    unigrams are common — the signal unigram models can't see.

    Determinism: each (doc, bigram) term's double contribution
    t = c_d·log10(·) is computed BEFORE the per-doc aggregate (the
    scalar totals ride a 1-row broadcast onto the stats join), then
    the per-doc list of t values is array_sort'd and folded
    sequentially — ascending-double order is engine-independent and
    bit-equal doubles commute under the fold, so the accumulation
    is as deterministic as the old sort-by-bigram-string fold while
    shuffling ONE double per term instead of the full
    (bigram, c_d, c_b, c_ctx, c_u) struct (~8× fewer bytes through
    the per-doc exchange — this was the repo's only sf5 spiller,
    2.9GB, before the r10 slim-down). Compared outputs round at 9dp
    (libm log10 last-ulp policy; an ulp-level cross-engine t
    difference can reorder near-ties, perturbing the fold at
    ulp scale — absorbed by the rounding, same class as before).
    Scale shape: two hash aggregates keyed by bigram and by context
    token (both partial-aggregating map-side), the stats join back
    on the bigram key, the per-doc fold map-side. The corpus is
    repartitioned to full parallelism BEFORE the gram explode: the
    explode multiplies bytes ~10×, so map-side task width must be
    sized to the EXPLODED volume, not the compressed scan width —
    at sf5 the parquet scan yielded 8 splits on 32 cores and each
    partial (doc, bigram) hash agg spilled 1.2-1.4GB; the
    repartition (one corpus-bytes shuffle, ~2% of query wall) made
    the partial aggs spill-free and halved the wall clock (50→26s).
    On a cluster the same sizing comes from lowering
    spark.sql.files.maxPartitionBytes by the explode factor."""
    d = (
        _docs(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", T.tokens(F.col("text")).alias("toks"))
        .filter(F.expr("size(toks) >= 2"))
    )
    bl = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    )
    # doc_bg feeds THREE consumers (bg → ctx, the stats join, and the
    # per-doc scoring join) and bg itself feeds two (ctx and stats).
    # Left lazy, column pruning makes each consumer's exchange subtree
    # non-identical, so exchange reuse never fires and the tokenize →
    # explode → partial-agg lineage executed three times (r12 jobprof:
    # three 32-task stages, each re-writing the same 4.2MB aggregate).
    # Persisting the two aggregated frames (far smaller than the
    # exploded gram stream) runs the corpus pass ONCE; pins fill at
    # the query's own first action and release on result GC (guide
    # §2.4 "remove shuffles outright" / §5 caching-when-reused).
    doc_bg = (
        d.select("doc_id", F.explode(bl).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c_d"))
        .persist()
    )
    bg_agg = doc_bg.groupBy("bigram").agg(F.sum("c_d").alias("c_b")).persist()
    bg = bg_agg.withColumn("x", F.expr("split_part(bigram, ' ', 1)")).withColumn(
        "y", F.expr("split_part(bigram, ' ', 2)")
    )
    ctx = bg.groupBy("x").agg(F.sum("c_b").alias("c_ctx"))
    uni = (
        d.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c_u"))
    )
    totals = uni.agg(F.sum("c_u").alias("n_uni"), F.count(F.lit(1)).alias("vocab"))
    stats = (
        bg.join(ctx, "x")
        .join(uni.select(F.col("term").alias("y"), "c_u"), "y")
        .select("bigram", "c_b", "c_ctx", "c_u")
    )
    lam = float(BIGRAM_LAMBDA)
    t_expr = F.col("c_d").cast("double") * F.log10(
        F.lit(lam)
        * (
            (F.col("c_b") + F.lit(1)).cast("double")
            / (F.col("c_ctx").cast("double") + F.col("vocab").cast("double"))
        )
        + F.lit(BIGRAM_LAMBDA_C)
        * (
            (F.col("c_u") + F.lit(1)).cast("double")
            / (F.col("n_uni") + F.col("vocab")).cast("double")
        )
    )
    per_doc = (
        doc_bg.join(stats, "bigram")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", "c_d", t_expr.alias("t"))
        .groupBy("doc_id")
        .agg(
            F.sum("c_d").alias("n_bigrams"),
            F.array_sort(F.collect_list("t")).alias("ts"),
        )
    )
    fold = F.aggregate(F.col("ts"), F.lit(0.0), lambda acc, x: acc + x)
    result = per_doc.select(
        "doc_id",
        "n_bigrams",
        F.round(fold / F.col("n_bigrams").cast("double"), 9).alias("avg_logprob10_interp"),
    ).orderBy("doc_id")
    # upstream-first: doc_bg's fill runs the one corpus pass, bg_agg's
    # fill then aggregates from that cache. Pin the persisted frame
    # itself: releasing the derived `bg` view would free nothing.
    return pin_on_first_action(result, [doc_bg, bg_agg])


ORACLE_BIGRAM_INTERPOLATED_SCORES = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), d2 AS (
  SELECT doc_id, toks FROM d WHERE len(toks) >= 2
), doc_bg AS (
  SELECT doc_id, bigram, COUNT(*) AS c_d FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
    FROM d2
  ) GROUP BY doc_id, bigram
), bg AS (
  SELECT bigram, CAST(SUM(c_d) AS BIGINT) AS c_b,
         split_part(bigram, ' ', 1) AS x, split_part(bigram, ' ', 2) AS y
  FROM doc_bg GROUP BY bigram
), ctx AS (
  SELECT x, CAST(SUM(c_b) AS BIGINT) AS c_ctx FROM bg GROUP BY x
), uni AS (
  SELECT term, COUNT(*) AS c_u FROM (SELECT unnest(toks) AS term FROM d2)
  GROUP BY term
), totals AS (
  SELECT CAST(SUM(c_u) AS BIGINT) AS n_uni, COUNT(*) AS vocab FROM uni
), stats AS (
  SELECT bigram, c_b, c_ctx, c_u
  FROM bg JOIN ctx USING (x) JOIN uni ON bg.y = uni.term
), per_doc AS (
  -- t is computed per (doc, bigram) BEFORE the per-doc list, and the
  -- fold runs in ascending-double order — mirrors the Spark side
  -- exactly (bit-equal doubles commute, so sort-by-t is as
  -- deterministic as the old sort-by-bigram-string fold).
  SELECT doc_id,
         CAST(SUM(c_d) AS BIGINT) AS n_bigrams,
         list_sort(list(
           CAST(c_d AS DOUBLE)
           * log10({BIGRAM_LAMBDA} * (CAST(c_b + 1 AS DOUBLE)
                     / (CAST(c_ctx AS DOUBLE) + CAST(vocab AS DOUBLE)))
                   + {BIGRAM_LAMBDA_C!r} * (CAST(c_u + 1 AS DOUBLE)
                     / CAST(n_uni + vocab AS DOUBLE))))) AS ts
  FROM doc_bg JOIN stats USING (bigram), totals
  GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       ROUND(
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ts),
           (acc, x) -> acc + x) / n_bigrams, 9) AS avg_logprob10_interp
FROM per_doc
ORDER BY doc_id
"""


QUALITY_LABEL_THRESHOLD = 75.0

# Frozen quality-classifier artifact (r08 verdict task 5): the
# coefficients of LogisticRegression(maxIter=25, regParam=0.01) over
# (n_tokens, stop_ratio, ttr, avg_token_len) with the weak label
# quality_score >= QUALITY_LABEL_THRESHOLD, trained on the sf0.001
# driver fixture by the pytest harness
# (tests/test_text_queries.py::test_quality_classifier_frozen_artifact
# re-trains and pins decision agreement, so the artifact cannot rot
# silently). Production shape: training runs OFFLINE; the data
# pipeline applies the persisted artifact — the same model-artifact
# seam as S15 (reference: backtesting/trade_success_predictor.py
# persists the fitted model, the scorer loads it).
QC_INTERCEPT = -3.572873075380068
QC_COEFS = (
    0.10424488463865915,  # n_tokens
    -9.790660495926534,  # stop_ratio
    -8.295708561452905,  # ttr
    0.7622049783388496,  # avg_token_len
)


def _train_quality_classifier(spark: SparkSession, sf_dir: str):
    """The OFFLINE training harness (pytest-only, unregistered):
    weak-label the corpus with the heuristic quality score, fit the
    logistic-regression quality classifier via distributed LBFGS
    (treeAggregate gradients — map-side partials, log(n) combine
    depth), and return (model, scored frame with p_good/kept).
    The registered ``quality_classifier_filter`` applies the FROZEN
    artifact these runs produce."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    feats = doc_quality_scores(spark, sf_dir).select(
        "doc_id",
        F.col("n_tokens").cast("double").alias("n_tokens"),
        "stop_ratio",
        "ttr",
        "avg_token_len",
        "quality_score",
    )
    labeled = feats.withColumn(
        "label", (F.col("quality_score") >= QUALITY_LABEL_THRESHOLD).cast("double")
    )
    va = VectorAssembler(
        inputCols=["n_tokens", "stop_ratio", "ttr", "avg_token_len"],
        outputCol="features",
    )
    assembled = va.transform(labeled)
    model = LogisticRegression(maxIter=25, regParam=0.01).fit(assembled)
    scored = model.transform(assembled)
    p_good = vector_to_array(F.col("probability")).getItem(1)
    return model, scored.select(
        "doc_id",
        F.col("label").cast("boolean").alias("label_weak"),
        F.round(p_good, 6).alias("p_good"),
        (p_good >= 0.5).alias("kept"),
    ).orderBy("doc_id")


def quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based curation — the FineWeb/DCLM-style classifier
    filtering stage, applying the FROZEN artifact (QC_INTERCEPT /
    QC_COEFS, provenance above): score every document's cheap
    features and keep where the linear margin ≥ 0 (⟺ p(good) ≥ 0.5
    — the sigmoid is monotone, so the keep decision needs NO
    transcendental call and is bit-exact cross-engine, unlike a
    libm ``exp``). Emits the weak label for audit alongside.

    r09 (verdict task 5): previously rows-only (in-plan LBFGS);
    training now lives in the pytest harness
    (``_train_quality_classifier``) and the registered filter is
    fully value-oracled — the margin is a fixed-order dot product
    over features that are themselves bit-exact (doc_quality_scores
    oracle).

    Scale shape: map-only scoring inside whole-stage codegen — the
    artifact is four doubles folded into the expression; no shuffle
    beyond the output sort."""
    feats = doc_quality_scores(spark, sf_dir)
    z = (
        F.lit(QC_INTERCEPT)
        + F.lit(QC_COEFS[0]) * F.col("n_tokens").cast("double")
        + F.lit(QC_COEFS[1]) * F.col("stop_ratio")
        + F.lit(QC_COEFS[2]) * F.col("ttr")
        + F.lit(QC_COEFS[3]) * F.col("avg_token_len")
    )
    return feats.select(
        "doc_id",
        (F.col("quality_score") >= F.lit(QUALITY_LABEL_THRESHOLD)).alias("label_weak"),
        F.round(z, 9).alias("margin"),
        (z >= F.lit(0.0)).alias("kept"),
    ).orderBy("doc_id")


ORACLE_QUALITY_CLASSIFIER_FILTER = f"""
WITH d AS (
  SELECT doc_id,
    string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks,
    trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
  FROM documents
), f AS (
  SELECT doc_id,
    CAST(len(toks) AS DOUBLE) AS nt,
    len(list_filter(toks, t -> t IN ({_STOP_SQL}))) / CAST(len(toks) AS DOUBLE) AS stop_ratio,
    len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS ttr,
    (length(norm) - (len(toks) - 1)) / CAST(len(toks) AS DOUBLE) AS avg_token_len,
    {QUALITY_SQL} AS quality_score
  FROM d
)
SELECT doc_id,
  quality_score >= CAST({QUALITY_LABEL_THRESHOLD!r} AS DOUBLE) AS label_weak,
  ROUND(CAST({QC_INTERCEPT!r} AS DOUBLE)
        + CAST({QC_COEFS[0]!r} AS DOUBLE) * nt
        + CAST({QC_COEFS[1]!r} AS DOUBLE) * stop_ratio
        + CAST({QC_COEFS[2]!r} AS DOUBLE) * ttr
        + CAST({QC_COEFS[3]!r} AS DOUBLE) * avg_token_len, 9) AS margin,
  (CAST({QC_INTERCEPT!r} AS DOUBLE)
        + CAST({QC_COEFS[0]!r} AS DOUBLE) * nt
        + CAST({QC_COEFS[1]!r} AS DOUBLE) * stop_ratio
        + CAST({QC_COEFS[2]!r} AS DOUBLE) * ttr
        + CAST({QC_COEFS[3]!r} AS DOUBLE) * avg_token_len) >= CAST(0.0 AS DOUBLE) AS kept
FROM f
ORDER BY doc_id
"""


FUZZY_TITLE_LEN = 32
FUZZY_BLOCK_LEN = 8
FUZZY_MAX_EDITS = 3


def fuzzy_title_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy string matching — the entity-resolution /
    near-identical-title shape: normalize a 32-char title key,
    generate candidate pairs ONLY within 8-char-prefix blocks
    (candidate generation is the blocking key's job, same role LSH
    bands play for Jaccard), then verify with exact Levenshtein ≤ 3.
    Pairs differing inside the first 8 chars are out of scope by
    definition — standard blocking semantics, traded for never
    running the O(n²) all-pairs edit distance.

    Scale shape (r12 rework — the r12 sf5 sweep caught the naive
    doc-level self-join putting 97% of 276M candidate pairs into a
    handful of mega-block reducers, two tasks grinding Levenshtein
    for 25+ minutes):

    - the expensive lev verification runs at DISTINCT-TITLE grain,
      not doc grain — exact-duplicate titles (clone boilerplate, the
      dominant mass in a replicated corpus) never re-verify;
    - full-length titles go through a PIGEONHOLE BAND JOIN (the same
      family as ``simhash_hamming_pairs``' Hamming bands): for
      ed(x, y) ≤ k with the first 8 chars equal, split x's 24-char
      suffix into k+1 = 4 fixed segments of 6 — at least one segment
      must occur UNALTERED in y with its position shifted by at most
      k (Navarro's partition filter: the ≤k edits distribute over 4
      segments, so some segment has none, and the indels before it
      shift it by ≤k). Build keys: each title's 4 exact segments;
      probe keys: every 6-char substring within ±3 of each segment
      position. Candidates = band-key equi-join matches only — 8.5M
      distinct title pairs at sf5 instead of 245M (29×, and no
      mega-block task: the join key is (blk, segment_idx, 6-gram));
      verified a superset of all 522,963 qualifying sf5 pairs;
    - titles shorter than 32 chars (fixed segmentation doesn't
      apply) fall back to the plain blocked join — a corpus-rare
      population joined against its own blocks only;
    - matched title pairs (output-sized, small) expand back to doc
      pairs with two equi-joins, and same-title doc pairs come from
      a per-title self-join with NO lev call at all (distance 0 by
      identity).

    Result set, column for column, is identical to the naive
    doc-level join — the DuckDB oracle below is unchanged."""
    t = _docs(spark, sf_dir).select(
        "doc_id",
        F.lower(F.substring(T.normalize_ws(F.col("text")), 1, FUZZY_TITLE_LEN)).alias(
            "title"
        ),
    ).withColumn("blk", F.substring("title", 1, FUZZY_BLOCK_LEN))

    # --- candidate generation at distinct-title grain ---
    d = t.select("blk", "title").distinct()
    is_full = F.length("title") == FUZZY_TITLE_LEN
    full, part = d.filter(is_full), d.filter(~is_full)

    n_seg = FUZZY_MAX_EDITS + 1  # pigeonhole: k+1 segments for ed<=k
    seg_len = (FUZZY_TITLE_LEN - FUZZY_BLOCK_LEN) // n_seg  # 24/4 = 6
    seg_idx = F.explode(F.array(*[F.lit(i) for i in range(n_seg)])).alias("i")
    build = full.select(
        "blk", F.col("title").alias("title_a"), seg_idx
    ).withColumn(
        "gram",
        F.expr(f"substring(title_a, {FUZZY_BLOCK_LEN + 1} + {seg_len}*i, {seg_len})"),
    )
    shift = F.explode(
        F.array(*[F.lit(s) for s in range(-FUZZY_MAX_EDITS, FUZZY_MAX_EDITS + 1)])
    ).alias("s")
    probe = (
        full.select("blk", F.col("title").alias("title_b"), seg_idx)
        .select("*", shift)
        .withColumn(
            "gram",
            F.expr(
                f"substring(title_b, {FUZZY_BLOCK_LEN + 1} + {seg_len}*i + s, {seg_len})"
            ),
        )
        .filter(F.length("gram") == seg_len)  # occurrences must fit in y
        .select("blk", "title_b", "i", "gram")
        .distinct()
    )
    cand_full = (
        build.join(probe, ["blk", "i", "gram"])
        .filter(F.col("title_a") < F.col("title_b"))
        .select("title_a", "title_b")
        .distinct()
    )
    # short titles: fixed segmentation doesn't apply — plain blocked
    # join of the (tiny) short population against its whole blocks
    cand_part = (
        part.select("blk", F.col("title").alias("t1"))
        .join(d.select("blk", F.col("title").alias("t2")), "blk")
        .filter(F.col("t1") != F.col("t2"))
        .select(
            F.least("t1", "t2").alias("title_a"),
            F.greatest("t1", "t2").alias("title_b"),
        )
        .distinct()
    )

    # --- exact lev verification on candidates only ---
    lev = F.levenshtein(F.col("title_a"), F.col("title_b"))
    tp = (
        cand_full.unionByName(cand_part)
        .distinct()
        .filter(lev <= FUZZY_MAX_EDITS)
        .select("title_a", "title_b", lev.cast("int").alias("edit_distance"))
    )

    # --- expand matched title pairs back to doc pairs ---
    xa = t.select(F.col("title").alias("title_a"), F.col("doc_id").alias("id_a"))
    xb = t.select(F.col("title").alias("title_b"), F.col("doc_id").alias("id_b"))
    cross = (
        tp.join(xa, "title_a")
        .join(xb, "title_b")
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            "edit_distance",
            F.lit(False).alias("is_exact"),  # title_a < title_b ⇒ lev ≥ 1
        )
    )

    # --- same-title doc pairs: distance 0 by identity, no lev ---
    x, y = t.alias("x"), t.alias("y")
    same = x.join(
        y, (F.col("x.title") == F.col("y.title")) & (F.col("x.doc_id") < F.col("y.doc_id"))
    ).select(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        F.lit(0).alias("edit_distance"),
        F.lit(True).alias("is_exact"),
    )
    return cross.unionByName(same).orderBy("doc_a", "doc_b")


# The oracle verifies the SAME spec — every doc pair in one block
# with lev ≤ 3 — but evaluates lev at distinct-title grain and
# expands matches back to doc pairs (r12): the naive doc-level
# replay ran 276M single-threaded Levenshteins at sf5 (30+ min of
# oracle wall per sweep); this form is ~4 min there and identical
# everywhere (667,712 rows at sf5, row-for-row). is_exact is TRUE
# exactly on same-title pairs (lev(x,x)=0) and FALSE on cross-title
# pairs (distinct strings ⇒ lev ≥ 1), so the CASE disappears.
ORACLE_FUZZY_TITLE_MATCHES = f"""
WITH t AS (
  SELECT doc_id,
         lower(substr({_NORM}, 1, {FUZZY_TITLE_LEN})) AS title
  FROM documents
), b AS (
  SELECT doc_id, title, substr(title, 1, {FUZZY_BLOCK_LEN}) AS blk FROM t
), d AS (
  SELECT DISTINCT title, blk FROM b
), tp AS (
  SELECT a.title AS ta, c.title AS tb,
         CAST(levenshtein(a.title, c.title) AS INT) AS ed
  FROM d a JOIN d c ON a.blk = c.blk AND a.title < c.title
  WHERE levenshtein(a.title, c.title) <= {FUZZY_MAX_EDITS}
)
SELECT least(x.doc_id, y.doc_id) AS doc_a,
       greatest(x.doc_id, y.doc_id) AS doc_b,
       ed AS edit_distance, FALSE AS is_exact
FROM tp JOIN b x ON x.title = tp.ta JOIN b y ON y.title = tp.tb
UNION ALL
SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       0 AS edit_distance, TRUE AS is_exact
FROM b x JOIN b y ON x.title = y.title AND x.doc_id < y.doc_id
ORDER BY doc_a, doc_b
"""


# ------------------------------------------------------------------
# BM25 retrieval — the lexical-retrieval rung of a training-data /
# RAG pipeline (Robertson-Spärck Jones probabilistic model; the
# Lucene/Elasticsearch default scorer). Fixed benchmark query set
# over the synthetic vocabulary; k1/b are the standard defaults.
# Composite constants ((k1+1), (1−b)) are precomputed in Python and
# embedded as e0 literals so both engines evaluate the same doubles
# (the bigram-λ lesson: 1.0−0.75 is exact, but pinning the literal
# makes that non-accidental).
# ------------------------------------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75
_BM25_K1P1 = BM25_K1 + 1.0    # 2.2
_BM25_1MB = 1.0 - BM25_B      # 0.25, exact
BM25_TOP_K = 10
BM25_QUERIES: dict[int, tuple[str, ...]] = {
    1: ("hash", "join", "scan"),
    2: ("window", "sort", "merge"),
    3: ("stream", "batch", "spark"),
}


def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents per query by BM25 (k1=1.2, b=0.75):
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1) with tf saturation
    and document-length normalization against the corpus mean.

    Determinism: per-(query, doc) term contributions are sorted by
    term and folded sequentially; the final score rounds to 9 dp in
    both engines (libm ln policy, as the unigram/bigram LM queries)
    and the top-k RANKS BY THE ROUNDED SCORE (doc_id tiebreak), so
    ordering can never hinge on a last-ulp difference.

    Scale shape: the exploded token stream filters to the query
    vocabulary FIRST (a literal IN over a handful of terms — at
    100 TB this is the inverted-index posting fetch), so the tf/df
    aggregates and the scoring join touch only matching postings;
    doc lengths are one map-side-combined aggregate over the
    corpus; df and the query table broadcast; the final top-k is a
    per-query window over matched docs only."""
    return bm25_on(_docs(spark, sf_dir), BM25_QUERIES)


def bm25_on(
    docs: DataFrame, queries: dict[int, list[str]], top_k: int = BM25_TOP_K
) -> DataFrame:
    """BM25 core over an arbitrary documents frame — factored out
    so the planted-relevance quality harness (nDCG@10 / MRR pins in
    tests/test_text_queries.py, r06 verdict task 7) exercises the
    EXACT production scorer; ``bm25_retrieval`` is this over the
    corpus with the registered query set."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    d = docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    # dl feeds both the corpus-stats aggregate and the scoring join,
    # and d feeds the posting (tf) pass — so the tokenize lineage is
    # evaluated three times per query. Examined in the r12
    # optimization pass and deliberately LEFT ALONE: the three
    # evaluations are independent leaf stages that the scheduler runs
    # CONCURRENTLY, so on non-saturated capacity they cost near-zero
    # wall clock, while the pinned-cache variant (persist dl + fill
    # before the action) serializes one evaluation onto the critical
    # path — measured +0.3-0.8s at sf0.1 and +0.5s at sf1 (A/B/A/B,
    # min-of-3). On a saturated cluster the cached 16-byte/doc frame
    # wins on throughput; latency-optimized serving keeps the
    # concurrent shape.
    dl = d.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
    )
    all_terms = sorted({t for ts in queries.values() for t in ts})
    qdf = spark.createDataFrame(
        [(qid, t) for qid, ts in queries.items() for t in ts], "qid int, term string"
    )
    tf = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(all_terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    j = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qdf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    nd, dfd = F.col("n_docs").cast("double"), F.col("df").cast("double")
    tfd, dld = F.col("tf").cast("double"), F.col("dl").cast("double")
    idf = F.log(((nd - dfd) + F.lit(0.5)) / (dfd + F.lit(0.5)) + F.lit(1.0))
    denom = tfd + F.lit(BM25_K1) * (
        F.lit(_BM25_1MB) + F.lit(BM25_B) * (dld / F.col("avgdl"))
    )
    contrib = idf * (tfd * F.lit(_BM25_K1P1)) / denom
    per = (
        j.withColumn("c", contrib)
        .groupBy("qid", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.array_sort(F.collect_list(F.struct("term", "c"))).alias("cs"),
        )
    )
    fold = F.aggregate(F.col("cs"), F.lit(0.0), lambda a, s: a + s["c"])
    scored = per.select(
        "qid", "doc_id", "n_terms_matched", F.round(fold, 9).alias("bm25")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("qid", "rank", "doc_id", "n_terms_matched", "bm25")
    )


def _bm25_oracle() -> str:
    terms_in = ", ".join(f"'{t}'" for t in sorted({t for ts in BM25_QUERIES.values() for t in ts}))
    qvals = ", ".join(
        f"({qid}, '{t}')" for qid, ts in BM25_QUERIES.items() for t in ts
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
dl AS (SELECT doc_id, len(toks) AS dl FROM toks),
stats AS (SELECT COUNT(*) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dl),
term AS (SELECT doc_id, unnest(toks) AS term FROM toks),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM term
       WHERE term IN ({terms_in}) GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
q(qid, term) AS (VALUES {qvals}),
contrib AS (
  SELECT q.qid, tf.doc_id, tf.term,
         ln(((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)) + 0.5e0)
            / (CAST(df AS DOUBLE) + 0.5e0) + 1.0e0)
         * (CAST(tf AS DOUBLE) * {_BM25_K1P1!r}e0)
         / (CAST(tf AS DOUBLE) + {BM25_K1!r}e0 *
            ({_BM25_1MB!r}e0 + {BM25_B!r}e0 * (CAST(dl AS DOUBLE) / avgdl))) AS c
  FROM tf JOIN dfreq USING (term) JOIN q USING (term) JOIN dl USING (doc_id), stats
),
per AS (
  SELECT qid, doc_id, COUNT(*) AS n_terms_matched,
         ROUND(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(list_sort(list(struct_pack(term := term, c := c))),
                            s -> s['c'])),
           (a, x) -> a + x), 9) AS bm25
  FROM contrib GROUP BY qid, doc_id
)
SELECT qid, rank, doc_id, n_terms_matched, bm25 FROM (
  SELECT qid, doc_id, n_terms_matched, bm25,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rank
  FROM per
) WHERE rank <= {BM25_TOP_K}
"""


BPE_TOP_K = 20


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer induction: count every
    ADJACENT CHARACTER PAIR inside whitespace tokens across the
    corpus (occurrence-weighted, exactly the statistic the classic
    merge loop greedily consumes) and keep the top-20 merge
    candidates, tie-broken by pair text. Also reports the distinct
    token-type count carrying each pair — a merge that concentrates
    in few types is boilerplate, one spread over many types is a
    genuine subword.

    Scale shape: this is byte-level wordcount — explode to
    (pair) keys, ONE hash aggregate with map-side partial counts,
    then a distributed TakeOrderedAndProject for the top-k; no
    window, no sort of the full pair table. The shuffle carries
    per-partition distinct (pair, token-type) combinations — the
    countDistinct("tok") leg means it is VOCABULARY-bounded, not
    pair-alphabet-bounded (r06 review); still corpus-independent.
    Cost ∝ corpus bytes, the same linear family as the n-gram
    scorers."""
    d = _docs(spark, sf_dir).select("doc_id", T.tokens(F.col("text")).alias("toks"))
    tok = d.select(F.explode("toks").alias("tok")).filter(F.length("tok") >= 2)
    pairs = tok.select(
        "tok",
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("tok").alias("n_token_types"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(BPE_TOP_K)
    )


ORACLE_BPE_MERGE_CANDIDATES = f"""
WITH tok AS (
  SELECT t.tok FROM (SELECT unnest({_TOKS}) AS tok FROM documents) t
  WHERE length(t.tok) >= 2
),
pairs AS (
  SELECT tok, substr(tok, CAST(i AS INT), 2) AS pair
  FROM tok, LATERAL (SELECT unnest(range(1, length(tok))) AS i)
)
SELECT pair, COUNT(*) AS n_occurrences, COUNT(DISTINCT tok) AS n_token_types
FROM pairs
GROUP BY pair
ORDER BY n_occurrences DESC, pair ASC
LIMIT {BPE_TOP_K}
"""


BPE_ROUNDS = 3


def bpe_rounds_on(docs: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """Merge table only — see ``_bpe_loop``. Pinned on first action
    so the per-round caches fill in dependency order AND release
    when the result is GC'd (the per-round persist()s otherwise
    accumulate in the session CacheManager for the process
    lifetime)."""
    report, _, pins = _bpe_loop(docs, rounds)
    return pin_on_first_action(report, pins, fill=False)


def _bpe_loop(docs: DataFrame, rounds: int = BPE_ROUNDS):
    """The BPE merge LOOP over an arbitrary documents frame — the
    statistic tokenizer induction actually consumes (r06 verdict
    task 4: ``bpe_merge_candidates`` is iteration 1 only). Classic
    greedy BPE: start from character symbols, pick the most
    frequent adjacent symbol pair (occurrence-weighted by word
    frequency; ties broken (s1, s2) ascending), merge it
    NON-OVERLAPPING left-to-right in every word, re-count, repeat.
    Emits one row per round: (round, s1, s2, merged,
    n_occurrences) — the merge table.

    Spark shape: after ONE corpus-scale wordcount (persisted), the
    whole loop runs on the VOCABULARY-sized word-frequency table —
    exactly how production BPE trainers work (HuggingFace
    tokenizers trains on word counts, not the raw corpus). Each
    round is a lazy plan fragment: pair counts via explode + hash
    aggregate, the argmax pair as a 1-row LIMIT subplan kept
    IN-PLAN via a broadcast nested-loop join (never collected —
    construction launches no job), and the merge itself as an
    ``aggregate`` fold over the symbol array (whole-stage codegen,
    no UDF): append x, or replace the accumulator tail with
    s1||s2 when (tail, x) = (s1, s2) — tail-replacement cannot
    re-merge because s1||s2 ≠ s1, which is precisely the
    non-overlapping left-to-right rule.

    Returns (merge_table, final_words): the per-round report frame
    and the post-merge word-type state (tok, syms, cnt) that
    ``bpe_apply_compression`` joins back onto the corpus."""
    tok = docs.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
    words = (
        tok.filter(F.length("tok") >= 1)  # sequence(1, 0) is DESCENDING in Spark
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "tok",
            F.expr("transform(sequence(1, length(tok)), i -> substring(tok, i, 1))").alias(
                "syms"
            ),
            "cnt",
        )
        .persist()
    )
    pins = [words]  # dependency order: each round's best, then words
    reports = []
    for r in range(1, rounds + 1):
        pr = (
            words.filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(syms[i - 1] AS s1, syms[i] AS s2))"
                    )
                ).alias("p"),
            )
            .groupBy("p.s1", "p.s2")
            .agg(F.sum("cnt").alias("n_occurrences"))
        )
        # persist: round r's argmax subplan AND the round-r report
        # both read `best`; each round's `words` is read by the next
        # round's pair count AND its merge fold. Without the caches,
        # plan size and recompute grow ~2^rounds (ADVICE r07) —
        # persist() is lazy, so construction stays job-free and the
        # broadcast funnel still computes each cache exactly once.
        best = pr.orderBy(F.desc("n_occurrences"), F.asc("s1"), F.asc("s2")).limit(1).persist()
        pins.append(best)
        reports.append(
            best.select(
                F.lit(r).alias("round"),
                "s1",
                "s2",
                F.concat("s1", "s2").alias("merged"),
                "n_occurrences",
            )
        )
        # LEFT join on TRUE, not crossJoin: when a round finds no
        # mergeable pair (`best` empty — every word already a single
        # symbol), a cross join would empty `words` PERMANENTLY
        # (ADVICE r07); the left join keeps every word with NULL
        # s1/s2 and the fold's IF condition is then NULL → false →
        # plain append, reproducing syms unchanged — exactly the
        # Python trainer's break-and-keep behavior.
        words = (
            words.join(F.broadcast(best.select("s1", "s2")), F.lit(True), "left")
            .select(
                "tok",
                F.expr(
                    "aggregate(syms, cast(array() as array<string>), (acc, x) ->"
                    " IF(size(acc) > 0 AND element_at(acc, -1) = s1 AND x = s2,"
                    " concat(slice(acc, 1, size(acc) - 1), array(concat(s1, s2))),"
                    " concat(acc, array(x))))"
                ).alias("syms"),
                "cnt",
            )
            .persist()
        )
        pins.append(words)
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out.orderBy("round"), words, pins


def bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_rounds_on(_docs(spark, sf_dir))


def _bpe_cte(rounds: int = BPE_ROUNDS) -> str:
    """Shared oracle CTE chain replaying the unrolled merge loop in
    DuckDB: symbol sequences flattened to chr(30)-delimited strings
    (the corpus is delimiter-free — asserted cheap in the pytest),
    the merge fold via ``list_reduce`` with the same
    tail-replacement rule. Generated (like the Lloyd/PageRank
    unrolls) because the rounds are pure repetition. ``tok`` rides
    the whole chain so the apply oracle can join the final state
    back onto the corpus."""
    d = "chr(30)"
    parts = [
        f"""bw0 AS (
  SELECT tok, COUNT(*) AS cnt
  FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
  WHERE length(tok) >= 1 GROUP BY tok
),
bl1 AS (
  SELECT tok, list_transform(range(1, length(tok) + 1),
                             i -> substr(tok, CAST(i AS INT), 1)) AS l, cnt
  FROM bw0
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
bp{r} AS (
  SELECT l[CAST(i AS INT)] AS s1, l[CAST(i AS INT) + 1] AS s2,
         CAST(SUM(cnt) AS BIGINT) AS n_occurrences
  FROM bl{r}, LATERAL (SELECT unnest(range(1, len(l))) AS i)
  WHERE len(l) >= 2
  GROUP BY 1, 2
),
bb{r} AS (SELECT s1, s2, n_occurrences FROM bp{r}
          ORDER BY n_occurrences DESC, s1, s2 LIMIT 1),
bl{r + 1} AS (
  SELECT w.tok, string_split(
    list_reduce(w.l, (acc, x) -> CASE
      WHEN x = b.s2 AND (acc = b.s1 OR (length(acc) > length(b.s1) AND
           substr(acc, length(acc) - length(b.s1), length(b.s1) + 1) = {d} || b.s1))
      THEN acc || x
      ELSE acc || {d} || x END), {d}) AS l, w.cnt
  FROM bl{r} w, bb{r} b
)""")
    return "".join(parts)


def _bpe_sql(rounds: int = BPE_ROUNDS) -> str:
    sel = [
        f"SELECT {r} AS round, s1, s2, s1 || s2 AS merged, n_occurrences FROM bb{r}"
        for r in range(1, rounds + 1)
    ]
    return "WITH " + _bpe_cte(rounds) + "\n" + "\nUNION ALL ".join(sel) + "\nORDER BY round"


ORACLE_BPE_MERGE_ROUNDS = _bpe_sql()


BPE_CONV_MAX_ROUNDS = 6
BPE_CONV_MIN_FREQUENCY = 2


def bpe_train_until_convergence(
    docs: DataFrame,
    max_rounds: int = BPE_CONV_MAX_ROUNDS,
    min_frequency: int = BPE_CONV_MIN_FREQUENCY,
):
    """CONVERGENCE-driven greedy BPE — the production trainer loop
    (HuggingFace tokenizers' ``min_frequency``): iterate merges and
    STOP when the best pair's occurrence count drops below
    ``min_frequency``, or no pair exists at all, rather than
    unrolling a fixed round count (``_bpe_loop``). Each round's
    argmax is a 1-row collect over the VOCABULARY-sized pair
    aggregate — a driver-coordinated convergence probe, the same
    pattern as the star-contraction fixed-point loop, so
    construction launches jobs by design (plan-lint exemption
    list). The merged pair then enters the fold as a LITERAL —
    cheaper than the in-plan broadcast argmax, which is only needed
    when construction must stay job-free.

    Returns (merge_table, final_words): merge_table is a
    driver-built frame (one row per executed round — merge tables
    are vocabulary-bounded and tiny by construction) and
    final_words the post-merge (tok, syms, cnt) state that
    ``bpe_apply_compression``-style consumers join onto the corpus.

    Differential contract (pytest): with ``min_frequency=1`` and no
    exhaustion, the merge table is IDENTICAL to ``_bpe_loop``'s
    unrolled result at the same round count."""
    spark = docs.sparkSession
    tok = docs.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
    words = (
        tok.filter(F.length("tok") >= 1)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "tok",
            F.expr("transform(sequence(1, length(tok)), i -> substring(tok, i, 1))").alias(
                "syms"
            ),
            "cnt",
        )
        .persist()
    )
    merges: list[tuple] = []
    # word states still cached, oldest first: a state becomes
    # unreachable once the NEXT round's collect has materialized its
    # successor; the last two are pinned on the returned word state
    stale: list = [words]
    for r in range(1, max_rounds + 1):
        best = (
            words.filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(syms[i - 1] AS s1, syms[i] AS s2))"
                    )
                ).alias("p"),
            )
            .groupBy("p.s1", "p.s2")
            .agg(F.sum("cnt").alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), F.asc("s1"), F.asc("s2"))
            .limit(1)
            .collect()
        )
        # the collect above materialized the CURRENT word state's
        # cache, so anything two generations back is never read
        # again — release it
        while len(stale) > 1:
            stale.pop(0).unpersist()
        if not best or best[0]["n_occurrences"] < min_frequency:
            break  # converged: keep the current word state (the
            # Python reference's break-and-keep rule)
        s1, s2, n = best[0]["s1"], best[0]["s2"], best[0]["n_occurrences"]
        merges.append((r, s1, s2, s1 + s2, n))
        words = words.select(
            "tok",
            F.expr(
                "aggregate(syms, cast(array() as array<string>), (acc, x) ->"
                " IF(size(acc) > 0 AND element_at(acc, -1) = {s1} AND x = {s2},"
                " concat(slice(acc, 1, size(acc) - 1), array({m})),"
                " concat(acc, array(x))))".format(
                    s1=_sql_str(s1), s2=_sql_str(s2), m=_sql_str(s1 + s2)
                )
            ).alias("syms"),
            "cnt",
        ).persist()  # linear-in-rounds plan/recompute (ADVICE r07)
        stale.append(words)
    table = spark.createDataFrame(
        merges, "round int, s1 string, s2 string, merged string, n_occurrences bigint"
    )
    return table, pin_on_first_action(words, stale, fill=False)


def _sql_str(s: str) -> str:
    """SQL single-quoted string literal (the merge symbols come from
    the corpus, so escape quotes and backslashes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def bpe_convergent_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered twin of ``bpe_merge_rounds`` driven by the
    convergence loop: on the test corpus the best-pair counts stay
    far above BPE_CONV_MIN_FREQUENCY for all BPE_CONV_MAX_ROUNDS
    rounds, so the value oracle is the same unrolled CTE replay at
    max_rounds — if the early-stop ever fired spuriously (or a
    merge diverged), the row set would shrink and the oracle would
    catch it."""
    table, _ = bpe_train_until_convergence(_docs(spark, sf_dir))
    return table.orderBy("round")


ORACLE_BPE_CONVERGENT_MERGES = _bpe_sql(BPE_CONV_MAX_ROUNDS)


def bpe_apply_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONSUMER side of tokenizer induction: apply the learned
    merge table (the ``bpe_merge_rounds`` loop, run to its final
    word state) to every document and report the per-doc
    segmentation statistics a tokenization pipeline tracks —
    whitespace token count, character count, post-merge BPE symbol
    count, and the chars-per-symbol compression ratio (rounded 9 dp
    for cross-engine hashing).

    Scale shape: the merge loop already reduced the corpus to the
    VOCABULARY-sized word-type table; applying it back is one join
    of the exploded corpus tokens onto that table (AQE broadcasts
    the vocabulary side when it fits) plus a per-doc hash aggregate
    — no per-doc re-segmentation, the fold ran once per word TYPE."""
    docs = _docs(spark, sf_dir)
    _, words, pins = _bpe_loop(docs, BPE_ROUNDS)
    wsym = words.select("tok", F.size("syms").alias("n_sym"))
    dt = docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok")).filter(
        F.length("tok") >= 1
    )
    chars, syms = F.sum(F.length("tok")), F.sum("n_sym")
    return (
        dt.join(wsym, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            chars.alias("n_chars"),
            syms.alias("n_bpe_symbols"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_chars",
            "n_bpe_symbols",
            F.round(
                F.col("n_chars").cast("double") / F.col("n_bpe_symbols").cast("double"), 9
            ).alias("compression_ratio"),
        )
        # pin: the round caches fill in dependency order at the
        # query's own first action and release on GC (same
        # lifecycle note as bpe_rounds_on)
        .transform(lambda df: pin_on_first_action(df, pins, fill=False))
    )


ORACLE_BPE_APPLY_COMPRESSION = f"""
WITH {_bpe_cte(BPE_ROUNDS)},
wsym AS (SELECT tok, len(l) AS n_sym FROM bl{BPE_ROUNDS + 1}),
dt AS (
  SELECT doc_id, tok FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
  WHERE length(tok) >= 1
)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(length(d.tok)) AS BIGINT) AS n_chars,
       CAST(SUM(w.n_sym) AS BIGINT) AS n_bpe_symbols,
       ROUND(CAST(SUM(length(d.tok)) AS DOUBLE) / CAST(SUM(w.n_sym) AS DOUBLE), 9)
         AS compression_ratio
FROM dt d JOIN wsym w USING (tok)
GROUP BY d.doc_id
"""


QUERIES = {
    "bpe_merge_candidates": bpe_merge_candidates,
    "bpe_merge_rounds": bpe_merge_rounds,
    "bpe_convergent_merges": bpe_convergent_merges,
    "bpe_apply_compression": bpe_apply_compression,
    "bm25_retrieval": bm25_retrieval,
    "transcript_title_share": transcript_title_share,
    "variant_props_stats": variant_props_stats,
    "unigram_logprob_scores": unigram_logprob_scores,
    "bigram_interpolated_scores": bigram_interpolated_scores,
    "fuzzy_title_matches": fuzzy_title_matches,
    "quality_classifier_filter": quality_classifier_filter,
    "doc_quality_scores": doc_quality_scores,
    "doc_repetition_filter": doc_repetition_filter,
    "train_eval_split": train_eval_split,
    "shard_packing": shard_packing,
    "sequence_packing": sequence_packing,
    "props_redact": props_redact,
    "lang_id_heuristic": lang_id_heuristic,
    "token_stats": token_stats,
    "doc_fingerprints": doc_fingerprints,
    "doc_chunks": doc_chunks,
    "json_props_stats": json_props_stats,
    "doc_prep_pipeline": doc_prep_pipeline,
    "eval_contamination": eval_contamination,
    "boilerplate_ngrams": boilerplate_ngrams,
    "duplicate_spans": duplicate_spans,
    "duplicate_span_removal": duplicate_span_removal,
    "tfidf_top_terms": tfidf_top_terms,
}

ORACLES = {
    "bpe_merge_candidates": ORACLE_BPE_MERGE_CANDIDATES,
    "bpe_merge_rounds": ORACLE_BPE_MERGE_ROUNDS,
    "bpe_convergent_merges": ORACLE_BPE_CONVERGENT_MERGES,
    "bpe_apply_compression": ORACLE_BPE_APPLY_COMPRESSION,
    "bm25_retrieval": _bm25_oracle(),
    "duplicate_spans": ORACLE_DUPLICATE_SPANS,
    "duplicate_span_removal": ORACLE_DUPLICATE_SPAN_REMOVAL,
    "transcript_title_share": ORACLE_TRANSCRIPT_TITLE_SHARE,
    "variant_props_stats": ORACLE_VARIANT_PROPS_STATS,
    "unigram_logprob_scores": ORACLE_UNIGRAM_LOGPROB_SCORES,
    "bigram_interpolated_scores": ORACLE_BIGRAM_INTERPOLATED_SCORES,
    "fuzzy_title_matches": ORACLE_FUZZY_TITLE_MATCHES,
    "tfidf_top_terms": ORACLE_TFIDF_TOP_TERMS,
    "quality_classifier_filter": ORACLE_QUALITY_CLASSIFIER_FILTER,
    "doc_quality_scores": ORACLE_DOC_QUALITY_SCORES,
    "doc_repetition_filter": ORACLE_DOC_REPETITION_FILTER,
    "train_eval_split": ORACLE_TRAIN_EVAL_SPLIT,
    "shard_packing": ORACLE_SHARD_PACKING,
    "sequence_packing": ORACLE_SEQUENCE_PACKING,
    "props_redact": ORACLE_PROPS_REDACT,
    "lang_id_heuristic": ORACLE_LANG_ID_HEURISTIC,
    "token_stats": ORACLE_TOKEN_STATS,
    "doc_fingerprints": ORACLE_DOC_FINGERPRINTS,
    "doc_chunks": ORACLE_DOC_CHUNKS,
    "json_props_stats": ORACLE_JSON_PROPS_STATS,
    "doc_prep_pipeline": ORACLE_DOC_PREP_PIPELINE,
    "eval_contamination": ORACLE_EVAL_CONTAMINATION,
    "boilerplate_ngrams": ORACLE_BOILERPLATE_NGRAMS,
}
