"""corpus_build — the end-to-end training-corpus curation capstone:
every document flows through the full dedup / quality ladder and
comes out with a keep-decision and, if kept, its sampling weight
and shard assignment — the manifest a pretraining data pipeline
actually materializes.

Stage ladder (each stage operates on the SURVIVORS of the previous
one — a doc removed as an exact dup never participates in near-dup
clustering, exactly like a production pipeline):

1. exact dedup        — md5(content) group-by, keep min doc_id
2. MinHash-LSH        — banded candidates → exact-Jaccard ≥ 0.5
                        verify → connected components → keep min id
3. SemDeDup           — IVF-cell-confined cosine ≥ θ pairs →
                        connected components → keep min id
4. quality gate       — the canonical quality score (THE same
                        expression doc_quality_scores registers),
                        drop below CB_QUALITY_MIN
5. mixture weights    — temperature weights over the survivors'
                        per-source token mass (same quantized-pow
                        math as source_mixture_weights)
6. shard packing      — per-language running-token-count shards
                        (same rule as shard_packing)

Output: one row per INPUT document —
(doc_id, source, lang, n_tokens, keep_reason, kept, mix_weight,
shard_id); dropped docs carry their drop reason and NULL
weight/shard. The reasons are disjoint by construction (a doc is
judged by at most one stage, its first).

Correctness: every stage is individually value-oracled elsewhere
(dedup_exact / dedup_clusters / semdedup / doc_quality_scores /
source_mixture_weights / shard_packing); the capstone's oracle is
the COMPOSED CTE chain with the survivor restriction threaded
through — proving the ladder composes in one lazy Spark plan (plus
the two documented driver-coordinated pieces) without intermediate
writes.

Scale shape: stages 1/4/5/6 are hash aggregates and one per-lang
window over survivor token counts; stage 2's quadratic work is
confined to LSH band collisions; stage 3's to IVF cells. The
expensive shared state — LSH signatures/verified pairs/components
and the semantic cell-pair edge set — comes from the SESSION MEMOS
(queries/dedup._LSH_MEMO, queries/similarity._SEM_MEMO), so the
capstone no longer re-runs the ladder the sibling queries
(dedup_clusters, leakage_safe_split, semdedup) already built in the
same session; stage 2 restricts the full-corpus components (exact —
proof at the call site), stage 3 re-runs only the component loop
over the restricted edge frame. Construction launches jobs by
design (the stage-3 component loop and, on a cold memo, the shared
builds — same exemptions as dedup_clusters/semdedup).

Reference parity: the reference has no corpus pipeline (it is a
market-data warehouse); this composes the repo's LLM-pipeline
family, cited per stage in the stage queries' own docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators import dedup as D
from ..sources.catalog import load_table
from .corpus_mix import MIX_ALPHA, _with_mix_weight_quota
from .dedup import _BANDS, _MH_COLS, _NORM, _SHINGLES, _TOKS, _lsh_components
from .similarity import SEMDEDUP_THETA, _km_sql, _sem_state
from .text import QUALITY_SQL, SHARD_TOKEN_BUDGET, quality_score_expr

CB_QUALITY_MIN = 64.0  # ~10th percentile of the fixture corpus —
# drops the genuinely short/repetitive tail without gutting the
# corpus; threshold comparisons are safe because the quality
# expression is bit-exact cross-engine (doc_quality_scores oracle)


# Session memo of the shared enriched-documents frame (one tokenize
# pass yielding n_tokens / content hash / quality): corpus_build and
# the index store's publish (corpus_build_ingest's prior ladder) both
# ladder over it, and in a bench/gate pass each ran the tokenize
# chain privately. Same key discipline as
# queries/dedup._LSH_MEMO (applicationId + footer stamp).
from ..operators.memo import SessionMemo

_ENRICHED_MEMO = SessionMemo("corpus_enriched")


def _enrich_projection(docs: DataFrame) -> DataFrame:
    """The ladder's one-pass document enrichment — tokens / token
    count / content hash / quality from a single tokenize. Shared by
    the session-memoized full-corpus frame and the stored-index
    ingest's BATCH-ONLY enrichment (same expressions ⇒ same values,
    whatever slice of documents flows in)."""
    return docs.select(
        "doc_id", "source", "lang", "text", T.tokens(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        "source",
        "lang",
        "text",
        # size(NULL) is -1 under Spark's legacy sizeOfNull — the
        # oracle's len(NULL) is NULL, and a -1 would also poison
        # the mixture token sums; propagate NULL explicitly
        F.expr("CASE WHEN toks IS NULL THEN NULL ELSE size(toks) END")
        .cast("bigint")
        .alias("n_tokens"),
        T.content_hash(F.col("text")).alias("h"),
        quality_score_expr().alias("quality"),
    )


def _enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.catalog import path_stamp

    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        path_stamp(os.path.join(sf_dir, "documents.parquet")),
    )
    df = _ENRICHED_MEMO.get(key, dataset=key[1])
    if df is not None:
        return df
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    df = _enrich_projection(docs).persist()
    _ENRICHED_MEMO.put(key, df, dataset=key[1])
    return df


def corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one enriched pass: tokens / token count / content hash /
    # quality all derive from a single tokenize, persisted (session
    # memo, shared with corpus_build_ingest) — the checkpointed
    # stage frames below materialize it during construction, so
    # every later stage reads the cache (no sibling-branch race)
    enriched = _enriched(spark, sf_dir)

    # Each stage's drop list is localCheckpoint-ed LAZILY (r13, guide
    # §2.1 "fewer jobs"): the frames are tiny ((doc_id, reason) at
    # dup/low-quality fractions of the corpus), every later stage
    # consumes them through anti-joins, and the final manifest reads
    # all four again — without the cut, each downstream evaluation
    # re-runs the restriction joins and (worst) the component labels'
    # self-pair branch re-evaluated the whole restricted-edge lineage
    # per action (measured ~6s of the r09-interim 9s action at
    # sf0.1). eager=False keeps that cut but folds the five
    # construction materialization jobs into the first consumer (the
    # stage-3 components' edge checkpoint): 78 → 73 jobs per warm
    # pass, same materialize-once guarantee (a lazy localCheckpoint
    # persists at its first computation; later actions read it — the
    # r09 pathology was the absence of any checkpoint, not laziness).
    # corpus_build's construction launches jobs by design (lint
    # exemption); at 100 TB these materializations are the manifest
    # intermediates a production pipeline persists anyway.
    # stage 1: exact dedup (keep min doc_id per content hash)
    canon = enriched.groupBy("h").agg(F.min("doc_id").alias("__c"))
    exact_drop = (
        enriched.join(canon, "h")
        .filter(F.col("doc_id") != F.col("__c"))
        .select("doc_id", F.lit("exact_dup").alias("reason"))
        .localCheckpoint(eager=False)
    )
    s1 = enriched.join(exact_drop.select("doc_id"), "doc_id", "left_anti")

    # stage 2: MinHash-LSH near-dup drops among exact survivors —
    # derived from the SESSION-MEMOIZED full-corpus components
    # (queries/dedup._lsh_components) instead of re-running the
    # signature build + verify + component loop on s1 (r08 verdict
    # task 1). Restricting the full-corpus result is EXACT here:
    # (a) pairs(s1) = pairs(full) ∩ s1×s1 — signatures, band
    #     collisions, and Jaccard are pairwise functions of the two
    #     docs alone;
    # (b) components never split under exact-dup removal — a dropped
    #     doc d has identical normalized content to its surviving
    #     canonical c, hence identical shingles/signatures, so every
    #     edge (x, d) is mirrored by (x, c): any path through d
    #     re-routes through c within s1;
    # (c) the component minimum always survives stage 1 — if the min
    #     m were an exact-drop, its canonical c < m sits in the same
    #     component (mirror), contradicting minimality — so the full
    #     labels ARE the s1 labels.
    # The drop set (doc_id ≠ cluster_id within s1) is therefore
    # bit-identical to running the ladder on s1, which is exactly
    # what the oracle below replays.
    ncc = _lsh_components(spark, sf_dir).join(
        s1.select("doc_id"), "doc_id", "left_semi"
    )
    near_drop = (
        ncc.filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id", F.lit("near_dup").alias("reason"))
        .localCheckpoint(eager=False)
    )
    s2 = s1.join(near_drop.select("doc_id"), "doc_id", "left_anti")

    # stage 3: SemDeDup among near-dup survivors (embeddings share
    # the documents' id space; docs without a vector pass through).
    # The within-cell cosine edge set comes from the session memo
    # (shared with `semdedup`) restricted to s2 on both endpoints —
    # exact for the same pairwise reason as stage 2(a). The
    # component loop DOES re-run here (semantic components can split
    # when near-dup survivors drop out — no mirror-edge guarantee),
    # but over the restricted edge frame only: edge-sized work, no
    # kernel re-execution.
    sedges_full = _sem_state(spark, sf_dir)["edges"]
    sedges = sedges_full.join(
        s2.select(F.col("doc_id").alias("d1")), "d1", "left_semi"
    ).join(s2.select(F.col("doc_id").alias("d2")), "d2", "left_semi")
    scc = D.connected_components(sedges)
    sem_drop = (
        scc.filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id", F.lit("semantic_dup").alias("reason"))
        .localCheckpoint(eager=False)
    )
    s3 = s2.join(sem_drop.select("doc_id"), "doc_id", "left_anti")

    # stage 4: quality gate (precomputed canonical score)
    low_drop = (
        s3.filter(F.col("quality") < CB_QUALITY_MIN)
        .select("doc_id", F.lit("low_quality").alias("reason"))
        .localCheckpoint(eager=False)
    )
    # kept = survivors MINUS low_drop (anti-join), NOT the symmetric
    # `quality >= min` filter: a NULL quality (NULL text) fails BOTH
    # comparisons, and the symmetric form silently dropped the row
    # from the manifest entirely — breaking the one-row-per-input
    # contract and diverging from the oracle, whose final CASE
    # treats not-dropped-by-any-stage as kept.
    kept = s3.join(low_drop.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id", "source", "lang", "n_tokens"
    )

    # stage 5: temperature mixture over the survivors' source masses
    per_src = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    )
    mixw = _with_mix_weight_quota(per_src).select("source", "mix_weight")

    # stage 6: per-language token-budget shards over the survivors
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    kept_m = (
        kept.withColumn("shard_id", F.floor(before / F.lit(SHARD_TOKEN_BUDGET)).cast("bigint"))
        .join(F.broadcast(mixw), "source")  # sources are a small dimension at any scale
        .select(
            "doc_id",
            "source",
            "lang",
            "n_tokens",
            F.lit("kept").alias("keep_reason"),
            F.lit(True).alias("kept"),
            "mix_weight",
            "shard_id",
        )
    )
    drops = exact_drop.unionByName(near_drop).unionByName(sem_drop).unionByName(low_drop)
    drop_m = enriched.join(drops, "doc_id").select(
        "doc_id",
        "source",
        "lang",
        "n_tokens",
        F.col("reason").alias("keep_reason"),
        F.lit(False).alias("kept"),
        F.lit(None).cast("double").alias("mix_weight"),
        F.lit(None).cast("bigint").alias("shard_id"),
    )
    # no pin needed: every shared cached frame (enriched, the LSH /
    # semantic memo state) is session-owned, and the checkpointed
    # stage frames fill everything during construction.
    return kept_m.unionByName(drop_m).orderBy("doc_id")


ORACLE_CORPUS_BUILD = f"""
WITH {_km_sql()},
base0 AS MATERIALIZED (
  SELECT doc_id, source, lang, text, {_TOKS} AS toks FROM documents
),
base AS MATERIALIZED (
  SELECT doc_id, source, lang, text,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         md5({_NORM}) AS content_md5,
         {QUALITY_SQL} AS quality
  FROM base0
),
g AS (SELECT content_md5, MIN(doc_id) AS canon FROM base GROUP BY content_md5),
exact_drop AS MATERIALIZED (
  SELECT doc_id FROM base JOIN g USING (content_md5) WHERE doc_id <> canon
),
s1 AS MATERIALIZED (SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)),
toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM s1),
sh_sets AS MATERIALIZED (SELECT doc_id, {_SHINGLES} AS shingles FROM toks_t WHERE len(toks) >= 3),
sigs AS MATERIALIZED (
  SELECT doc_id,
{_MH_COLS}
  FROM sh_sets
),
banded AS (SELECT doc_id, unnest([{_BANDS}]) AS band FROM sigs),
cands AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
),
sizes_sh AS MATERIALIZED (SELECT doc_id, len(shingles) AS n_sh FROM sh_sets),
exsh AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh_sets),
inter AS MATERIALIZED (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM exsh a JOIN exsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
npairs AS MATERIALIZED (
  SELECT d1, d2
  FROM cands JOIN inter USING (d1, d2)
  JOIN sizes_sh z1 ON d1 = z1.doc_id JOIN sizes_sh z2 ON d2 = z2.doc_id
  WHERE inter / CAST(z1.n_sh + z2.n_sh - inter AS DOUBLE) >= 0.5
),
nedges AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM npairs UNION SELECT d2, d1 FROM npairs),
nrec AS MATERIALIZED (
  WITH RECURSIVE reach(node, root) AS (
    SELECT src, src FROM nedges
    UNION
    SELECT e.dst, r.root FROM reach r JOIN nedges e ON e.src = r.node
  )
  SELECT node, MIN(root) AS cluster FROM reach GROUP BY node
),
near_drop AS MATERIALIZED (SELECT node AS doc_id FROM nrec WHERE cluster <> node),
s2 AS MATERIALIZED (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)),
cells AS MATERIALIZED (SELECT vec_id, cid AS cell FROM kranked WHERE rn = 1),
exv AS MATERIALIZED (
  SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS v
  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i)
  WHERE vec_id IN (SELECT doc_id FROM s2)
),
vnorm AS MATERIALIZED (
  SELECT vec_id,
         CAST(SUM(CAST(floor((v * v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS n2v
  FROM exv GROUP BY vec_id
),
-- candidate pairs first, then coordinates (join-order fix shared
-- with ORACLE_SEMDEDUP: coordinate-first planning exploded before
-- the cell restriction pruned)
scpairs AS MATERIALIZED (
  SELECT a.vec_id AS d1, b.vec_id AS d2
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE a.vec_id IN (SELECT doc_id FROM s2) AND b.vec_id IN (SELECT doc_id FROM s2)
),
pdots AS MATERIALIZED (
  SELECT p.d1, p.d2,
         CAST(SUM(CAST(floor((a.v * b.v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS dot
  FROM scpairs p
  JOIN exv a ON a.vec_id = p.d1
  JOIN exv b ON b.vec_id = p.d2 AND b.i = a.i
  GROUP BY 1, 2
),
sdp AS MATERIALIZED (
  SELECT d1, d2
  FROM pdots JOIN vnorm na ON d1 = na.vec_id JOIN vnorm nb ON d2 = nb.vec_id
  WHERE dot / (SQRT(na.n2v) * SQRT(nb.n2v)) >= {SEMDEDUP_THETA}
),
sedges AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM sdp UNION SELECT d2, d1 FROM sdp),
srec AS MATERIALIZED (
  WITH RECURSIVE reach2(node, root) AS (
    SELECT src, src FROM sedges
    UNION
    SELECT e.dst, r.root FROM reach2 r JOIN sedges e ON e.src = r.node
  )
  SELECT node, MIN(root) AS cluster FROM reach2 GROUP BY node
),
sem_drop AS MATERIALIZED (SELECT node AS doc_id FROM srec WHERE cluster <> node),
s3 AS MATERIALIZED (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM sem_drop)),
low_drop AS MATERIALIZED (SELECT doc_id FROM s3 WHERE quality < {CB_QUALITY_MIN}),
s4 AS MATERIALIZED (SELECT * FROM s3 WHERE quality >= {CB_QUALITY_MIN}),
per_src AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM s4 GROUP BY source
),
raw_t AS (
  SELECT source,
         CAST(CAST(pow(CAST(total_tokens AS DOUBLE), {MIX_ALPHA}) AS VARCHAR) AS DECIMAL(28,10)) AS raw
  FROM per_src
),
wt AS (
  SELECT source, CAST(CAST(raw AS VARCHAR) AS DOUBLE) / CAST(CAST(SUM(raw) OVER () AS VARCHAR) AS DOUBLE) AS mix_weight
  FROM raw_t
),
pk AS (
  SELECT doc_id,
         CAST(floor(CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              / {SHARD_TOKEN_BUDGET}.0) AS BIGINT) AS shard_id
  FROM s4
),
kept_w AS (
  SELECT s4.doc_id, wt.mix_weight, pk.shard_id
  FROM s4 JOIN wt USING (source) JOIN pk USING (doc_id)
)
SELECT b.doc_id, b.source, b.lang, b.n_tokens,
  CASE WHEN ed.doc_id IS NOT NULL THEN 'exact_dup'
       WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
       WHEN sd.doc_id IS NOT NULL THEN 'semantic_dup'
       WHEN ld.doc_id IS NOT NULL THEN 'low_quality'
       ELSE 'kept' END AS keep_reason,
  (ed.doc_id IS NULL AND nd.doc_id IS NULL AND sd.doc_id IS NULL
   AND ld.doc_id IS NULL) AS kept,
  kw.mix_weight, kw.shard_id
FROM base b
LEFT JOIN exact_drop ed USING (doc_id)
LEFT JOIN near_drop nd USING (doc_id)
LEFT JOIN sem_drop sd USING (doc_id)
LEFT JOIN low_drop ld USING (doc_id)
LEFT JOIN kept_w kw USING (doc_id)
ORDER BY b.doc_id
"""


def _even_prior_state(spark: SparkSession, sf_dir: str) -> dict:
    """(e_s2, e_s3, e_kept) of the even-only prior build — the
    retained near-dup canonicals, the retained semantic
    representatives, and the kept manifest rows (doc_id, source,
    lang, n_tokens). The existing corpus's ladder: it runs once per
    published index store (:func:`publish_corpus_index_tables`,
    memoized per (session, dataset, quantizer tier) by
    :func:`_index_store`), and every ingest probes the stored
    tables."""
    from .dedup import _lsh_state
    from .similarity import _emb, _even_trained_cells, cell_pair_edges

    enriched = _enriched(spark, sf_dir)
    e = enriched.filter(F.col("doc_id") % 2 == 0)
    e_canon = e.groupBy("h").agg(F.min("doc_id").alias("__c"))
    e_exact_drop = (
        e.join(e_canon, "h")
        .filter(F.col("doc_id") != F.col("__c"))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    e_s1 = e.select("doc_id").join(e_exact_drop, "doc_id", "left_anti")
    # even near-dup components: the session-memoized full-corpus
    # verified pairs restricted to even survivors on both ends; the
    # component loop re-runs (removing the odd half can split
    # components — no mirror-edge guarantee for non-exact dups)
    pairs = _lsh_state(spark, sf_dir)["pairs"]
    pairs_ee = (
        pairs.join(e_s1.withColumnRenamed("doc_id", "d1"), "d1", "left_semi")
        .join(e_s1.withColumnRenamed("doc_id", "d2"), "d2", "left_semi")
        .localCheckpoint(eager=True)
    )
    e_near_drop = (
        D.connected_components(pairs_ee)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    e_s2 = e_s1.join(e_near_drop, "doc_id", "left_anti").localCheckpoint(eager=True)
    # even semantic dedup in even-trained cells, members = e_s2
    cells = _even_trained_cells(spark, sf_dir)
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    v_e = (
        emb.join(cells, "vec_id")
        .join(e_s2.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi")
    )
    e_sedges = cell_pair_edges(v_e, SEMDEDUP_THETA).localCheckpoint(eager=True)
    e_sem_drop = (
        D.connected_components(e_sedges)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    e_s3 = e_s2.join(e_sem_drop, "doc_id", "left_anti").localCheckpoint(eager=True)
    quality_ok = F.col("quality").isNull() | (
        F.col("quality") >= F.lit(CB_QUALITY_MIN)
    )
    e_kept = (
        enriched.join(e_s3, "doc_id", "left_semi")
        .filter(quality_ok)
        .select("doc_id", "source", "lang", "n_tokens")
        .localCheckpoint(eager=True)
    )
    return {"e_s2": e_s2, "e_s3": e_s3, "e_kept": e_kept}


def _drop_rows(rows: DataFrame, lad: dict) -> DataFrame:
    """(doc_id, source, lang, n_tokens, reason) of every batch doc a
    ladder stage dropped — ``lad`` holds the four stage drop frames,
    ``rows`` the batch docs' manifest columns."""
    drops = (
        lad["exact_drop"].withColumn("reason", F.lit("exact_dup"))
        .unionByName(lad["near_drop"].withColumn("reason", F.lit("near_dup")))
        .unionByName(lad["sem_drop"].withColumn("reason", F.lit("semantic_dup")))
        .unionByName(lad["low_drop"].withColumn("reason", F.lit("low_quality")))
    )
    return rows.join(drops, "doc_id").select("doc_id", "source", "lang", "n_tokens", "reason")


def _ingest_manifest(e_kept: DataFrame, b_kept: DataFrame, drop_rows: DataFrame) -> DataFrame:
    """The batch manifest of an ingest — stages 5/6 over the batch's
    kept rows plus its drop rows (:func:`_drop_rows`). ``e_kept``
    (doc_id, source, lang, n_tokens) is the existing corpus's kept
    mass: the mixture weighs the COMBINED kept masses, and each
    language's shards continue after the existing kept tokens (the
    existing shard sequence is never repacked)."""
    # stage 5: mixture over the COMBINED kept masses
    comb = e_kept.select("source", "n_tokens").unionByName(
        b_kept.select("source", "n_tokens")
    )
    per_src = comb.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    )
    mixw = _with_mix_weight_quota(per_src).select("source", "mix_weight")

    # stage 6: append-mode shards after the existing kept mass
    base_lang = e_kept.groupBy("lang").agg(F.sum("n_tokens").alias("__base"))
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    before_batch = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    b_kept_m = (
        b_kept.join(F.broadcast(base_lang), "lang", "left")
        .withColumn(
            "__before",
            F.coalesce(F.col("__base"), F.lit(0)).cast("bigint") + before_batch,
        )
        .join(F.broadcast(mixw), "source")
        .select(
            "doc_id",
            "source",
            "lang",
            "n_tokens",
            F.lit("kept").alias("keep_reason"),
            F.lit(True).alias("kept"),
            "mix_weight",
            F.floor(F.col("__before") / F.lit(SHARD_TOKEN_BUDGET))
            .cast("bigint")
            .alias("shard_id"),
        )
    )
    b_drop_m = drop_rows.select(
        "doc_id",
        "source",
        "lang",
        "n_tokens",
        F.col("reason").alias("keep_reason"),
        F.lit(False).alias("kept"),
        F.lit(None).cast("double").alias("mix_weight"),
        F.lit(None).cast("bigint").alias("shard_id"),
    )
    return b_kept_m.unionByName(b_drop_m).orderBy("doc_id")


def _hierarchical_store(spark: SparkSession, sf_dir: str) -> bool:
    """Whether the corpus's ``cell_index`` holds hierarchical cells:
    the tier ``_cell_assignments`` picks for the corpus row count."""
    from ..sources.catalog import table_row_count
    from .similarity import _quantizer_mode

    return _quantizer_mode(spark, table_row_count(sf_dir, "embeddings")) == "hierarchical"


def publish_corpus_index_tables(spark: SparkSession, sf_dir: str, io) -> None:
    """corpus_build's WRITE side: persist the
    curation ladder's manifest + index tables for the EXISTING
    corpus (the incremental family's even half) via TableIO — the
    tables a production build materializes so every later ingest
    probes STORED state instead of recomputing the prior ladder:

    - ``kept_manifest``  (doc_id, source, lang, n_tokens) — the kept
      rows; stages 5/6 of any ingest read their base masses here.
    - ``hash_index``     (doc_id, h) for EVERY corpus doc — the
      stage-1 exact-dup probe target.
    - ``sig_index``      (doc_id, shingles, mh0..mh7) for the
      stage-2 survivors (the retained near-dup canonicals) — what a
      production signature service stores; arriving batches band-join
      their fresh signatures against it.
    - ``cell_index``     (vec_id, embedding, cell) for the stage-3
      survivors (the retained semantic representatives), cells from
      the quantizer tier the corpus size selects
      (``_even_trained_cells``).
    - ``codebook``       (cid, i, cv) — the trained flat
      coarse-quantizer codebook
      (:func:`queries.similarity.kmeans_centroids` layout), so
      flat-tier batch vectors are assigned WITHOUT retraining.
      Written under the flat tier only: under the hierarchical tier
      the ladder reads the batch cells of ``_even_trained_cells``.

    Deriving the tables runs the ladder once — this IS the initial
    corpus build; the point is that no subsequent ingest re-runs it.
    At 100 TB: hash/sig indexes partitioned by key prefix, cell_index
    partitioned by cell (TableIO partition_by), each probe a
    partition-pruned equi-join."""
    from .dedup import _lsh_state
    from .similarity import _emb, _even_trained_cells, _train_kmeans

    prior = _even_prior_state(spark, sf_dir)
    enriched = _enriched(spark, sf_dir)
    # Size-adaptive output files on every index table (guide §6
    # "small files hurt twice"): these frames arrive at the write in
    # session-parallelism partitioning (32 locally), so each KB-scale
    # index table landed as 32 tiny part files — 129 files across the
    # store — and every ingest's cold probe paid ~128 parquet footer
    # opens (plus listing) before any work. A REBALANCE hint lets AQE
    # coalesce the write to advisory-sized partitions: 1 file per
    # table at fixture scale, ~advisory-sized (default 64 MB) files
    # at 100 TB — the same knob both ways, no literal file count.
    def _packed(df):
        return df.hint("rebalance")

    io.overwrite(_packed(prior["e_kept"]), "kept_manifest")
    io.overwrite(
        _packed(enriched.filter(F.col("doc_id") % 2 == 0).select("doc_id", "h")),
        "hash_index",
    )
    lsh = _lsh_state(spark, sf_dir)
    e_s2_sets = lsh["sets"].join(prior["e_s2"], "doc_id", "left_semi")
    e_s2_sigs = D.minhash_signatures(e_s2_sets, num_perm=8)
    io.overwrite(_packed(e_s2_sets.join(e_s2_sigs, "doc_id")), "sig_index")
    cells = _even_trained_cells(spark, sf_dir)
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    sem_rep = (
        emb.join(cells, "vec_id")
        .join(prior["e_s3"].select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi")
        .select("vec_id", "embedding", "cell")
    )
    io.overwrite(_packed(sem_rep), "cell_index")
    if _hierarchical_store(spark, sf_dir):
        return  # the ladder takes this tier's batch cells from _even_trained_cells
    cids, C, _ = _train_kmeans(spark, sf_dir, where=F.col("vec_id") % 2 == 0)
    rows = [
        (int(cid), int(i), int(C[j, i]))
        for j, cid in enumerate(cids)
        for i in range(C.shape[1])
    ]
    io.overwrite(
        _packed(spark.createDataFrame(rows, "cid long, i long, cv long")), "codebook"
    )


# warehouse path of the published index store per (session, dataset):
# publish once — the initial corpus build — then every ingest call
# (bench attempt 2, the oracle run, repeated batches) reads parquet.
#
# Each store dir is queued for removal at process exit when it is
# created, and eviction does not remove it earlier (the memo's
# default releaser has nothing to unpersist in a path string): unlike
# unpersist-on-evict — which leaves frames recomputable — an
# immediate rmtree is unrecoverable for any still-live lazy DataFrame
# or TableIO handle obtained from a prior _index_store() call, which
# would fail with path-not-found at its next action once two other
# datasets were touched (max_datasets=2). The paths are session
# tempdirs holding ~MB-scale index tables; parking them until exit
# keeps outstanding readers valid at negligible disk cost, and the
# atexit sweep removes every one, evicted or still memoized.
_RETIRED_STORES: list[str] = []


def _sweep_retired_stores() -> None:
    import shutil

    while _RETIRED_STORES:
        shutil.rmtree(_RETIRED_STORES.pop(), ignore_errors=True)


def retire_at_exit(path: str) -> str:
    """Queue the store dir ``path`` for removal at process exit (lazy
    readers of its tables stay valid until then); returns ``path``."""
    if not _RETIRED_STORES:
        import atexit

        atexit.register(_sweep_retired_stores)
    if path not in _RETIRED_STORES:
        _RETIRED_STORES.append(path)
    return path


_INDEX_STORE_MEMO = SessionMemo("corpus_index_store")


def _index_store(spark: SparkSession, sf_dir: str):
    import os
    import tempfile

    from ..sources.catalog import path_stamp
    from ..sources.io import TableIO
    from .similarity import QUANTIZER_CONF

    # the tier is part of the key: cell_index holds that tier's cells
    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        path_stamp(os.path.join(sf_dir, "documents.parquet")),
        path_stamp(os.path.join(sf_dir, "embeddings.parquet")),
        spark.conf.get(QUANTIZER_CONF, "auto"),
    )
    wh = _INDEX_STORE_MEMO.get(key, dataset=key[1])
    if wh is None:
        wh = retire_at_exit(tempfile.mkdtemp(prefix="corpus_index_store_"))
        publish_corpus_index_tables(spark, sf_dir, TableIO(spark, wh))
        _INDEX_STORE_MEMO.put(key, wh, dataset=key[1])
    return TableIO(spark, wh)


def _stored_ingest_ladder(
    spark: SparkSession, sf_dir: str, io, docs_b: DataFrame, emb_b_all: DataFrame
) -> dict:
    """Stages 1–4 of the stored-index probe ladder for ONE arriving
    batch frame — THE ingest ladder: ``corpus_build_ingest``
    runs it once over the whole batch, ``streaming_corpus_ingest``
    once per micro-batch followed by :func:`commit_ingest_batch`.
    Every prior-state read is a TableIO table (hash_index /
    sig_index / cell_index / codebook), every computation is ∝ batch.
    Returns the stage drop frames, the kept rows, and the
    store-append frames a committing refresh persists so the NEXT
    batch probes this one through the same tables. First-wins within
    the batch: partners are stored survivors or smaller surviving
    batch ids.

    Batch cells come from the quantizer that built ``cell_index``:
    the stored flat codebook, or — when the corpus size (or
    ``spark.fin_trade_craft.quantizer``) selects the hierarchical
    tier — the batch rows of ``_even_trained_cells``, whose
    assignment covers every vector. ``sf_dir`` names the corpus."""
    from .similarity import _even_trained_cells, cell_probe_new_vs_prior, cells_from_codebook

    quality_ok = F.col("quality").isNull() | (F.col("quality") >= F.lit(CB_QUALITY_MIN))

    # ---- the batch: enrichment of the arriving docs only (∝ batch) ----
    be = _enrich_projection(docs_b).localCheckpoint(eager=True)

    # ---- stage 1: exact probe against hash_index ----
    hs = io.read("hash_index").select(F.col("doc_id").alias("o_id"), F.col("h").alias("o_h"))
    m_store = be.select("doc_id", "h").join(hs, F.col("h") == F.col("o_h"), "left_semi")
    bh = be.select(F.col("doc_id").alias("o_id"), F.col("h").alias("o_h"))
    m_same = be.select("doc_id", "h").join(
        bh, (F.col("h") == F.col("o_h")) & (F.col("o_id") < F.col("doc_id")), "left_semi"
    )
    b_exact_drop = (
        m_store.select("doc_id")
        .unionByName(m_same.select("doc_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    s1b = be.join(b_exact_drop, "doc_id", "left_anti").localCheckpoint(eager=True)

    # ---- stage 2: fresh batch signatures band-join sig_index ----
    # probe shape (measured at sf5): candidates from the
    # (store ∪ batch) ⋈ batch band join — never store ⋈ store — and
    # the Jaccard verify reads ONLY candidate-touching shingle rows
    # (semi-join restriction) instead of shuffling the whole store's
    # shingle arrays to score a candidate-sized pair set. Together:
    # stage-2 wall 51 → ~12s at sf5 (125k-doc batch, 111k-row store).
    bsets = D.with_shingle_sets(s1b.select("doc_id", "text")).localCheckpoint(eager=True)
    bsigs = D.minhash_signatures(bsets, num_perm=8)
    store_sigs = io.read("sig_index")
    cands_b = D.lsh_probe_candidate_pairs(
        bsigs, store_sigs.select(bsigs.columns), num_perm=8, rows_per_band=2
    ).localCheckpoint(eager=True)
    bids = bsets.select("doc_id")
    touched = (
        cands_b.select(F.col("d1").alias("doc_id"))
        .unionByName(cands_b.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    comb_sets = (
        store_sigs.select("doc_id", "shingles")
        .unionByName(bsets.select("doc_id", "shingles"))
        .join(touched, "doc_id", "left_semi")
    )
    verified = D.exact_jaccard_pairs(comb_sets, min_jaccard=0.5, candidates=cands_b)
    # partner rule per verified pair (d1 < d2): a batch d2 drops on
    # ANY partner (stored canonical or smaller batch id); a batch d1
    # drops only on a STORED d2 — a larger batch id is not a valid
    # partner under first-wins. Stored ids are recognized by
    # anti-join against the batch id set (NOT parity: committed
    # earlier batches land in the store whatever their parity).
    drop_hi = verified.join(bids.withColumnRenamed("doc_id", "d2"), "d2", "left_semi").select(
        F.col("d2").alias("doc_id")
    )
    drop_lo = (
        verified.join(bids.withColumnRenamed("doc_id", "d2"), "d2", "left_anti")
        .join(bids.withColumnRenamed("doc_id", "d1"), "d1", "left_semi")
        .select(F.col("d1").alias("doc_id"))
    )
    b_near_drop = drop_hi.unionByName(drop_lo).distinct().localCheckpoint(eager=True)
    s2b = s1b.join(b_near_drop, "doc_id", "left_anti").localCheckpoint(eager=True)

    # ---- stage 3: batch cells + probe against cell_index ----
    emb_b = emb_b_all.select("vec_id", "embedding").join(
        s2b.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    if _hierarchical_store(spark, sf_dir):
        b_cells = _even_trained_cells(spark, sf_dir).join(emb_b, "vec_id", "left_semi")
    else:
        b_cells = cells_from_codebook(io.read("codebook"), emb_b)
    bv = emb_b.join(b_cells, "vec_id").select("vec_id", "embedding", "cell").localCheckpoint(
        eager=True
    )
    # the probe kernel only emits rows for batch members, so cells
    # WITHOUT a batch vector are pure Arrow-serialization overhead —
    # semi-join the store down to the batch's cells first (probe
    # cost ∝ batch's cell footprint, not the store's cell count)
    v = (
        io.read("cell_index")
        .join(bv.select("cell").distinct(), "cell", "left_semi")
        .unionByName(bv)
    )
    b_sem_drop = (
        cell_probe_new_vs_prior(v, SEMDEDUP_THETA)
        .filter(F.col("n_dup_matches") > 0)
        .select(F.col("vec_id").alias("doc_id"))
        .localCheckpoint(eager=True)
    )
    b_s3 = s2b.join(b_sem_drop, "doc_id", "left_anti")

    # ---- stage 4: quality gate ----
    b_low_drop = b_s3.filter(~quality_ok).select("doc_id").localCheckpoint(eager=True)
    b_kept = b_s3.filter(quality_ok).select("doc_id", "source", "lang", "n_tokens")
    return {
        "be": be,
        "exact_drop": b_exact_drop,
        "near_drop": b_near_drop,
        "sem_drop": b_sem_drop,
        "low_drop": b_low_drop,
        "kept": b_kept,
        # store-append frames (:func:`commit_ingest_batch`): hash
        # rows for EVERY batch doc, signature rows for stage-1
        # survivors, (vector, cell) rows for stage-2 survivors —
        # exactly the partner sets later batches probe.
        "append_hash": be.select("doc_id", "h"),
        "append_sig": bsets.join(bsigs, "doc_id"),
        "append_cell": bv,
    }


def commit_ingest_batch(io, ladder: dict) -> None:
    """Persist a refresh step: append the batch's partner-set rows to
    the probe indexes and its kept rows to the manifest — after
    this, a subsequent :func:`_stored_ingest_ladder` call probes the
    committed batch exactly as it probes the original corpus. This
    is the refresh LOOP ``streaming_corpus_ingest`` runs per
    micro-batch; tests/test_corpus_build_ingest.py proves the loop
    equal to the one-shot ingest over the concatenated batches."""
    io.append(ladder["append_hash"], "hash_index")
    io.append(ladder["append_sig"], "sig_index")
    io.append(ladder["append_cell"], "cell_index")
    io.append(ladder["kept"], "kept_manifest")


def corpus_build_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus curation — the OPERATIONAL shape of
    ``corpus_build``: a NEW batch of documents (odd doc_ids) flows
    the full ladder AGAINST the EXISTING corpus (even doc_ids) without
    the batch ever re-clustering the historical corpus. The plan
    touches ONLY the existing corpus's PERSISTED index tables —
    kept_manifest / hash_index / sig_index / cell_index / codebook,
    published by :func:`publish_corpus_index_tables` once per
    (session, dataset, quantizer tier) as the initial build — plus
    the arriving batch (odd docs and their vectors). No stage
    recomputes, re-hashes, re-signs, re-trains or re-clusters the
    historical corpus; probe cost ∝ batch at any corpus size.

    Stage contracts (deterministic, batch-parallel — the oracle
    replays them exactly) and their probe shapes
    (:func:`_stored_ingest_ladder`):

    1. exact: batch doc x drops iff ANY existing doc or ANY earlier
       batch doc shares its content hash (plain equality — NULL-text
       docs pass, as in ``corpus_build``). Batch hashes equi-join
       ``hash_index``, plus smaller-id collisions within the batch.
    2. near: x (alive after 1) drops iff a verified Jaccard ≥ 0.5
       pair links it to an existing STAGE-2 SURVIVOR (the retained
       near-dup canonicals ``sig_index`` stores) or an earlier batch
       doc alive after stage 1. First-wins within the batch: an
       earlier batch doc counts even if this same stage also drops
       it (a strictly sequential-greedy variant would be
       order-serial). The batch's FRESH signatures band-join
       ``sig_index`` (band keys are per-doc, so union banding finds
       exactly the collisions full-corpus banding would), and the
       exact-Jaccard verify is confined to those candidates.
    3. semantic: x (alive after 2) drops iff a cosine ≥ θ neighbor
       exists within its IVF cell among existing STAGE-3 SURVIVORS
       (``cell_index``) or earlier batch docs alive after stage 2.
       The quantizer is trained on the EXISTING half only (same
       contract as ``incremental_semdedup_ingest``); batch vectors
       are assigned by the tier that built ``cell_index`` — the
       stored ``codebook`` through
       :func:`queries.similarity.cells_from_codebook` (bit-exact twin
       of the trainer-side assignment) or the hierarchical
       assignment; batch docs without a vector pass through.
    4. quality: the canonical score vs CB_QUALITY_MIN (NULL passes).
    5. mixture: temperature weights over the COMBINED survivors'
       per-source token masses (``kept_manifest`` + batch kept) — an
       arriving batch re-balances the mixture, exactly what a
       production refresh recomputes (per-source scalars only).
    6. shards: batch survivors append AFTER the existing corpus's
       per-language token mass — the existing shard sequence is
       never repacked (:func:`_ingest_manifest`).

    Output: one row per BATCH document — same manifest schema as
    ``corpus_build``. This query is a read-only refresh (no store
    commit); ``streaming_corpus_ingest`` runs the same ladder per
    micro-batch and commits each one. tests/test_corpus_build_ingest.py
    checks the manifest against an independent session-memo replay
    of the ladder, which the hierarchical tier needs: there the
    DuckDB oracle replays the flat build.

    Reference parity: the watermark-ledger discovery of
    transformation_watermark_manager.py:198-270 (anti-join what's
    new, process only that), with the ledger generalized to the
    ladder's index tables."""
    io = _index_store(spark, sf_dir)
    odd = F.col("doc_id") % 2 == 1

    docs_b = load_table(spark, sf_dir, "documents").filter(odd)
    emb_b_all = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 2 == 1)
    lad = _stored_ingest_ladder(spark, sf_dir, io, docs_b, emb_b_all)
    return _ingest_manifest(io.read("kept_manifest"), lad["kept"], _drop_rows(lad["be"], lad))


_SEM_DOT_SQL = (
    "CAST(SUM(CAST(floor((a.v * b.v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12"
)

ORACLE_CORPUS_BUILD_INGEST = f"""
WITH {_km_sql(train_pred="vec_id % 2 = 0")},
base0 AS MATERIALIZED (
  SELECT doc_id, source, lang, text, {_TOKS} AS toks FROM documents
),
base AS MATERIALIZED (
  SELECT doc_id, source, lang, text,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         md5({_NORM}) AS content_md5,
         {QUALITY_SQL} AS quality
  FROM base0
),
sh_sets AS MATERIALIZED (SELECT doc_id, {_SHINGLES} AS shingles FROM base0 WHERE len(toks) >= 3),
sigs AS MATERIALIZED (
  SELECT doc_id,
{_MH_COLS}
  FROM sh_sets
),
banded AS (SELECT doc_id, unnest([{_BANDS}]) AS band FROM sigs),
cands AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
),
sizes_sh AS MATERIALIZED (SELECT doc_id, len(shingles) AS n_sh FROM sh_sets),
exsh AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh_sets),
inter AS MATERIALIZED (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM exsh a JOIN exsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
vpairs AS MATERIALIZED (
  SELECT d1, d2
  FROM cands JOIN inter USING (d1, d2)
  JOIN sizes_sh z1 ON d1 = z1.doc_id JOIN sizes_sh z2 ON d2 = z2.doc_id
  WHERE inter / CAST(z1.n_sh + z2.n_sh - inter AS DOUBLE) >= 0.5
),
-- existing corpus: even-only ladder
eg AS (
  SELECT content_md5, MIN(doc_id) AS canon
  FROM base WHERE doc_id % 2 = 0 GROUP BY content_md5
),
e_exact_drop AS MATERIALIZED (
  SELECT doc_id FROM base JOIN eg USING (content_md5)
  WHERE doc_id % 2 = 0 AND doc_id <> canon
),
e_s1 AS MATERIALIZED (
  SELECT doc_id FROM base WHERE doc_id % 2 = 0
    AND doc_id NOT IN (SELECT doc_id FROM e_exact_drop)
),
e_pairs AS MATERIALIZED (
  SELECT d1, d2 FROM vpairs
  WHERE d1 IN (SELECT doc_id FROM e_s1) AND d2 IN (SELECT doc_id FROM e_s1)
),
e_edges AS MATERIALIZED (
  SELECT d1 AS src, d2 AS dst FROM e_pairs UNION SELECT d2, d1 FROM e_pairs
),
e_rec AS MATERIALIZED (
  WITH RECURSIVE reach(node, root) AS (
    SELECT src, src FROM e_edges
    UNION
    SELECT e.dst, r.root FROM reach r JOIN e_edges e ON e.src = r.node
  )
  SELECT node, MIN(root) AS cluster FROM reach GROUP BY node
),
e_near_drop AS MATERIALIZED (SELECT node AS doc_id FROM e_rec WHERE cluster <> node),
e_s2 AS MATERIALIZED (
  SELECT doc_id FROM e_s1 WHERE doc_id NOT IN (SELECT doc_id FROM e_near_drop)
),
cells AS MATERIALIZED (SELECT vec_id, cid AS cell FROM kranked WHERE rn = 1),
exv AS MATERIALIZED (
  SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS v
  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i)
),
vnorm AS MATERIALIZED (
  SELECT vec_id,
         CAST(SUM(CAST(floor((v * v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS n2v
  FROM exv GROUP BY vec_id
),
e_scand AS MATERIALIZED (
  SELECT a.vec_id AS d1, b.vec_id AS d2
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE a.vec_id IN (SELECT doc_id FROM e_s2) AND b.vec_id IN (SELECT doc_id FROM e_s2)
),
e_sdots AS MATERIALIZED (
  SELECT p.d1, p.d2, {_SEM_DOT_SQL} AS dot
  FROM e_scand p
  JOIN exv a ON a.vec_id = p.d1
  JOIN exv b ON b.vec_id = p.d2 AND b.i = a.i
  GROUP BY 1, 2
),
e_sdp AS MATERIALIZED (
  SELECT d1, d2
  FROM e_sdots JOIN vnorm na ON d1 = na.vec_id JOIN vnorm nb ON d2 = nb.vec_id
  WHERE dot / (SQRT(na.n2v) * SQRT(nb.n2v)) >= {SEMDEDUP_THETA}
),
e_sedges AS MATERIALIZED (
  SELECT d1 AS src, d2 AS dst FROM e_sdp UNION SELECT d2, d1 FROM e_sdp
),
e_srec AS MATERIALIZED (
  WITH RECURSIVE reach2(node, root) AS (
    SELECT src, src FROM e_sedges
    UNION
    SELECT e.dst, r.root FROM reach2 r JOIN e_sedges e ON e.src = r.node
  )
  SELECT node, MIN(root) AS cluster FROM reach2 GROUP BY node
),
e_sem_drop AS MATERIALIZED (SELECT node AS doc_id FROM e_srec WHERE cluster <> node),
e_s3 AS MATERIALIZED (
  SELECT doc_id FROM e_s2 WHERE doc_id NOT IN (SELECT doc_id FROM e_sem_drop)
),
e_kept AS MATERIALIZED (
  SELECT b.doc_id, b.source, b.lang, b.n_tokens
  FROM base b JOIN e_s3 USING (doc_id)
  WHERE b.quality IS NULL OR b.quality >= {CB_QUALITY_MIN}
),
-- batch ladder
b_exact_drop AS MATERIALIZED (
  SELECT DISTINCT x.doc_id
  FROM base x JOIN base y
    ON x.content_md5 = y.content_md5
   AND (y.doc_id % 2 = 0 OR y.doc_id < x.doc_id)
  WHERE x.doc_id % 2 = 1
),
b_s1 AS MATERIALIZED (
  SELECT doc_id FROM base WHERE doc_id % 2 = 1
    AND doc_id NOT IN (SELECT doc_id FROM b_exact_drop)
),
und AS (SELECT d1, d2 FROM vpairs UNION ALL SELECT d2, d1 FROM vpairs),
b_near_drop AS MATERIALIZED (
  SELECT DISTINCT u.d1 AS doc_id FROM und u
  WHERE u.d1 IN (SELECT doc_id FROM b_s1)
    AND (u.d2 IN (SELECT doc_id FROM e_s2)
         OR (u.d2 < u.d1 AND u.d2 IN (SELECT doc_id FROM b_s1)))
),
b_s2 AS MATERIALIZED (
  SELECT doc_id FROM b_s1 WHERE doc_id NOT IN (SELECT doc_id FROM b_near_drop)
),
b_scand AS MATERIALIZED (
  SELECT a.vec_id AS d1, b.vec_id AS d2
  FROM cells a JOIN cells b ON a.cell = b.cell
  WHERE a.vec_id IN (SELECT doc_id FROM b_s2)
    AND (b.vec_id IN (SELECT doc_id FROM e_s3)
         OR (b.vec_id < a.vec_id AND b.vec_id IN (SELECT doc_id FROM b_s2)))
),
b_sdots AS MATERIALIZED (
  SELECT p.d1, p.d2, {_SEM_DOT_SQL} AS dot
  FROM b_scand p
  JOIN exv a ON a.vec_id = p.d1
  JOIN exv b ON b.vec_id = p.d2 AND b.i = a.i
  GROUP BY 1, 2
),
b_sem_drop AS MATERIALIZED (
  SELECT DISTINCT d1 AS doc_id
  FROM b_sdots JOIN vnorm na ON d1 = na.vec_id JOIN vnorm nb ON d2 = nb.vec_id
  WHERE dot / (SQRT(na.n2v) * SQRT(nb.n2v)) >= {SEMDEDUP_THETA}
),
b_s3 AS MATERIALIZED (
  SELECT doc_id FROM b_s2 WHERE doc_id NOT IN (SELECT doc_id FROM b_sem_drop)
),
b_low_drop AS MATERIALIZED (
  SELECT doc_id FROM base JOIN b_s3 USING (doc_id)
  WHERE quality < {CB_QUALITY_MIN}
),
b_kept AS MATERIALIZED (
  SELECT b.doc_id, b.source, b.lang, b.n_tokens
  FROM base b JOIN b_s3 USING (doc_id)
  WHERE b.quality IS NULL OR b.quality >= {CB_QUALITY_MIN}
),
comb AS (
  SELECT source, n_tokens FROM e_kept
  UNION ALL
  SELECT source, n_tokens FROM b_kept
),
per_src AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM comb GROUP BY source
),
raw_t AS (
  SELECT source,
         CAST(CAST(pow(CAST(total_tokens AS DOUBLE), {MIX_ALPHA}) AS VARCHAR) AS DECIMAL(28,10)) AS raw
  FROM per_src
),
wt AS (
  SELECT source, CAST(CAST(raw AS VARCHAR) AS DOUBLE) / CAST(CAST(SUM(raw) OVER () AS VARCHAR) AS DOUBLE) AS mix_weight
  FROM raw_t
),
base_lang AS (
  SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS base_tokens FROM e_kept GROUP BY lang
),
pk AS (
  SELECT doc_id,
         CAST(floor((COALESCE(bl.base_tokens, 0)
              + CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY k.lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT))
              / {SHARD_TOKEN_BUDGET}.0) AS BIGINT) AS shard_id
  FROM b_kept k LEFT JOIN base_lang bl USING (lang)
),
kept_w AS (
  SELECT k.doc_id, wt.mix_weight, pk.shard_id
  FROM b_kept k JOIN wt USING (source) JOIN pk USING (doc_id)
)
SELECT b.doc_id, b.source, b.lang, b.n_tokens,
  CASE WHEN ed.doc_id IS NOT NULL THEN 'exact_dup'
       WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
       WHEN sd.doc_id IS NOT NULL THEN 'semantic_dup'
       WHEN ld.doc_id IS NOT NULL THEN 'low_quality'
       ELSE 'kept' END AS keep_reason,
  (ed.doc_id IS NULL AND nd.doc_id IS NULL AND sd.doc_id IS NULL
   AND ld.doc_id IS NULL) AS kept,
  kw.mix_weight, kw.shard_id
FROM base b
LEFT JOIN b_exact_drop ed USING (doc_id)
LEFT JOIN b_near_drop nd USING (doc_id)
LEFT JOIN b_sem_drop sd USING (doc_id)
LEFT JOIN b_low_drop ld USING (doc_id)
LEFT JOIN kept_w kw USING (doc_id)
WHERE b.doc_id % 2 = 1
ORDER BY b.doc_id
"""


QUERIES = {
    "corpus_build": corpus_build,
    "corpus_build_ingest": corpus_build_ingest,
}
ORACLES = {
    "corpus_build": ORACLE_CORPUS_BUILD,
    "corpus_build_ingest": ORACLE_CORPUS_BUILD_INGEST,
}
