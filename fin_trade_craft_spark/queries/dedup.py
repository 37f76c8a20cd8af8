"""Deduplication queries over ``documents`` (LLM-pipeline dedup
ladder: exact / MinHash-LSH / SimHash / n-gram Jaccard)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators import dedup as D
from ..operators.memo import SessionMemo, pin_on_first_action
from ..sources.catalog import load_table

_NORM = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"
_SHINGLES = (
    "list_distinct(list_transform(range(1, len(toks) - 1),"
    " i -> array_to_string(list_slice(toks, i, i + 2), ' ')))"
)
_SHINGLE_CTE = f"""
WITH toks_t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sh_sets AS (
  SELECT doc_id, {_SHINGLES} AS shingles FROM toks_t WHERE len(toks) >= 3
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents spread across the session's cores. The fixture is a
    single parquet file (one row-group → one input split), which
    would pin the CPU-heavy tokenize→shingle→md5 chain to ONE task;
    at production scale the corpus arrives in many splits and this
    repartition is a no-op-cost hash exchange of raw docs before
    heavy per-doc compute — the same shape either way."""
    spark_defpar = spark.sparkContext.defaultParallelism
    return load_table(spark, sf_dir, "documents").repartition(spark_defpar, "doc_id")


# Session-scoped memo of the full-corpus MinHash-LSH state (r08
# verdict task 1): one bench/gate pass otherwise runs the signature
# build + exact-Jaccard verify up to FIVE times over the SAME corpus
# (minhash_near_dupes, dedup_jaccard_verified, dedup_clusters,
# leakage_safe_split, the lexical-vs-vector agreement audit — and
# corpus_build re-derives all of it again on the exact-dedup
# survivors). Building the LSH index ONCE and serving every consumer
# from it is the production pattern (the _KMEANS_MEMO codebook
# precedent, queries/similarity.py:231). The key carries the
# footer-stamp content fingerprint (per part file: path, mtime_ns,
# size — sources/catalog.path_stamp), so a dataset regenerated in
# place misses the cache; the applicationId scopes entries to the
# owning SparkSession (persisted frames die with their session).
#
# Lifecycle: frames are LAZILY persisted — a memo miss adds zero
# construction-time jobs (the plan lint's invariant); the component
# frame is built on first request by a CC consumer, whose
# construction is already on the lint's exemption list (the
# component edge checkpoint and fetch are jobs by design). The memo
# owns these frames: a query result that pins them fills them but
# never releases them (operators/memo.py).
_LSH_MEMO = SessionMemo("lsh")


def _lsh_state(spark: SparkSession, sf_dir: str) -> dict:
    """The memoized (sets, scored, pairs, cc) of the canonical
    full-corpus LSH chain. ``scored`` is every band-collision
    candidate with its exact Jaccard (NO threshold — what the
    persisted pair-score table of a production dedup service holds);
    ``pairs`` is the canonical ≥ 0.5 verified view over it, so the
    containment tier (which needs sub-0.5-Jaccard pairs) shares the
    same materialization. ``cc`` starts as None and is filled by
    :func:`_lsh_components` on first need."""
    import os

    from ..sources.catalog import path_stamp

    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        path_stamp(os.path.join(sf_dir, "documents.parquet")),
    )
    st = _LSH_MEMO.get(key, dataset=key[1])
    if st is None:
        sets = D.with_shingle_sets(_docs_wide(spark, sf_dir)).persist()
        sigs = D.minhash_signatures(sets, num_perm=8)
        cands = D.lsh_candidate_pairs(sigs, num_perm=8, rows_per_band=2)
        scored = D.exact_jaccard_pairs(
            sets, min_jaccard=0.0, candidates=cands
        ).persist()
        pairs = scored.filter(F.col("jaccard") >= 0.5)
        st = {"sets": sets, "scored": scored, "pairs": pairs, "cc": None}
        _LSH_MEMO.put(key, st, dataset=key[1])
    return st


def _lsh_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized connected components over the full-corpus verified
    pair graph — ONE component solve per (session, dataset) instead
    of one per consumer. Construction launches jobs (the edge
    checkpoint and its driver fetch); every caller is on the plan
    lint's CONSTRUCTION_JOBS_ALLOWED list."""
    st = _lsh_state(spark, sf_dir)
    if st["cc"] is None:
        st["cc"] = D.connected_components(st["pairs"]).persist()
    return st["cc"]


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical = min doc_id per content hash."""
    d = _docs(spark, sf_dir).select("doc_id", T.content_hash(F.col("text")).alias("h"))
    groups = d.groupBy("h").agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    return (
        d.join(groups, "h")
        .select("doc_id", F.col("h").alias("content_md5"), "canonical_id", "n_copies",
                (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"))
    )


ORACLE_DEDUP_EXACT = f"""
WITH h AS (SELECT doc_id, md5({_NORM}) AS content_md5 FROM documents),
g AS (SELECT content_md5, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies FROM h GROUP BY content_md5)
SELECT doc_id, h.content_md5, canonical_id, n_copies, doc_id <> canonical_id AS is_dup
FROM h JOIN g USING (content_md5)
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.5)."""
    sets = D.with_shingle_sets(_docs_wide(spark, sf_dir))
    pins: list[DataFrame] = []
    pairs = D.exact_jaccard_pairs(sets, min_jaccard=0.5, pins=pins)
    return pin_on_first_action(pairs.select("d1", "d2", "inter", "n1", "n2", "jaccard"), pins, fill=False)


ORACLE_DEDUP_NGRAM_JACCARD = f"""
{_SHINGLE_CTE},
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh_sets),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh_sets),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, inter, s1.n_sh AS n1, s2.n_sh AS n2,
       inter / CAST(s1.n_sh + s2.n_sh - inter AS DOUBLE) AS jaccard
FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
WHERE inter / CAST(s1.n_sh + s2.n_sh - inter AS DOUBLE) >= 0.5
"""


def minhash_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8 perms) → LSH(4 bands × 2 rows) candidates →
    exact-Jaccard verify ≥ 0.5 — the scale path: candidate pairs
    come from band-bucket collisions, and verification intersects
    only the candidates' shingle arrays (array_intersect) instead
    of a corpus-wide shingle self-join. The shingle-set frame is
    materialized once (persist(): stored at first touch INSIDE the
    main job, construction stays job-free — eager checkpointing
    would pay an extra scheduling round, and even a lazy
    localCheckpoint runs upstream exchanges at toRdd time under
    AQE) — it feeds the signature build AND both verification join
    branches."""
    st = _lsh_state(spark, sf_dir)
    result = st["pairs"].select("d1", "d2", "jaccard")
    # pin: same three-branch race as dedup_jaccard_verified — the
    # signature chain and both verify-join branches read `sets`.
    return pin_on_first_action(result, [st["sets"]])


def dedup_jaccard_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The candidate-bounded exact-Jaccard tier — identical output
    columns to ``dedup_ngram_jaccard`` but the pair space comes from
    LSH band collisions instead of a full-corpus shingle self-join:
    linear in candidates, the shape that survives 100 TB. (The
    full-corpus variant stays registered as the fixture-scale
    recall oracle; THIS one is the bench headline.)"""
    st = _lsh_state(spark, sf_dir)
    result = st["pairs"].select("d1", "d2", "inter", "n1", "n2", "jaccard")
    # pin: the signature chain and BOTH verify-join branches read
    # `sets` — the first action fills its cache before those three
    # branches race to re-run tokenize→shingle (r07 bench 0.83→1.74s
    # from that race).
    return pin_on_first_action(result, [st["sets"]])




def lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-ladder quality gate — the MinHash-LSH twin of
    ``ann_recall``: recall of the band-collision candidate space
    against the EXACT Jaccard truth set (full self-join — the
    guarded fixture-scale tier), bucketed by true similarity. This
    is the harness a pipeline runs after changing num_perm /
    rows_per_band to check the banding S-curve still catches the
    near-dup band it is tuned for (high-J pairs ≈ 1.0 recall;
    boundary pairs are where recall erodes first).

    Scale shape: the truth side is the deliberately-guarded exact
    tier (this is an OFFLINE evaluation on a sample, exactly like
    ann_recall's brute-force side); the candidate side is the
    production banding; the comparison joins two pair sets on
    (d1, d2)."""
    sets = _lsh_state(spark, sf_dir)["sets"]
    pins: list[DataFrame] = []
    truth = D.exact_jaccard_pairs(sets, min_jaccard=0.5, pins=pins).select("d1", "d2", "jaccard")
    sigs = D.minhash_signatures(sets, num_perm=8)
    cands = D.lsh_candidate_pairs(sigs, num_perm=8, rows_per_band=2).withColumn(
        "hit", F.lit(1)
    )
    j = truth.join(cands, ["d1", "d2"], "left")
    band = (
        F.when(F.col("jaccard") >= 0.9, "0.9-1.0")
        .when(F.col("jaccard") >= 0.7, "0.7-0.9")
        .otherwise("0.5-0.7")
    )
    out = (
        j.groupBy(band.alias("j_band"))
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_caught"),
        )
        .select(
            "j_band",
            "n_true_pairs",
            "n_caught",
            (F.col("n_caught").cast("double") / F.col("n_true_pairs").cast("double")).alias(
                "recall"
            ),
        )
        .orderBy("j_band")
    )
    return pin_on_first_action(out, pins, fill=False)


_MH_COLS = ",\n".join(
    f"  list_min(list_transform(shingles, s -> md5('{i}:' || s))) AS mh{i}" for i in range(8)
)
_BANDS = ", ".join(f"'{b}|' || mh{2*b} || '|' || mh{2*b+1}" for b in range(4))

ORACLE_LSH_RECALL_EVAL = f"""
{_SHINGLE_CTE},
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh_sets),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh_sets),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT d1, d2, inter / CAST(s1.n_sh + s2.n_sh - inter AS DOUBLE) AS jaccard
  FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
  WHERE inter / CAST(s1.n_sh + s2.n_sh - inter AS DOUBLE) >= 0.5
),
sigs AS (
  SELECT doc_id,
{_MH_COLS}
  FROM sh_sets
),
banded AS (SELECT doc_id, unnest([{_BANDS}]) AS band FROM sigs),
cands AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
)
SELECT CASE WHEN jaccard >= 0.9 THEN '0.9-1.0'
            WHEN jaccard >= 0.7 THEN '0.7-0.9'
            ELSE '0.5-0.7' END AS j_band,
       COUNT(*) AS n_true_pairs,
       CAST(SUM(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
       CAST(SUM(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS recall
FROM truth t LEFT JOIN cands c ON t.d1 = c.d1 AND t.d2 = c.d2
GROUP BY 1
ORDER BY 1
"""

ORACLE_MINHASH_NEAR_DUPES = f"""
{_SHINGLE_CTE},
sigs AS (
  SELECT doc_id,
{_MH_COLS}
  FROM sh_sets
),
banded AS (SELECT doc_id, unnest([{_BANDS}]) AS band FROM sigs),
cands AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh_sets),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh_sets),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, inter / CAST(s1.n_sh + s2.n_sh - inter AS DOUBLE) AS jaccard
FROM cands JOIN inter USING (d1, d2)
JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
WHERE inter / CAST(s1.n_sh + s2.n_sh - inter AS DOUBLE) >= 0.5
"""

# same candidate space as minhash_near_dupes, but with the full
# (inter, n1, n2) verification columns of dedup_ngram_jaccard
ORACLE_DEDUP_JACCARD_VERIFIED = f"""
{_SHINGLE_CTE},
sigs AS (
  SELECT doc_id,
{_MH_COLS}
  FROM sh_sets
),
banded AS (SELECT doc_id, unnest([{_BANDS}]) AS band FROM sigs),
cands AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh_sets),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh_sets),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, inter, s1.n_sh AS n1, s2.n_sh AS n2,
       inter / CAST(s1.n_sh + s2.n_sh - inter AS DOUBLE) AS jaccard
FROM cands JOIN inter USING (d1, d2)
JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
WHERE inter / CAST(s1.n_sh + s2.n_sh - inter AS DOUBLE) >= 0.5
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from pairwise matches — what a dedup
    pipeline actually keeps: MinHash-LSH candidates → exact-Jaccard
    verified pairs → connected components (cluster id = min doc id
    in the component) → per-cluster size + canonical flag. The
    verified pair graph is tiny relative to the corpus, so the
    iterative label propagation runs over edges only."""
    st = _lsh_state(spark, sf_dir)
    cc = _lsh_components(spark, sf_dir)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    result = (
        cc.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        )
    )
    return pin_on_first_action(result, [st["sets"]])


# transitive closure by recursive UNION (distinct) — min reachable
# id per node IS the component id; the same candidate/verify tiers
# as the Spark side feed the edge list
ORACLE_DEDUP_CLUSTERS = f"""
{_SHINGLE_CTE},
sigs AS (
  SELECT doc_id,
{_MH_COLS}
  FROM sh_sets
),
banded AS (SELECT doc_id, unnest([{_BANDS}]) AS band FROM sigs),
cands AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
),
sizes_sh AS (SELECT doc_id, len(shingles) AS n_sh FROM sh_sets),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh_sets),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT d1, d2
  FROM cands JOIN inter USING (d1, d2)
  JOIN sizes_sh s1 ON d1 = s1.doc_id JOIN sizes_sh s2 ON d2 = s2.doc_id
  WHERE inter / CAST(s1.n_sh + s2.n_sh - inter AS DOUBLE) >= 0.5
),
edges AS MATERIALIZED (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION
  SELECT d2, d1 FROM pairs
),
rec AS (
  WITH RECURSIVE reach(node, root) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
  )
  SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node
),
csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM rec GROUP BY cluster_id)
SELECT doc_id, cluster_id, cluster_size, doc_id = cluster_id AS is_canonical
FROM rec JOIN csize USING (cluster_id)
"""


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/eval split — the leakage-prevention
    step ``train_eval_split`` (content-hash split; exact dups only)
    cannot provide: documents in the same NEAR-dup cluster must land
    in the same split, or eval leaks paraphrases of training docs.

    Group key per document = its near-dup component id (the same
    MinHash-LSH → Jaccard-verify → connected-components ladder as
    ``dedup_clusters``) when it has one, else its exact-content
    canonical id (min doc_id per content hash — catches short docs
    the shingler skips). The split decision is then a pure function
    of the GROUP REPRESENTATIVE's content hash (first md5 nibble ∈
    {0,1} → eval, 12.5% expected) — deterministic across engines,
    runs, and parallelism, and constant within a group by
    construction.

    Scale shape: the component frame is edge-graph-sized (tiny vs
    the corpus) so its join back is broadcast-able; the exact-hash
    canonical is one corpus hash aggregate; the representative-hash
    lookup is a join on group_id against the corpus hash frame. No
    all-pairs stage anywhere — the quadratic work is confined to LSH
    band collisions exactly as in ``dedup_clusters``.

    Reference parity: the reference has no corpus-split stage (it is
    a market-data warehouse); this extends the repo's dedup family
    with the split-assignment op an LLM data pipeline runs after
    near-dup clustering."""
    st = _lsh_state(spark, sf_dir)
    return leakage_safe_split_on(
        _docs_wide(spark, sf_dir),
        _state=(st["sets"], _lsh_components(spark, sf_dir)),
    )


def leakage_safe_split_on(docs: DataFrame, _state=None) -> DataFrame:
    """Core over an arbitrary documents frame — factored (like
    ``hybrid_rrf_on``) so the planted-leakage pytest exercises the
    exact production grouping + split rule. ``_state`` is the
    registered query's session-memoized (sets, components) pair —
    when absent (tests over synthetic frames), the chain builds
    fresh."""
    if _state is not None:
        sets, cc = _state
    else:
        sets, pairs = D.lsh_verified_pairs(docs)
        cc = D.connected_components(pairs)
    hashes = docs.select("doc_id", T.content_hash(F.col("text")).alias("content_md5"))
    exact = hashes.groupBy("content_md5").agg(F.min("doc_id").alias("exact_canonical"))
    grouped = (
        hashes.join(exact, "content_md5")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "exact_canonical").alias("group_id"),
        )
    )
    sizes = grouped.groupBy("group_id").agg(F.count(F.lit(1)).alias("group_size"))
    rep = hashes.select(
        F.col("doc_id").alias("group_id"), F.col("content_md5").alias("group_md5")
    )
    out = (
        grouped.join(sizes, "group_id")
        .join(rep, "group_id")
        .select(
            "doc_id",
            "group_id",
            "group_size",
            "group_md5",
            F.when(F.substring("group_md5", 1, 1).isin("0", "1"), F.lit("eval"))
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )
    # pin: the signature chain and the verify pass both read `sets`
    # (same race dedup_jaccard_verified documents); the component
    # loop is a construction-time action by design (dedup_clusters'
    # exemption) and fills the cache first anyway — the pin makes
    # that explicit rather than incidental. (The wrapper never
    # releases memo-held state; test-built pins release with it.)
    return pin_on_first_action(out, [sets])


# the dedup_clusters recursive-closure chain + the exact-canonical
# fallback + the representative-hash split rule
ORACLE_LEAKAGE_SAFE_SPLIT = f"""
{_SHINGLE_CTE},
sigs AS (
  SELECT doc_id,
{_MH_COLS}
  FROM sh_sets
),
banded AS (SELECT doc_id, unnest([{_BANDS}]) AS band FROM sigs),
cands AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
),
sizes_sh AS (SELECT doc_id, len(shingles) AS n_sh FROM sh_sets),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh_sets),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT d1, d2
  FROM cands JOIN inter USING (d1, d2)
  JOIN sizes_sh s1 ON d1 = s1.doc_id JOIN sizes_sh s2 ON d2 = s2.doc_id
  WHERE inter / CAST(s1.n_sh + s2.n_sh - inter AS DOUBLE) >= 0.5
),
edges AS MATERIALIZED (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION
  SELECT d2, d1 FROM pairs
),
rec AS (
  WITH RECURSIVE reach(node, root) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
  )
  SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node
),
hsh AS (SELECT doc_id, md5({_NORM}) AS content_md5 FROM documents),
exact AS (
  SELECT content_md5, MIN(doc_id) AS exact_canonical FROM hsh GROUP BY content_md5
),
grp AS (
  SELECT hsh.doc_id, COALESCE(rec.cluster_id, exact.exact_canonical) AS group_id
  FROM hsh JOIN exact USING (content_md5)
  LEFT JOIN rec ON hsh.doc_id = rec.doc_id
),
gs AS (SELECT group_id, COUNT(*) AS group_size FROM grp GROUP BY group_id),
rep AS (SELECT doc_id AS group_id, content_md5 AS group_md5 FROM hsh)
SELECT g.doc_id, g.group_id, gs.group_size, rep.group_md5,
       CASE WHEN substr(rep.group_md5, 1, 1) IN ('0', '1')
            THEN 'eval' ELSE 'train' END AS split
FROM grp g JOIN gs USING (group_id) JOIN rep USING (group_id)
"""


HASH_TF_BUCKETS = 32


def dedup_lexical_vector_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-vs-vector agreement over the SAME candidate set — the
    cross-check a curation pipeline runs before trusting one dedup
    modality: every MinHash-LSH candidate pair that passes the exact
    3-gram Jaccard ≥ 0.5 verify is ALSO scored by cosine over
    signed feature-hashed TF vectors (Weinberger et al. 2009:
    bucket = first two md5 nibbles of the token mod {HASH_TF_BUCKETS},
    sign from the third nibble — hash collisions cancel in
    expectation). Output (d1, d2, jaccard, tf_cosine); a pair where
    the two signals diverge is exactly the case to audit.

    Scale shape: vector components are one corpus token aggregate
    (sparse: ≤{HASH_TF_BUCKETS} rows/doc); the dot-product join is
    candidate-bounded (pairs × buckets, never corpus × corpus); the
    quadratic stage stays confined to LSH band collisions. All
    arithmetic is exact integers until the final cosine division —
    the oracle replays it bit-for-bit, JVM expressions only (md5 +
    instr arithmetic, no UDF)."""
    docs = _docs_wide(spark, sf_dir)
    st = _lsh_state(spark, sf_dir)
    sets = st["sets"]
    pairs = st["pairs"].select("d1", "d2", "jaccard")
    # hash only documents that appear in a verified pair: the
    # corpus-wide explode+md5 aggregate would dominate at scale
    # while only |pairs| docs are ever consumed (the oracle computes
    # corpus-wide but values are identical — outputs are keyed by
    # pairs, so the restriction is semantics-free)
    pair_docs = (
        pairs.select(F.col("d1").alias("doc_id"))
        .unionByName(pairs.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    toks = (
        docs.join(pair_docs, "doc_id", "left_semi")
        .select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
    )
    tcnt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    nib = lambda i: f"(instr('0123456789abcdef', substr(md5(tok), {i}, 1)) - 1)"
    hb = tcnt.select(
        "doc_id",
        F.expr(f"(({nib(1)}) * 16 + ({nib(2)})) % {HASH_TF_BUCKETS}").alias("j"),
        F.expr(
            "CASE WHEN substr(md5(tok), 3, 1) IN"
            " ('8','9','a','b','c','d','e','f') THEN cnt ELSE -cnt END"
        ).alias("sv"),
    )
    comp = hb.groupBy("doc_id", "j").agg(F.sum("sv").alias("v")).persist()
    n2 = comp.groupBy("doc_id").agg(F.sum(F.col("v") * F.col("v")).alias("n2"))
    c1 = comp.select(F.col("doc_id").alias("d1"), "j", F.col("v").alias("v1"))
    c2 = comp.select(F.col("doc_id").alias("d2"), "j", F.col("v").alias("v2"))
    dots = (
        pairs.join(c1, "d1")
        .join(c2, ["d2", "j"])
        .groupBy("d1", "d2")
        .agg(F.sum(F.col("v1") * F.col("v2")).alias("dot"))
    )
    out = (
        pairs.join(dots, ["d1", "d2"], "left")
        .join(n2.select(F.col("doc_id").alias("d1"), F.col("n2").alias("na")), "d1")
        .join(n2.select(F.col("doc_id").alias("d2"), F.col("n2").alias("nb")), "d2")
        .select(
            "d1",
            "d2",
            "jaccard",
            F.when(
                (F.col("na") > 0) & (F.col("nb") > 0),
                F.coalesce(F.col("dot"), F.lit(0)).cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                ),
            ).alias("tf_cosine"),
        )
    )
    # pin: `sets` feeds the signature chain + both verify branches;
    # `comp` feeds the dot join's both sides and the norm aggregate
    return pin_on_first_action(out, [sets, comp])


ORACLE_DEDUP_LEXICAL_VECTOR_AGREEMENT = f"""
{_SHINGLE_CTE},
sigs AS (
  SELECT doc_id,
{_MH_COLS}
  FROM sh_sets
),
banded AS (SELECT doc_id, unnest([{_BANDS}]) AS band FROM sigs),
cands AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
),
sizes_sh AS (SELECT doc_id, len(shingles) AS n_sh FROM sh_sets),
exsh AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh_sets),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM exsh a JOIN exsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT d1, d2, inter / CAST(s1.n_sh + s2.n_sh - inter AS DOUBLE) AS jaccard
  FROM cands JOIN inter USING (d1, d2)
  JOIN sizes_sh s1 ON d1 = s1.doc_id JOIN sizes_sh s2 ON d2 = s2.doc_id
  WHERE inter / CAST(s1.n_sh + s2.n_sh - inter AS DOUBLE) >= 0.5
),
tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
tcnt AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
hb AS (
  SELECT doc_id,
         ((instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
          + (instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)) % {HASH_TF_BUCKETS} AS j,
         CASE WHEN substr(md5(tok), 3, 1) IN ('8','9','a','b','c','d','e','f')
              THEN cnt ELSE -cnt END AS sv
  FROM tcnt
),
comp AS MATERIALIZED (SELECT doc_id, j, CAST(SUM(sv) AS BIGINT) AS v FROM hb GROUP BY 1, 2),
nrm AS (SELECT doc_id, CAST(SUM(v * v) AS BIGINT) AS n2 FROM comp GROUP BY 1),
dots AS (
  SELECT p.d1, p.d2, CAST(SUM(c1.v * c2.v) AS BIGINT) AS dot
  FROM jpairs p
  JOIN comp c1 ON c1.doc_id = p.d1
  JOIN comp c2 ON c2.doc_id = p.d2 AND c2.j = c1.j
  GROUP BY 1, 2
)
SELECT p.d1, p.d2, p.jaccard,
       CASE WHEN a.n2 > 0 AND b.n2 > 0
            THEN CAST(COALESCE(d.dot, 0) AS DOUBLE)
                 / (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE)))
       END AS tf_cosine
FROM jpairs p
LEFT JOIN dots d USING (d1, d2)
JOIN nrm a ON a.doc_id = p.d1
JOIN nrm b ON b.doc_id = p.d2
"""


def simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signatures + 4-bit bucket histogram join."""
    sigs = D.simhash_bits(_docs_wide(spark, sf_dir))
    bucket = F.substring("simhash", 1, 4)
    counts = sigs.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("n_in_bucket"))
    return (
        sigs.withColumn("bucket", bucket)
        .join(counts, "bucket")
        .select("doc_id", "simhash", "bucket", "n_in_bucket")
    )


def _simhash_sql_bits() -> str:
    bits = []
    for j in range(1, 17):
        vote = (
            f"list_sum(list_transform(toks, t -> CASE WHEN substr(md5(t), {j}, 1)"
            f" IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END))"
        )
        bits.append(f"(CASE WHEN ({vote}) > 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


ORACLE_SIMHASH_BUCKETS = f"""
WITH toks_t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sigs AS (
  SELECT doc_id, {_simhash_sql_bits()} AS simhash FROM toks_t
), b AS (
  SELECT doc_id, simhash, substr(simhash, 1, 4) AS bucket FROM sigs
), c AS (
  SELECT bucket, COUNT(*) AS n_in_bucket FROM b GROUP BY bucket
)
SELECT doc_id, simhash, bucket, n_in_bucket FROM b JOIN c USING (bucket)
"""


def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs (Hamming ≤ 6) via pigeonhole
    band join — the Hamming-radius dedup tier: no all-pairs scan,
    candidates come from an equi-join on 16-bit signature bands."""
    sigs = D.simhash_bits(_docs_wide(spark, sf_dir), n_bits=64)
    pins: list[DataFrame] = []
    pairs = D.simhash_hamming_pairs(sigs, pins, n_bits=64, n_bands=4, max_hamming=6)
    return pin_on_first_action(pairs, pins, fill=False)


def _simhash64_sql_bits() -> str:
    bits = []
    for j in range(1, 65):
        src = "md5(t)" if j <= 32 else "md5('b:' || t)"
        pos = j if j <= 32 else j - 32
        vote = (
            f"list_sum(list_transform(toks, t -> CASE WHEN substr({src}, {pos}, 1)"
            f" IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END))"
        )
        bits.append(f"(CASE WHEN ({vote}) > 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


ORACLE_SIMHASH_HAMMING_PAIRS = f"""
WITH toks_t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sigs AS (
  SELECT doc_id, {{bits}} AS simhash FROM toks_t
), banded AS (
  SELECT doc_id, simhash, b || '|' || substr(simhash, b * 16 + 1, 16) AS band
  FROM sigs, LATERAL (SELECT unnest(range(0, 4)) AS b)
), cands AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.simhash AS s1, b.simhash AS s2
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
)
SELECT d1, d2,
  CAST(list_sum(list_transform(range(1, 65),
       i -> CASE WHEN substr(s1, i, 1) <> substr(s2, i, 1) THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
FROM cands
WHERE list_sum(list_transform(range(1, 65),
      i -> CASE WHEN substr(s1, i, 1) <> substr(s2, i, 1) THEN 1 ELSE 0 END)) <= 6
""".format(bits=_simhash64_sql_bits())



def incremental_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup — the continuously-ingesting
    production shape: the odd-doc_id half of the corpus plays the
    NEW batch arriving against the even half as the EXISTING,
    already-signature-indexed corpus. A new doc's candidates are
    band collisions with EITHER an existing doc or an EARLIER new
    doc (first-wins within the batch); exact Jaccard verifies; the
    doc is ingested iff no verified match ≥ 0.5 exists. Per new doc:
    match count + the ingest decision.

    Scale shape: at 100 TB the banded-signature frame is a persisted
    table (TableIO append per ingest) — each batch probes it with a
    band equi-join and appends its own signatures; the historical
    corpus is never re-tokenized or re-hashed, and the probe cost is
    proportional to the BATCH, not the corpus."""
    sets = _lsh_state(spark, sf_dir)["sets"]
    # materialize: the signature build feeds BOTH sides of the band
    # self-join — without this the md5 hashing runs twice
    sigs = D.minhash_signatures(sets, num_perm=8).persist()
    banded = D._banded(sigs, "doc_id", 8, 2)
    new_side = banded.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("d2"), "band"
    )
    prior_side = banded.select(F.col("doc_id").alias("d1"), "band")
    cands = (
        new_side.join(prior_side, "band")
        .filter((F.col("d1") % 2 == 0) | (F.col("d1") < F.col("d2")))
        .select("d1", "d2")
        .distinct()
    )
    matches = (
        D.exact_jaccard_pairs(sets, min_jaccard=0.5, candidates=cands)
        .groupBy("d2")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )
    new_docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 2 == 1).select("doc_id")
    out = (
        new_docs.join(matches, new_docs.doc_id == matches.d2, "left")
        .select(
            "doc_id",
            F.coalesce("n_matches", F.lit(0)).alias("n_dup_matches"),
            (F.coalesce("n_matches", F.lit(0)) == 0).alias("ingested"),
        )
        .orderBy("doc_id")
    )
    return pin_on_first_action(out, [sigs], fill=False)


ORACLE_INCREMENTAL_DEDUP_INGEST = f"""
{_SHINGLE_CTE.rstrip()},
sigs AS (
  SELECT doc_id,
{_MH_COLS}
  FROM sh_sets
),
banded AS (SELECT doc_id, unnest([{_BANDS}]) AS band FROM sigs),
cands AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a JOIN banded b ON a.band = b.band
  WHERE b.doc_id % 2 = 1 AND (a.doc_id % 2 = 0 OR a.doc_id < b.doc_id)
),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh_sets),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh_sets),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle
  WHERE b.doc_id % 2 = 1 AND (a.doc_id % 2 = 0 OR a.doc_id < b.doc_id)
  GROUP BY 1, 2
),
ver AS (
  SELECT d2, COUNT(*) AS n_matches
  FROM cands JOIN inter USING (d1, d2)
  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
  WHERE inter / CAST(s1.n_sh + s2.n_sh - inter AS DOUBLE) >= 0.5
  GROUP BY d2
)
SELECT doc_id,
       COALESCE(n_matches, 0) AS n_dup_matches,
       COALESCE(n_matches, 0) = 0 AS ingested
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) nd
LEFT JOIN ver ON nd.doc_id = ver.d2
ORDER BY doc_id
"""

CONTAINMENT_MIN = 0.8


def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT tier of the dedup ladder —
    C(A,B) = |A∩B| / min(|A|,|B|): a short document pasted inside a
    long one scores near-1 containment while its symmetric Jaccard
    can sit far below any dedup threshold, so a Jaccard-only
    pipeline ships the duplicated content twice. Same LSH candidate
    machinery as ``dedup_jaccard_verified`` (band collisions bound
    the pair space), exact set intersection on candidates only;
    emits both scores plus the ``is_asymmetric`` flag marking
    exactly the pairs Jaccard-dedup would miss.

    Scale note: resemblance-biased MinHash banding under-recalls
    extreme subset pairs (their signatures differ by design); at
    100 TB the containment tier seeds candidates from the SHORTER
    side's shingles instead (probe-side banding) — same join shape,
    different signature build."""
    st = _lsh_state(spark, sf_dir)
    scored = st["scored"]  # threshold-free scored candidates (session memo)
    containment = F.col("inter") / F.least("n1", "n2").cast("double")
    result = (
        scored.select(
            "d1",
            "d2",
            "inter",
            "n1",
            "n2",
            "jaccard",
            containment.alias("containment"),
            ((containment >= CONTAINMENT_MIN) & (F.col("jaccard") < 0.5)).alias(
                "is_asymmetric"
            ),
        )
        .filter(F.col("containment") >= CONTAINMENT_MIN)
    )
    return pin_on_first_action(result, [st["sets"]])


ORACLE_DEDUP_CONTAINMENT_PAIRS = f"""
{{shingle_cte}},
sigs AS (
  SELECT doc_id,
{_MH_COLS}
  FROM sh_sets
),
banded AS (SELECT doc_id, unnest([{_BANDS}]) AS band FROM sigs),
cands AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh_sets),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh_sets),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, inter, s1.n_sh AS n1, s2.n_sh AS n2,
       inter / CAST(s1.n_sh + s2.n_sh - inter AS DOUBLE) AS jaccard,
       inter / CAST(LEAST(s1.n_sh, s2.n_sh) AS DOUBLE) AS containment,
       inter / CAST(LEAST(s1.n_sh, s2.n_sh) AS DOUBLE) >= {CONTAINMENT_MIN}
         AND inter / CAST(s1.n_sh + s2.n_sh - inter AS DOUBLE) < 0.5 AS is_asymmetric
FROM cands JOIN inter USING (d1, d2)
JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
WHERE inter / CAST(LEAST(s1.n_sh, s2.n_sh) AS DOUBLE) >= {CONTAINMENT_MIN}
""".format(shingle_cte=_SHINGLE_CTE)


QUERIES = {
    "dedup_containment_pairs": dedup_containment_pairs,
    "incremental_dedup_ingest": incremental_dedup_ingest,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_jaccard_verified": dedup_jaccard_verified,
    "lsh_recall_eval": lsh_recall_eval,
    "dedup_clusters": dedup_clusters,
    "leakage_safe_split": leakage_safe_split,
    "dedup_lexical_vector_agreement": dedup_lexical_vector_agreement,
    "minhash_near_dupes": minhash_near_dupes,
    "simhash_buckets": simhash_buckets,
    "simhash_hamming_pairs": simhash_hamming_pairs,
}

ORACLES = {
    "dedup_containment_pairs": ORACLE_DEDUP_CONTAINMENT_PAIRS,
    "incremental_dedup_ingest": ORACLE_INCREMENTAL_DEDUP_INGEST,
    "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    "leakage_safe_split": ORACLE_LEAKAGE_SAFE_SPLIT,
    "dedup_lexical_vector_agreement": ORACLE_DEDUP_LEXICAL_VECTOR_AGREEMENT,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_ngram_jaccard": ORACLE_DEDUP_NGRAM_JACCARD,
    "dedup_jaccard_verified": ORACLE_DEDUP_JACCARD_VERIFIED,
    "lsh_recall_eval": ORACLE_LSH_RECALL_EVAL,
    "minhash_near_dupes": ORACLE_MINHASH_NEAR_DUPES,
    "simhash_buckets": ORACLE_SIMHASH_BUCKETS,
    "simhash_hamming_pairs": ORACLE_SIMHASH_HAMMING_PAIRS,
}
