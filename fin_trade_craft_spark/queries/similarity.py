"""Embedding similarity queries over ``embeddings``
(array<float> column, 64-dim, ~unit-norm, labels 0-9).

Float accumulation uses the scaled-integer scheme from
operators.similarity: products are rounded to 1e-12 units with pure
double arithmetic (identical in every engine) and summed as exact
integers — immune to both summation order and cross-engine decimal
rounding-mode differences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..operators.ranks import top_k_per_group
from ..sources.catalog import load_table, table_row_count

N_QUERIES = 10  # vec_id < 10 are the probe vectors


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


_DIMS_CACHE: dict[tuple, int] = {}


def _embedding_dims(sf_dir: str) -> int:
    """Embedding dimensionality from ONE driver-side arrow batch of
    one row — the companion catalog stat to ``table_row_count``
    (fixed-width embedding tables record dims in the table spec; the
    parquet list type doesn't carry the length, so peek one value).
    Cached per (directory, content stamp) — a same-path regeneration
    invalidates the entry (ADVICE r07); no Spark job."""
    import os

    from ..sources.catalog import path_stamp

    path = os.path.join(sf_dir, "embeddings.parquet")
    key = (path, path_stamp(path))
    cached = _DIMS_CACHE.get(key)
    if cached is None:
        import glob

        import pyarrow.parquet as pq

        part = sorted(glob.glob(os.path.join(path, "*.parquet")))[0] if os.path.isdir(path) else path
        batch = next(pq.ParquetFile(part).iter_batches(batch_size=1, columns=["embedding"]))
        cached = _DIMS_CACHE[key] = len(batch.column(0)[0])
    return cached


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return S.knn_bruteforce(emb, emb.filter(F.col("vec_id") < N_QUERIES), k=5)


_EX = """
ex AS (
  SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS v
  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i)
),
norms AS (
  SELECT vec_id,
         CAST(SUM(CAST(floor((v * v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS n2
  FROM ex GROUP BY vec_id
)
"""

ORACLE_KNN_BRUTEFORCE = f"""
WITH {_EX},
dots AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid,
         CAST(SUM(CAST(floor((q.v * c.v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS dot
  FROM ex q JOIN ex c ON q.i = c.i
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT qid, nid, dot / (SQRT(nq.n2) * SQRT(nc.n2)) AS cos_sim
  FROM dots JOIN norms nq ON qid = nq.vec_id JOIN norms nc ON nid = nc.vec_id
)
SELECT qid, rank, nid, cos_sim FROM (
  SELECT qid, nid, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components via exact scaled-integer means
    — the supervised/diagnostic centroid baseline (cluster-quality
    reporting against known labels). The IVF coarse quantizer is
    ``kmeans_centroids``, whose cell count scales with the corpus.
    posexplode keeps positions 0-based to match the oracle."""
    emb = _emb(spark, sf_dir)
    ex = emb.select("label", F.posexplode("embedding").alias("i", "v"))
    scaled = F.floor(F.col("v").cast("double") * F.lit(1e12) + F.lit(0.5)).cast("bigint")
    return ex.groupBy("label", "i").agg(
        (F.sum(scaled).cast("double") / F.lit(1e12) / F.count(F.lit(1))).alias("centroid_v"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


ORACLE_LABEL_CENTROIDS = """
SELECT label, i,
       CAST(SUM(CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1e12 / COUNT(*) AS centroid_v,
       COUNT(*) AS n_vecs
FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i)
GROUP BY label, i
"""


# ------------------------------------------------------------------
# Deterministic sample-trained k-means coarse quantizer.
#
# The r04 quantizer grouped by the dataset's fixed ``label`` column
# (~10 cells), so within-cell work in semdedup/IVF grew Θ(n²) with
# corpus size. Here the centroid count SCALES WITH THE CORPUS —
# k = ⌈n / KM_TARGET_CELL⌉ — keeping expected cell population
# constant; the within-cell pair stage is then O(n · KM_TARGET_CELL),
# linear in the corpus (the SemDeDup paper's design, Abbas et
# al. 2023 §3). Everything is deterministic and engine-portable so
# the DuckDB oracle replays the SAME training run bit-for-bit:
#
# - coordinates quantize to 1e-6 integer units → all distances and
#   centroid updates are exact int64 arithmetic (no float fold order
#   anywhere in training or assignment);
# - seeds: for each j < k, the row minimizing md5(vec_id) among
#   rows whose md5-derived hash ≡ j (mod k) — hash-mod, NOT raw
#   vec_id % k, so id structure (e.g. training on the even-id half
#   in the incremental-ingest query) can't empty residue classes;
#   spreads seeds uniformly without a total-order sort;
# - training sample: salted-md5 hash ≡ 0 (mod s) with s sized for
#   KM_SAMPLE_PER_CENTROID rows per centroid (no RNG to ship);
# - KM_ITERS Lloyd rounds; the centroid update is the exact floor of
#   the member mean (floor-division of int sums); empty cells keep
#   their previous centroid; assignment tie-break is min cid.
#
# Scale shape (Spark side): training touches only the sample — an
# Arrow-batched int64 kernel emits per-batch partial (cid, dim) sums,
# so the shuffle per Lloyd round carries O(partitions · k · dims)
# rows, never the sample itself. Final assignment is one map-only
# pass with the k×dims centroid matrix in the closure (small BY
# CONSTRUCTION: k tracks corpus/128, and at 100 TB a two-level
# hierarchical quantizer caps the matrix — noted in SCALING.md).
# ------------------------------------------------------------------

KM_TARGET_CELL = 128       # expected vectors per cell
KM_SAMPLE_PER_CENTROID = 32
KM_ITERS = 2
_QV_EXPR = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))"

# ------------------------------------------------------------------
# Quantizer tier selection (VERDICT r05 task 1). The flat build's
# centroid matrix (k×dims) ships in every assignment closure and its
# Lloyd rounds cost sample×k distances; with k ∝ corpus both grow
# without bound (~400 MB matrix at 10⁸ vectors). Above
# HIER_MIN_ROWS the cell contract for EVERY consumer (semdedup, IVF
# search, incremental ingest) comes from the two-level hierarchical
# build instead — closure ~√k×dims, per-vector assignment cost
# ~2√k distances — leaving per-cell population, and therefore all
# downstream within-cell work, unchanged (the swap is exactly the
# SCALING.md claim, proved by tests/test_hierarchical_wiring.py:
# identical dedup clusters on separable data, recall within a pinned
# bound of the flat tier, and a closure-size assertion).
#
#   spark.fin_trade_craft.quantizer = auto | flat | hierarchical
#   HIER_MIN_ROWS                   = corpus-size threshold for auto
#
# Every DuckDB-oracle'd query replays the FLAT build, so the
# threshold sits above any oracle fixture (the oracle gate runs at
# sf0.01–sf1, ≤ 20k vectors); "auto" therefore means "flat at
# verification scale, hierarchical at corpus scale". An oracle sweep
# on a replica above the threshold must force `quantizer=flat` (or
# use the hierarchical family's own oracles) — the flat replay and
# the auto tier diverge there by design.
#
# Threshold provenance (r09, sf5 replica = 100k vectors, 32 cores):
# flat build = 39.7s train + 24.5s assignment vs hierarchical =
# 15.6s total — the flat tier's n² terms (Lloyd sample ∝ k ∝ n at
# k·dims distances per row; assignment at k distances per vector)
# already dominate at 10⁵ vectors, so the crossover sits near
# 5×10⁴, not the r05 guess of 10⁶.
# ------------------------------------------------------------------
QUANTIZER_CONF = "spark.fin_trade_craft.quantizer"
HIER_MIN_ROWS = 50_000


def _quantizer_mode(spark: SparkSession, n_rows: int) -> str:
    mode = spark.conf.get(QUANTIZER_CONF, "auto")
    if mode not in ("auto", "flat", "hierarchical"):
        raise ValueError(f"{QUANTIZER_CONF} must be auto|flat|hierarchical, got {mode!r}")
    if mode != "auto":
        return mode
    return "hierarchical" if n_rows >= HIER_MIN_ROWS else "flat"


def _hash16(salt: str, cast_str: str) -> str:
    """Engine-portable 16-bit hash of vec_id from the first 4 md5
    nibbles (instr against a hex alphabet — both engines lack a
    portable hex→int). ``cast_str`` is the engine's string cast of
    vec_id. Used for seed grouping and sample selection so that id
    STRUCTURE (dense, even-only, sharded...) can never bias residue
    classes the way raw ``vec_id % k`` would."""
    md5 = f"md5('{salt}' || {cast_str})"
    nib = lambda i: f"(instr('0123456789abcdef', substr({md5}, {i}, 1)) - 1)"
    return f"({nib(1)} * 4096 + {nib(2)} * 256 + {nib(3)} * 16 + {nib(4)})"


_H16_SPARK = _hash16("", "cast(vec_id as string)")
_H16S_SPARK = _hash16("s:", "cast(vec_id as string)")
_H16_SQL = _hash16("", "CAST(vec_id AS VARCHAR)")
_H16S_SQL = _hash16("s:", "CAST(vec_id AS VARCHAR)")


def kmeans_params(n: int) -> dict:
    k = max(2, -(-n // KM_TARGET_CELL))
    return {
        "n": n,
        "k": k,
        "s": max(1, n // (KM_SAMPLE_PER_CENTROID * k)),
        "nprobe": max(2, -(-k // 8)),
    }


# Codebook memo: the k-means build is a PURE function of the
# (dataset, training filter, k) triple — training it once and
# reusing the centroid matrix across the queries that consume it
# (assignment, search, semdedup, recall eval, ingest) is exactly
# the production pattern of persisting the IVF codebook at index
# build time. The key carries a CONTENT fingerprint (row count +
# exact integer sum of ids and first components), so a dataset
# regenerated in place under the same path — even at the same
# cardinality — misses the cache.
from ..operators.memo import SessionMemo, pin_on_first_action, take_pins

_KMEANS_MEMO = SessionMemo("kmeans")


def _fingerprint(emb: DataFrame, sf_dir: str | None = None):
    """The codebook-memo content fingerprint. With ``sf_dir`` (the
    frame is the UNFILTERED embeddings table) it comes entirely from
    driver-side parquet metadata — footer row count plus the
    (file, mtime, size) stamp standing in for content sums, the same
    invalidation the catalog caches use (a same-path regeneration
    bumps the stamp) — so memo lookups cost os.stat, not a Spark
    scan. r08, VERDICT task 5: the r06 switch from path-keying to a
    content fingerprint re-scanned embeddings on EVERY trainer call
    including memo HITS — the entire kmeans_centroids bench drift
    (0.37s r5 → 0.64s r7) was that integrity scan. A filtered
    training frame still pays the exact 3-scalar aggregate (its
    content can't be read off footers)."""
    if sf_dir is not None:
        import os

        from ..sources.catalog import path_stamp, table_row_count

        path = os.path.join(sf_dir, "embeddings.parquet")
        return {
            "n": table_row_count(sf_dir, "embeddings"),
            "ids": path_stamp(path),
            "c0": "footer-stamp",
        }
    return emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vec_id").alias("ids"),
        F.sum(
            F.expr("CAST(floor(CAST(embedding[0] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)")
        ).alias("c0"),
    ).collect()[0]


def _lloyd(q: DataFrame, k: int, s: int, m: int):
    """The deterministic Lloyd build shared by the coarse quantizer
    (m = 1) and the product quantizer (m = PQ_M subspaces, trained
    independently) over a (vec_id, qv) frame of 1e-6 integer vectors.
    Seeds: per hash-mod class ``_H16 % k``, the vector with the
    smallest md5(vec_id); its m subvectors seed the m subspaces.
    Sample: salted hash ≡ 0 (mod s). KM_ITERS rounds; assignment
    takes the first minimum over cid-sorted centroids (tie → min
    cid); each round's update is the exact floor of the member mean,
    and a (subspace, centroid) with no members keeps its previous
    value. Member sums are computed distributed: each Arrow batch
    emits partial (sub, cid, j) sums, so a round shuffles
    O(batches · m · k · dims/m) rows, never the sample. Returns
    (cids int64[k'], C int64[m, k', dims/m]), k' being the number of
    non-empty seed classes."""
    import numpy as np

    seeds = (
        q.select(
            "qv",
            F.expr(f"{_H16_SPARK} % {k}").alias("grp"),
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .groupBy("grp")
        .agg(F.min_by("qv", "h").alias("qv"))
        .collect()
    )
    cent = {int(r["grp"]): np.array(r["qv"], dtype=np.int64) for r in seeds}
    cids = np.array(sorted(cent), dtype=np.int64)
    sd = len(cent[int(cids[0])]) // m
    # C[sub, j, :] is centroid cids[j] restricted to subspace sub
    C = np.stack([cent[int(c)] for c in cids]).reshape(len(cids), m, sd)
    C = C.transpose(1, 0, 2).copy()
    cid_ix = {int(c): j for j, c in enumerate(cids)}
    sample = (
        q.filter(F.expr(f"{_H16S_SPARK} % {s} = 0"))
        .select("qv")
        .localCheckpoint(eager=True)  # reused every Lloyd round
    )
    for _ in range(KM_ITERS):

        def round_fn(batches):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = S.stack_rows(pdf["qv"], np.int64).reshape(len(pdf), m, sd)
                sub_o, cid_o, j_o, sum_o, cnt_o = [], [], [], [], []
                for sub in range(m):
                    Xm = X[:, sub, :]
                    a = np.argmin(S.sq_dist(Xm, C[sub]), axis=1)
                    for jj in np.unique(a):
                        mask = a == jj
                        sub_o.extend([sub] * sd)
                        cid_o.extend([int(cids[jj])] * sd)
                        j_o.extend(range(sd))
                        sum_o.extend(Xm[mask].sum(axis=0).tolist())
                        cnt_o.extend([int(mask.sum())] * sd)
                yield pd.DataFrame(
                    {"sub": sub_o, "cid": cid_o, "j": j_o, "psum": sum_o, "pcnt": cnt_o}
                )

        upd = (
            sample.mapInPandas(round_fn, "sub long, cid long, j long, psum long, pcnt long")
            .groupBy("sub", "cid", "j")
            .agg(F.sum("psum").alias("sq"), F.sum("pcnt").alias("cnt"))
            .collect()
        )
        for r in upd:
            # exact floor of the member mean (Python // is floor div on
            # ints — identical to the oracle's posmod-subtract // form)
            C[int(r["sub"]), cid_ix[int(r["cid"])], int(r["j"])] = r["sq"] // r["cnt"]
    return cids, C


def _train_kmeans(
    spark: SparkSession, sf_dir: str, where=None, k_override: int | None = None, fp=None
):
    """Run the deterministic k-means build; returns (cids int64[k],
    C int64[k, dims], params). Centroid state lives on the driver
    between rounds (k·dims ints — bounded by design); member sums
    are computed distributed. ``where`` restricts the TRAINING set
    (e.g. the already-ingested corpus in incremental ingest);
    assignment via _cell_scores can still cover every vector.
    ``k_override`` replaces the corpus-derived k (used by the
    hierarchical quantizer's coarse level — NOT by any oracle'd
    query, whose k must replay from COUNT(*) alone)."""
    emb = _emb(spark, sf_dir)
    if where is not None:
        emb = emb.filter(where)
    if fp is None:
        fp = _fingerprint(emb, sf_dir if where is None else None)
    n_rows = fp["n"]
    memo_key = (sf_dir, n_rows, fp["ids"], fp["c0"], str(where), k_override)
    hit = _KMEANS_MEMO.get(memo_key, dataset=memo_key[0])
    if hit is not None:
        return hit
    p = kmeans_params(n_rows)
    if k_override is not None:
        p["k"] = max(2, int(k_override))
        p["s"] = max(1, p["n"] // (KM_SAMPLE_PER_CENTROID * p["k"]))
        p["nprobe"] = max(2, -(-p["k"] // 8))
    q = emb.select("vec_id", F.expr(_QV_EXPR).alias("qv"))
    cids, C = _lloyd(q, p["k"], p["s"], 1)
    out = (cids, C[0], p)
    _KMEANS_MEMO.put(memo_key, out, dataset=memo_key[0])
    return out


def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained coarse-quantizer codebook as a table: (cid, i,
    cv) with cv in exact 1e-6 integer units — what a production
    build persists and every IVF/semdedup consumer loads."""
    cids, C, _ = _train_kmeans(spark, sf_dir)
    rows = [
        (int(cid), int(i), int(C[j, i]))
        for j, cid in enumerate(cids)
        for i in range(C.shape[1])
    ]
    return spark.createDataFrame(rows, "cid long, i long, cv long")


def cells_from_codebook(codebook: DataFrame, vecs: DataFrame) -> DataFrame:
    """Nearest-cell assignment of ``vecs`` (vec_id, embedding) from a
    PERSISTED codebook table (cid, i, cv) — the consumer-side LOAD
    path of :func:`kmeans_centroids`: a production ingest reads the
    stored codebook instead of re-training, then assigns only the
    arriving batch. Bit-exact twin of the trainer-side assignment
    (same 1e-6 quantized vectors, same exact integer L2, same
    first-min tie-break over ascending cids — np.argmin returns the
    first minimum and the centroid matrix is cid-sorted). Returns
    (vec_id, cell). The codebook collect is k·dims ints — the same
    bounded closure the trainer ships (see the quantizer block
    comment); flat-tier codebooks only (the hierarchical tier
    persists a two-level codebook pair and has its own consumers)."""
    import numpy as np

    rows = codebook.collect()  # codebook-sized by design (k·dims ints)
    by_cid: dict[int, dict[int, int]] = {}
    for r in rows:
        by_cid.setdefault(int(r["cid"]), {})[int(r["i"])] = int(r["cv"])
    cids = np.array(sorted(by_cid), dtype=np.int64)
    dims = max(max(d) for d in by_cid.values()) + 1
    C = np.stack(
        [np.array([by_cid[int(c)][i] for i in range(dims)], dtype=np.int64) for c in cids]
    )

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.argmin(S.sq_dist(S.stack_rows(pdf["qv"], np.int64), C), axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "cell": cids[a]}
            )

    return vecs.select("vec_id", F.expr(_QV_EXPR).alias("qv")).mapInPandas(
        fn, "vec_id long, cell long"
    )


def _cell_scores(
    spark: SparkSession, sf_dir: str, max_rank: int, trained=None
) -> DataFrame:
    """Every vector's ``max_rank`` nearest centroid cells by exact
    integer squared L2 — rn = 1 is the IVF assignment, rn ≤ nprobe
    the search probe set. One map-only Arrow/numpy pass with the
    centroid matrix in the closure; tie-break min cid."""
    import numpy as np

    cids, C, _ = trained if trained is not None else _train_kmeans(spark, sf_dir)
    mr = min(max_rank, len(cids))

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            d2 = S.sq_dist(S.stack_rows(pdf["qv"], np.int64), C)
            n = len(pdf)
            # rank cells per vector: dist2 asc, then cid asc (cids
            # ascending makes stable argsort the exact tie-break)
            order = np.argsort(d2, axis=1, kind="stable")[:, :mr]
            rows = np.arange(n)[:, None]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), mr),
                    "label": np.repeat(pdf["label"].to_numpy(), mr),
                    "cid": cids[order].reshape(-1),
                    "dist2": d2[rows, order].reshape(-1),
                    "rn": np.tile(np.arange(1, mr + 1), n),
                }
            )

    emb = _emb(spark, sf_dir)
    return emb.select("vec_id", "label", F.expr(_QV_EXPR).alias("qv")).mapInPandas(
        fn, "vec_id long, label long, cid long, dist2 long, rn int"
    )


def ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF partition assignment: nearest k-means centroid cell per
    vector (exact integer L2) — the coarse-quantization step of the
    ANN scale path. Cell count scales with the corpus (see the
    quantizer block comment), so per-cell population stays ~
    KM_TARGET_CELL at any data size."""
    return (
        _cell_scores(spark, sf_dir, max_rank=1)
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("cid").alias("cell"), "dist2")
    )


def _hier_k1(n: int) -> int:
    """Level-1 cell count of the two-level build: ⌈√k⌉ for the flat
    design k — caps the closure-shipped matrix and the Lloyd
    training product at ~√k (see the quantizer-tier block comment)."""
    import numpy as np

    k = max(2, -(-n // KM_TARGET_CELL))
    return max(2, int(np.ceil(np.sqrt(k))))


def _cell_assignments(spark: SparkSession, sf_dir: str, where=None) -> DataFrame:
    """THE cell contract every semantic-tier consumer (semdedup,
    incremental/streaming ingest, IVF corpus bucketing) reads:
    (vec_id, cell) with ~KM_TARGET_CELL expected vectors per cell,
    from the quantizer tier the corpus size selects (flat k-means at
    verification scale, the two-level hierarchical build above
    HIER_MIN_ROWS — or whatever ``spark.fin_trade_craft.quantizer``
    forces). ``where`` restricts TRAINING only; assignment covers
    every vector. Downstream within-cell work is tier-agnostic: the
    swap changes cell IDs, not the population contract."""
    # auto mode sizes the CORPUS (not the training subset — the tier
    # must match the index the whole corpus was built with; a
    # half-corpus training filter around the threshold would
    # otherwise flip the ingest to a different tier than the stored
    # assignment, review finding r06). The size comes from the
    # catalog row count (parquet footer metadata) — r07: the tier
    # DECISION no longer costs a construction-time scan; the
    # trainers compute/memoize their own content fingerprint.
    if spark.conf.get(QUANTIZER_CONF, "auto") == "auto":
        mode = _quantizer_mode(spark, table_row_count(sf_dir, "embeddings"))
    else:
        mode = _quantizer_mode(spark, 0)
    if mode == "hierarchical":
        return hierarchical_cells(spark, sf_dir, where=where).select(
            "vec_id", F.col("cell_id").alias("cell")
        )
    trained = _train_kmeans(spark, sf_dir, where=where)
    return (
        _cell_scores(spark, sf_dir, max_rank=1, trained=trained)
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cell"))
    )


def _km_sql(train_pred: str = "TRUE", k_sql: str | None = None) -> str:
    """Shared oracle CTE block replaying the deterministic k-means
    build in pure SQL: exact integer coordinates, hash-mod seed
    spread, KM_ITERS unrolled Lloyd rounds with floor-of-mean
    updates, and a final all-vector assignment ``kranked(vec_id,
    label, cid, dist2, rn)``. ``train_pred`` restricts the TRAINING
    set (params, seeds, sample) the way _train_kmeans(where=...)
    does; assignment still covers every vector. Hot shared CTEs are
    marked MATERIALIZED: DuckDB inlines CTEs by default, and the
    multi-consumer frames (kq, kranked, the Lloyd sample) otherwise
    re-evaluate once per reference — measured 27s -> 0.2s on the
    two-level stats oracle, bit-identical results. ``k_sql`` replaces
    the corpus-derived centroid-count expression (in terms of
    COUNT(*)) the way _train_kmeans(k_override=...) does — used by
    the hierarchical level-1 oracle. Generated (like the PageRank
    oracle) because the rounds are pure repetition."""
    # Distance blocks (kd{t}, kdist) evaluate per (vector, centroid)
    # PAIR with an inline list-lambda sum over the dims, not per
    # (vector, centroid, dim) ROW (r12): the flat formulation
    # materialized n·k·dims join rows into a hash aggregate — 5.0B
    # rows at sf5 (100k vecs × 782 cells × 64 dims), which spilled
    # DuckDB's temp past the box's 77 GB and killed the sweep's
    # ivf_pq/pq_tier oracles. The pair-grain form streams n·k rows
    # (78M) through the same exact integer math — identical dist2
    # values (BIGINT products summed in any order), ~2 orders less
    # intermediate state. kq keeps the per-dim shape for the seed and
    # mean-update blocks (and external consumers); kcent keeps
    # (cid, i, cv).
    k_expr = k_sql or f"GREATEST(2, CAST(CEIL(COUNT(*) / {KM_TARGET_CELL}.0) AS BIGINT))"
    d2 = "list_sum(list_transform(range(1, len(q.ql) + 1), j -> (q.ql[j] - c.cl[j]) * (q.ql[j] - c.cl[j])))"
    head = f"""kparams AS (
  SELECT COUNT(*) AS n,
         {k_expr} AS k
  FROM embeddings WHERE {train_pred}
),
kparams2 AS MATERIALIZED (
  SELECT n, k,
         GREATEST(1, n // ({KM_SAMPLE_PER_CENTROID} * k)) AS s,
         GREATEST(2, CAST(CEIL(k / 8.0) AS BIGINT)) AS nprobe
  FROM kparams
),
kq AS MATERIALIZED (
  SELECT vec_id, label, i,
         CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS q
  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i)
),
kql AS MATERIALIZED (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS ql
  FROM embeddings
),
kseeds AS (
  SELECT {_H16_SQL} % k AS cid, arg_min(vec_id, md5(CAST(vec_id AS VARCHAR))) AS seed_vid
  FROM embeddings, kparams2 WHERE {train_pred} GROUP BY 1
),
kc0 AS MATERIALIZED (
  SELECT s.cid, q.i, q.q AS cv FROM kseeds s JOIN kq q ON q.vec_id = s.seed_vid
),
ksamp AS MATERIALIZED (SELECT vec_id FROM embeddings, kparams2
          WHERE ({train_pred}) AND {_H16S_SQL} % s = 0)"""
    body = ""
    prev = "kc0"
    for t in range(1, KM_ITERS + 1):
        body += f""",
kcl{t} AS MATERIALIZED (
  SELECT cid, list(cv ORDER BY i) AS cl FROM {prev} GROUP BY cid
),
kd{t} AS (
  SELECT q.vec_id, c.cid, {d2} AS dist2
  FROM kql q JOIN ksamp USING (vec_id), kcl{t} c
),
ka{t} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
    FROM kd{t}) WHERE rn = 1
),
ku{t} AS (
  SELECT a.cid, q.i, SUM(q.q) AS sq, COUNT(*) AS cnt
  FROM ka{t} a JOIN kq q USING (vec_id) GROUP BY 1, 2
),
kc{t} AS MATERIALIZED (
  SELECT c.cid, c.i,
         COALESCE(CAST((u.sq - (((u.sq % u.cnt) + u.cnt) % u.cnt)) // u.cnt AS BIGINT), c.cv) AS cv
  FROM {prev} c LEFT JOIN ku{t} u ON c.cid = u.cid AND c.i = u.i
)"""
        prev = f"kc{t}"
    tail = f""",
kcent AS (SELECT cid, i, cv FROM {prev}),
kcentl AS MATERIALIZED (
  SELECT cid, list(cv ORDER BY i) AS cl FROM kcent GROUP BY cid
),
kdist AS (
  SELECT q.vec_id, q.label, c.cid, {d2} AS dist2
  FROM kql q, kcentl c
),
kranked AS MATERIALIZED (
  SELECT vec_id, label, cid, CAST(dist2 AS BIGINT) AS dist2,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
  FROM kdist
)"""
    return head + body + tail


ORACLE_KMEANS_CENTROIDS = f"""
WITH {_km_sql()}
SELECT cid, i, cv FROM kcent
"""

ORACLE_IVF_ASSIGNMENTS = f"""
WITH {_km_sql()}
SELECT vec_id, label, cid AS cell, dist2 FROM kranked WHERE rn = 1
"""


IVF_K = 5


def ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IVF top-k search — the ANN scale path run as one
    plan: assign every corpus vector to its nearest k-means centroid
    cell (coarse quantization), probe each query's ``nprobe``
    preferred cells (nprobe = max(2, ⌈k/8⌉), so the probed corpus
    FRACTION shrinks as the centroid count grows with the corpus),
    and compute exact cosine ONLY against vectors in probed cells.

    Scale shape: the bucketed corpus is an equi-join on cell id —
    at 100 TB the corpus is *stored* partitioned by cell
    (TableIO.replace_where layout), probing becomes partition
    pruning, and per-cell candidate sets stay ~KM_TARGET_CELL; no
    all-pairs stage anywhere. Exact scaled-integer dots keep results
    bit-reproducible at any parallelism.

    Quantizer tiers: at verification scale the flat build assigns
    and each query probes its nprobe = ⌈k/8⌉ nearest cells (the
    oracle replays this bit-for-bit). Above HIER_MIN_ROWS (or when
    forced via the quantizer conf) cells come from the two-level
    build and the probe runs in two ranked stages (FAISS
    IVF-with-coarse-pruning / multi-probe shape): (1) coarse
    multi-probe — the query's m₁ = ⌈k₁/4⌉ nearest LEVEL-1 cells by
    the k₁-centroid codebook; (2) fine ranking — the FINE cells
    under those coarse cells are ranked by exact integer L2 to a
    per-cell representative (the floor-of-mean of member vectors,
    one corpus groupBy computed at index-build time) and only the
    top nprobe = ⌈k/8⌉ fine cells are probed. The probed corpus
    FRACTION therefore matches the flat tier's ~1/8 AND the probed
    cells are (approximately) the NEAREST fine cells — the r06
    coarse-granularity recall loss (descending into ALL sub-cells
    of 2 coarse cells probed ~the right fraction but the WRONG
    cells) is gone; measured mean recall@5 is within 0.05 of the
    flat tier at sf0.1 and the sf1 replica (SCALING.md). Query-side
    cost: k₁ closure distances (the only centroid matrix shipped)
    plus m₁·k/k₁ ≈ k/4 representative distances — but those run as
    a broadcast JOIN against the persisted representative table,
    never a k×dims closure matrix, so the hierarchical tier's
    memory contract (closure ~√k×dims, assignment ~2√k per corpus
    vector) is untouched; the candidate-join tail is
    tier-identical."""
    emb = _emb(spark, sf_dir)
    # tier decision from the catalog row count (footer metadata) —
    # no construction-time scan; the trainers compute/memoize their
    # own content fingerprint when they run
    if spark.conf.get(QUANTIZER_CONF, "auto") == "auto":
        mode = _quantizer_mode(spark, table_row_count(sf_dir, "embeddings"))
    else:
        mode = _quantizer_mode(spark, 0)
    if mode == "hierarchical":
        fp = _fingerprint(emb, sf_dir)
        # persist(), not eager localCheckpoint: hc feeds the corpus
        # bucketing, the cellmap, and the representative build — one
        # materialization at first action, none at construction
        hc = hierarchical_cells(spark, sf_dir, fp=fp).persist()
        pins = [hc]
        corpus = (
            hc.select("vec_id", F.col("cell_id").alias("bucket"))
            .join(emb, "vec_id")
            .select(F.col("vec_id").alias("nid"), F.col("embedding").alias("e2"), "bucket")
        )
        k1 = _hier_k1(fp["n"])
        # coarse multi-probe: top-m1 level-1 cells (≥3 so the fine
        # ranking below always has slack over nprobe)
        m1 = max(3, -(-k1 // 4))
        # fine-probe budget: the FLAT design's nprobe for this
        # corpus (same cell count/fraction as the flat tier),
        # floored at 2·m1 — two fine cells per probed coarse cell,
        # so the fine stage keeps real choice inside every coarse
        # probe. The floor binds only at fixture scale: ⌈k/8⌉
        # overtakes 2·⌈√k/4⌉ for k ≳ 32, so the probed fraction at
        # corpus scale is the flat tier's ~1/8
        nprobe = max(kmeans_params(fp["n"])["nprobe"], 2 * m1)
        trained1 = _train_kmeans(spark, sf_dir, k_override=k1, fp=fp)
        l1 = _cell_scores(spark, sf_dir, max_rank=m1, trained=trained1)
        cellmap = hc.select(F.col("c1"), F.col("cell_id").alias("bucket")).distinct()
        # fine-cell representatives: exact floor-of-mean of member
        # vectors per dimension (same posmod floor-division rule as
        # the Lloyd update) — at 100 TB this is one corpus groupBy
        # persisted with the index, not a per-query cost
        repx = (
            hc.select("vec_id", F.col("cell_id").alias("bucket"))
            .join(emb.select("vec_id", F.expr(_QV_EXPR).alias("qv")), "vec_id")
            .select("bucket", F.posexplode("qv").alias("i", "q"))
            .groupBy("bucket", "i")
            .agg(F.sum("q").alias("sq"), F.count(F.lit(1)).alias("cnt"))
            .select(
                "bucket",
                "i",
                F.expr("(sq - (((sq % cnt) + cnt) % cnt)) div cnt").alias("rv"),
            )
        )
        qx = emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("qid"), F.posexplode(F.expr(_QV_EXPR)).alias("i", "q")
        )
        cand_cells = (
            l1.filter((F.col("vec_id") < N_QUERIES) & (F.col("rn") <= m1))
            .select(F.col("vec_id").alias("qid"), F.col("cid").alias("c1"))
            .join(cellmap, "c1")
            .select("qid", "bucket")
        )
        fine_d2 = (
            F.broadcast(cand_cells)
            .join(qx, "qid")
            .join(repx, ["bucket", "i"])
            .groupBy("qid", "bucket")
            .agg(F.sum((F.col("q") - F.col("rv")) * (F.col("q") - F.col("rv"))).alias("d2"))
        )
        probes = (
            top_k_per_group(fine_d2, ["qid"], [F.asc("d2"), F.asc("bucket")], nprobe)
            .select("qid", "bucket")
            .join(
                emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("e1")),
                "qid",
            )
        )
    else:
        trained = _train_kmeans(spark, sf_dir)
        nprobe = trained[2]["nprobe"]
        # persist(): corpus bucketing and the probe set both read
        # the assignment scores — one materialization at first
        # action, none at construction
        scores = _cell_scores(
            spark, sf_dir, max_rank=nprobe, trained=trained
        ).persist()
        pins = [scores]
        corpus = (
            scores.filter(F.col("rn") == 1)
            .select("vec_id", F.col("cid").alias("bucket"))
            .join(emb, "vec_id")
            .select(F.col("vec_id").alias("nid"), F.col("embedding").alias("e2"), "bucket")
        )
        probes = (
            scores.filter((F.col("vec_id") < N_QUERIES) & (F.col("rn") <= nprobe))
            .select(F.col("vec_id").alias("qid"), F.col("cid").alias("bucket"))
            .join(
                emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("e1")),
                "qid",
            )
        )
    cand = probes.join(corpus, "bucket").filter(F.col("qid") != F.col("nid"))
    cos = S.cosine(S.dot_exact("e1", "e2"), S.norm2_exact("e1"), S.norm2_exact("e2"))
    scored = cand.select("qid", "nid", cos.alias("cos_sim"))
    top = top_k_per_group(
        scored, ["qid"], [F.desc("cos_sim"), F.asc("nid")], IVF_K, rank_col="rank"
    ).select("qid", "rank", "nid", "cos_sim")
    return pin_on_first_action(top, pins, fill=False)


ORACLE_IVF_SEARCH = f"""
WITH {_km_sql()},
ex AS (
  SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS v
  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i)
),
vnorm AS (
  SELECT vec_id,
         CAST(SUM(CAST(floor((v * v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS n2
  FROM ex GROUP BY vec_id
),
corpus AS (SELECT vec_id AS nid, cid AS bucket FROM kranked WHERE rn = 1),
probes AS (SELECT vec_id AS qid, cid AS bucket FROM kranked, kparams2
           WHERE vec_id < {N_QUERIES} AND rn <= nprobe),
cand AS (
  SELECT qid, nid FROM probes JOIN corpus USING (bucket) WHERE qid <> nid
),
dots AS (
  SELECT c.qid, c.nid,
         CAST(SUM(CAST(floor((a.v * b.v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS dot
  FROM cand c JOIN ex a ON a.vec_id = c.qid JOIN ex b ON b.vec_id = c.nid AND a.i = b.i
  GROUP BY 1, 2
)
SELECT qid, rank, nid, cos_sim FROM (
  SELECT qid, nid, dot / (SQRT(nq.n2) * SQRT(nn.n2)) AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY dot / (SQRT(nq.n2) * SQRT(nn.n2)) DESC, nid ASC) AS rank
  FROM dots JOIN vnorm nq ON qid = nq.vec_id JOIN vnorm nn ON nid = nn.vec_id
) WHERE rank <= {IVF_K}
"""


# Covers every embeddings fixture incl. the 20k sf1 replica; larger
# corpora are deliberately refused (same policy as
# operators/dedup.EXACT_TIER_MAX_ROWS — see its comment).
EXACT_NEAR_DUPES_MAX_ROWS = 25_000


def exact_near_dupe_pairs(emb: DataFrame, max_rows: int = EXACT_NEAR_DUPES_MAX_ROWS) -> DataFrame:
    """The exact all-pairs near-dup kernel behind
    ``embedding_near_dupes`` — REFUSES corpus-sized inputs: this is
    the fixture-scale verifier tier (θ-join over n² pairs); pointing
    it at a large table would silently launch a quadratic stage, so
    it raises with the scale-path alternatives instead (shared
    policy: operators/dedup.guard_exact_tier)."""
    from pyspark.sql import Window

    from ..operators.dedup import guard_exact_tier

    emb = guard_exact_tier(
        emb,
        max_rows,
        "embedding_near_dupes",
        "srp_lsh_near_dupes (LSH candidates) or semdedup (IVF cells)",
    )
    # The θ-join plans as a broadcast nested loop whose task count is
    # the STREAMED side's partition count — a single-file parquet read
    # makes that 1 task doing all n²/2 exact dot products (measured at
    # sf1: 20k vectors → 200M pairs stuck on one core for 25+ min).
    # Spread the streamed side across the session's parallelism; the
    # broadcast side stays whole. Harmless at fixture scale, linear
    # speedup at the guard ceiling.
    n_parts = emb.sparkSession.sparkContext.defaultParallelism
    a = emb.select(F.col("vec_id").alias("d1"), F.col("embedding").alias("e1")).repartition(
        n_parts
    )
    b = emb.select(F.col("vec_id").alias("d2"), F.col("embedding").alias("e2"))
    pairs = a.join(b, F.col("d1") < F.col("d2"))
    cos = S.cosine(S.dot_exact("e1", "e2"), S.norm2_exact("e1"), S.norm2_exact("e2"))
    scored = pairs.select("d1", "d2", cos.alias("cos_sim"))
    # Distributed top-k (TakeOrderedAndProject — per-partition heaps,
    # no single-partition shuffle of the O(n^2) pair set); the rank
    # window then runs over only the 20 survivors.
    top = scored.orderBy(F.desc("cos_sim"), F.asc("d1"), F.asc("d2")).limit(20)
    w = Window.orderBy(F.desc("cos_sim"), F.asc("d1"), F.asc("d2"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "d1", "d2", "cos_sim")
    )


def embedding_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection: the top-20 most
    similar vector pairs (exact all-pairs at fixture scale — the
    verifier role; srp_lsh_near_dupes / semdedup are the 100 TB
    paths, and the kernel REFUSES corpus-sized inputs). Exact
    scaled-integer dot products; deterministic tiebreak."""
    return exact_near_dupe_pairs(_emb(spark, sf_dir))


ORACLE_EMBEDDING_NEAR_DUPES = """
WITH ex AS (
  SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS v
  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i)
),
norms AS (
  SELECT vec_id,
         CAST(SUM(CAST(floor((v * v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS n2
  FROM ex GROUP BY vec_id
),
dots AS (
  SELECT a.vec_id AS d1, b.vec_id AS d2,
         CAST(SUM(CAST(floor((a.v * b.v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS dot
  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT d1, d2, dot / (SQRT(na.n2) * SQRT(nb.n2)) AS cos_sim
  FROM dots JOIN norms na ON d1 = na.vec_id JOIN norms nb ON d2 = nb.vec_id
)
SELECT rank, d1, d2, cos_sim FROM (
  SELECT d1, d2, cos_sim,
         ROW_NUMBER() OVER (ORDER BY cos_sim DESC, d1 ASC, d2 ASC) AS rank
  FROM scored
) WHERE rank <= 20
"""


N_SRP_BITS = 32
SRP_BANDS = 4
SRP_TARGET_BUCKET = 16


def srp_band_width(n_vecs: int) -> int:
    """Adaptive LSH band width: wide enough that a RANDOM pair's
    band-collision probability keeps expected bucket populations
    ~SRP_TARGET_BUCKET, so candidate count stays ~linear in the
    corpus instead of a constant fraction of all n² pairs (with a
    fixed 8-bit band, random collisions alone are b/2^8 ≈ 1.6% of
    every pair — quadratic cost at scale; this was measured, not
    hypothetical: sf0.1→sf1 candidate growth was ~100×).

    floor(8) keeps all fixtures ≤ sf0.1 on the historical 4×8/32-bit
    layout (bit-identical results, bench comparable); both engines
    derive the width from the same COUNT via IEEE log2, which is
    exact on powers of two, so the boundary is deterministic."""
    import math

    return max(8, math.ceil(math.log2(max(n_vecs, 1) / SRP_TARGET_BUCKET)))
_HI_NIBBLES = ("8", "9", "a", "b", "c", "d", "e", "f")


def srp_lsh_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine LSH via sign-random-projection (SRP): 32 Rademacher
    hyperplanes (component ±1 decided by a nibble of md5('j:i') —
    deterministic, engine-portable, nothing to broadcast), banded
    4×8 bits; candidate pairs share ≥1 band; candidates verified
    with the exact scaled-integer cosine ≥ 0.35.

    This is the 100 TB candidate-generation path for
    ``embedding_near_dupes``: the all-pairs O(n²) verifier shrinks
    to an equi-join on band values, and only survivors pay the
    exact-cosine dot product. Band width ADAPTS to corpus size
    (``srp_band_width``) so random-collision candidates stay
    ~linear; at ≤ sf0.1 the layout is the historical 4×8/32-bit one.
    Projections use integer accumulation (scaled values × ±1), so
    signatures are bit-identical at any parallelism.

    Honest semantics note: with isotropic d=64 embeddings the
    population of cos ≥ 0.35 pairs is ITSELF Θ(n²) (a random pair
    clears 0.35 with probability ~3e-3), so any sub-quadratic
    candidate scheme necessarily trades recall on that tail — the
    production near-dup setting is high similarity (≥0.9), where
    banding recall is high and the true-pair population is
    corpus-linear. The fixture threshold stays 0.35 to keep the
    verify stage non-trivially exercised."""
    import hashlib

    import numpy as np

    emb = _emb(spark, sf_dir)
    # corpus size and dims from parquet footer metadata / one
    # driver-side arrow batch — catalog statistics, not Spark jobs:
    # query CONSTRUCTION stays job-free
    w_band = srp_band_width(table_row_count(sf_dir, "embeddings"))
    n_bits = SRP_BANDS * w_band
    # The hyperplane entries depend only on (j, i) — bits × dims
    # distinct values. Computing md5('j:i') per ROW re-hashes the
    # same 2048 strings millions of times; instead evaluate the
    # same md5 here (hashlib ≡ SQL md5) and ship the ±1 matrix in
    # the kernel closure (a few KB).
    dims = _embedding_dims(sf_dir)
    signs = np.array(
        [
            [
                1 if hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0] in _HI_NIBBLES else -1
                for j in range(n_bits)
            ]
            for i in range(dims)
        ],
        dtype=np.int64,
    )  # (dims, bits)

    # Signatures via one Arrow-batched integer matmul per partition —
    # the 32-projection sum as scaled_int64 @ signs. Replaces the
    # r02 shape (posexplode → 32 element_at aggregates → groupBy):
    # same integer values bit-for-bit (floor(v*1e12+0.5) then exact
    # int64 adds, order-free), but one BLAS-style pass instead of
    # 32 codegen'd array lookups per exploded row, and no
    # (n·dims)-row explode shuffle at all. Measured at sf0.1:
    # signature stage 3.5s → ~1s.
    def sig_fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            e = S.stack_rows(pdf["embedding"], np.float64)
            scaled = np.floor(e * 1e12 + 0.5).astype(np.int64)  # ≡ F.floor(cast double)
            bits = (scaled @ signs) > 0  # (n, bits) bool
            sig_strs = ["".join("1" if b else "0" for b in row) for row in bits]
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "sig": sig_strs})

    # Materialize: sigs feeds both sides of the candidate self-join;
    # without this the signature kernel runs twice. persist() keeps
    # construction job-free.
    sigs = emb.select("vec_id", "embedding").mapInPandas(
        sig_fn, "vec_id long, sig string"
    ).persist()
    bands = F.array(
        *[
            F.concat_ws("|", F.lit(str(b)), F.substring("sig", b * w_band + 1, w_band))
            for b in range(SRP_BANDS)
        ]
    )
    banded = sigs.select("vec_id", F.explode(bands).alias("band"))
    cands = (
        banded.select(F.col("vec_id").alias("d1"), "band")
        .join(banded.select(F.col("vec_id").alias("d2"), "band"), "band")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    a = emb.select(F.col("vec_id").alias("d1"), F.col("embedding").alias("e1"))
    b = emb.select(F.col("vec_id").alias("d2"), F.col("embedding").alias("e2"))
    pairs = cands.join(a, "d1").join(b, "d2")
    # verify via the vectorized exact-cosine kernel — bit-identical
    # to the HOF-expression form (same fixed-point sums), but one
    # numpy pass per batch instead of three interpreted 64-element
    # folds per candidate pair (the verify stage dominated sf1 wall)
    # No fill: the band self-join's two sides are the identical
    # subplan — Spark plans a ReusedExchange over the persisted
    # signature frame, so the kernel already runs once; a fill's
    # count() is a pure extra pass (A/B at sf0.1, 4 reps: filled
    # 1.69s vs 0.98s median — same verdict as the simhash band
    # join, opposite of the minhash chain whose three consumers are
    # distinct plans). The pin is there for the release.
    dupes = S.cosine_pairs_kernel(pairs).filter(F.col("cos_sim") >= 0.35)
    return pin_on_first_action(dupes, [sigs], fill=False)


ORACLE_SRP_LSH_NEAR_DUPES = """
WITH wb AS (
  -- adaptive band width, same formula both engines: IEEE log2 is
  -- exact on powers of two, so the ceil boundary is deterministic
  SELECT GREATEST(8, CAST(ceil(log2(COUNT(*) / 16.0)) AS BIGINT)) AS w
  FROM embeddings
),
ex AS (
  SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS v
  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i)
),
sums AS (
  SELECT vec_id, j,
         SUM(CAST(floor(v * 1e12 + 0.5) AS BIGINT) *
             (CASE WHEN substr(md5(j || ':' || i), 1, 1) IN ('8','9','a','b','c','d','e','f')
                   THEN 1 ELSE -1 END)) AS s
  FROM ex, wb, LATERAL (SELECT unnest(range(0, 4 * wb.w)) AS j)
  GROUP BY vec_id, j
),
sigs AS (
  SELECT vec_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS sig
  FROM sums GROUP BY vec_id
),
banded AS (
  SELECT vec_id, b || '|' || substr(sig, CAST(b * wb.w + 1 AS INT), CAST(wb.w AS INT)) AS band
  FROM sigs, wb, LATERAL (SELECT unnest(range(0, 4)) AS b)
),
cands AS (
  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
  FROM banded a JOIN banded b ON a.band = b.band AND a.vec_id < b.vec_id
),
norms AS (
  SELECT vec_id, CAST(SUM(CAST(floor((v * v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS n2
  FROM ex GROUP BY vec_id
),
dots AS (
  SELECT c.d1, c.d2,
         CAST(SUM(CAST(floor((a.v * b.v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS dot
  FROM cands c JOIN ex a ON a.vec_id = c.d1 JOIN ex b ON b.vec_id = c.d2 AND a.i = b.i
  GROUP BY 1, 2
)
SELECT d1, d2, dot / (SQRT(na.n2) * SQRT(nb.n2)) AS cos_sim
FROM dots JOIN norms na ON d1 = na.vec_id JOIN norms nb ON d2 = nb.vec_id
WHERE dot / (SQRT(na.n2) * SQRT(nb.n2)) >= 0.35
"""


def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation — recall@k of the IVF tier against the
    exact brute-force top-k, per query vector. This is the harness a
    pipeline runs after (re)building the coarse quantizer to decide
    whether nprobe / centroid count still meet the recall budget.

    Scale shape: both sides are top-k result sets (queries × k rows
    — benchmark-sized, NOT corpus-sized), so the comparison join is
    trivially broadcast; the cost is the two searches themselves,
    each already scale-shaped (IVF probes buckets, brute force is
    the deliberate exact baseline)."""
    exact = knn_bruteforce(spark, sf_dir).select("qid", "nid")
    ivf = ivf_search(spark, sf_dir)
    approx = ivf.select("qid", "nid", F.lit(1).alias("hit"))
    recall = (
        exact.join(F.broadcast(approx), ["qid", "nid"], "left")
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
        )
        .select(
            "qid",
            "k",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("k").cast("double")).alias("recall_at_k"),
        )
    )
    return pin_on_first_action(recall, take_pins(ivf), fill=False)


ORACLE_ANN_RECALL = f"""
WITH exact_k AS (
  SELECT qid, nid FROM ({ORACLE_KNN_BRUTEFORCE})
), ivf_k AS (
  SELECT qid, nid, 1 AS hit FROM ({ORACLE_IVF_SEARCH})
)
SELECT e.qid, COUNT(*) AS k,
       CAST(SUM(COALESCE(i.hit, 0)) AS BIGINT) AS n_hits,
       CAST(SUM(COALESCE(i.hit, 0)) AS DOUBLE) / COUNT(*) AS recall_at_k
FROM exact_k e LEFT JOIN ivf_k i ON e.qid = i.qid AND e.nid = i.nid
GROUP BY e.qid
"""


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization with exact error
    accounting — the embedding-compression step of a vector-store
    build (4× smaller, dot products in int8 SIMD at serve time):
    scale = max|v| / 127, q_i = floor(v_i/scale + 0.5) clamped to
    [-127, 127] (explicit floor(+0.5) — engines disagree on round()
    half-rule), error_i = v_i − q_i·scale.

    Reported per vector: the scale, max absolute error (order-free
    exact max) and the reconstruction MSE via the engine's
    scaled-integer sum (order-independent double accumulation).
    All-zero vectors quantize to zeros with scale 0 (guarded).

    Scale shape: pure per-row expressions, no shuffle, no state —
    a map-only pass over the corpus."""
    emb = _emb(spark, sf_dir)
    scale = F.expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE),"
        " (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE)))) / 127.0"
    )
    d = emb.select("vec_id", "embedding", scale.alias("scale"))
    q = F.expr(
        "transform(embedding, x -> CAST(greatest(-127, least(127,"
        " floor(CAST(x AS DOUBLE) / scale + 0.5))) AS BIGINT))"
    )
    d = d.withColumn(
        "q", F.when(F.col("scale") > 0, q).otherwise(F.expr("transform(embedding, x -> CAST(0 AS BIGINT))"))
    )
    err2 = F.expr(
        "CAST(aggregate(zip_with(embedding, q, (x, qi) ->"
        " CAST(floor(((CAST(x AS DOUBLE) - qi * scale) * (CAST(x AS DOUBLE) - qi * scale))"
        " * 1e12 + 0.5) AS BIGINT)), CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE) / 1e12"
    )
    max_err = F.expr(
        "aggregate(zip_with(embedding, q, (x, qi) ->"
        " abs(CAST(x AS DOUBLE) - qi * scale)), CAST(0.0 AS DOUBLE),"
        " (acc, v) -> greatest(acc, v))"
    )
    return d.select(
        "vec_id",
        "scale",
        F.expr("size(q)").alias("dims"),
        max_err.alias("max_abs_err"),
        (err2 / F.expr("size(q)")).alias("mse"),
    ).orderBy("vec_id")


ORACLE_EMBEDDING_QUANTIZE_INT8 = """
WITH d AS (
  SELECT vec_id, embedding,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
           (acc, x) -> greatest(acc, x)) / 127.0 AS scale
  FROM embeddings
), qd AS (
  SELECT vec_id, embedding, scale,
         CASE WHEN scale > 0 THEN
           list_transform(embedding, x -> CAST(greatest(-127, least(127,
             floor(CAST(x AS DOUBLE) / scale + 0.5))) AS BIGINT))
         ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS q
  FROM d
)
SELECT vec_id, scale,
       len(q) AS dims,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(range(1, len(q) + 1),
           i -> abs(CAST(embedding[i] AS DOUBLE) - q[i] * scale))),
         (acc, v) -> greatest(acc, v)) AS max_abs_err,
       CAST(list_sum(list_transform(range(1, len(q) + 1),
         i -> CAST(floor(((CAST(embedding[i] AS DOUBLE) - q[i] * scale)
              * (CAST(embedding[i] AS DOUBLE) - q[i] * scale)) * 1e12 + 0.5) AS BIGINT)))
         AS DOUBLE) / 1e12 / len(q) AS mse
FROM qd
ORDER BY vec_id
"""


SQ8_M = 20  # quantized-candidate pool per query before exact re-rank


def sq8_rerank_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-domain ANN: asymmetric SQ8 search — score FLOAT
    queries against the int8-quantized corpus (the 4×-smaller serve
    copy ``embedding_quantize_int8`` builds), take the top-M
    candidate pool per query by the approximate dot product, then
    exact-cosine re-rank only that pool to the final top-5. This is
    the standard two-tier vector-store read path (FAISS SQ8 + ADC
    refine): the full corpus is touched only in compressed form;
    exact math runs on M rows per query.

    All arithmetic is the repo's order-independent fixed-point
    discipline (floor(x·1e12 + 0.5) summed as BIGINT) so both the
    candidate SELECTION and the re-rank are bit-identical across
    engines. Scale shape: the 10-row query side broadcasts and the
    corpus streams map-only through quantize+score (never shuffled);
    the two top-k windows act on M-bounded per-query rows."""
    emb = _emb(spark, sf_dir)
    scale = F.expr(
        "aggregate(cvec, CAST(0.0 AS DOUBLE),"
        " (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE)))) / 127.0"
    )
    corpus = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("cvec"))
    corpus = corpus.withColumn("cscale", scale)
    corpus = corpus.withColumn(
        "cdeq",
        F.when(
            F.col("cscale") > 0,
            F.expr(
                "transform(cvec, x -> CAST(greatest(-127, least(127,"
                " floor(CAST(x AS DOUBLE) / cscale + 0.5))) AS BIGINT) * cscale)"
            ),
        ).otherwise(F.expr("transform(cvec, x -> CAST(0.0 AS DOUBLE))")),
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    pairs = corpus.crossJoin(F.broadcast(q)).filter(F.col("qid") != F.col("nid"))
    cand = pairs.select(
        "qid", "nid", "qvec", "cvec", S.dot_exact("qvec", "cdeq").alias("approx_dot")
    )
    cand = top_k_per_group(
        cand, ["qid"], [F.desc("approx_dot"), F.asc("nid")], SQ8_M, rank_col="arank"
    )
    cos = S.cosine(S.dot_exact("qvec", "cvec"), S.norm2_exact("qvec"), S.norm2_exact("cvec"))
    scored = cand.select("qid", "nid", "approx_dot", cos.alias("cos_sim"))
    return top_k_per_group(
        scored, ["qid"], [F.desc("cos_sim"), F.asc("nid")], 5, rank_col="rank"
    ).select("qid", "rank", "nid", "cos_sim", "approx_dot")


ORACLE_SQ8_RERANK_SEARCH = f"""
WITH cq AS (
  SELECT vec_id AS nid, embedding AS cvec,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
           (acc, x) -> greatest(acc, x)) / 127.0 AS cscale
  FROM embeddings
), cd AS (
  SELECT nid, cvec,
         CASE WHEN cscale > 0 THEN
           list_transform(cvec, x -> CAST(greatest(-127, least(127,
             floor(CAST(x AS DOUBLE) / cscale + 0.5))) AS BIGINT) * cscale)
         ELSE list_transform(cvec, x -> CAST(0.0 AS DOUBLE)) END AS cdeq
  FROM cq
), qs AS (
  SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {N_QUERIES}
), ap AS (
  SELECT qid, nid, qvec, cvec,
         CAST(list_sum(list_transform(range(1, len(qvec) + 1),
           i -> CAST(floor((CAST(qvec[i] AS DOUBLE) * cdeq[i]) * 1e12 + 0.5) AS BIGINT)))
           AS DOUBLE) / 1e12 AS approx_dot
  FROM qs, cd WHERE qid <> nid
), cand AS (
  SELECT * FROM (
    SELECT qid, nid, qvec, cvec, approx_dot,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx_dot DESC, nid) AS arank
    FROM ap
  ) WHERE arank <= {SQ8_M}
), ex AS (
  SELECT qid, nid, approx_dot,
         (CAST(list_sum(list_transform(range(1, len(qvec) + 1),
            i -> CAST(floor((CAST(qvec[i] AS DOUBLE) * CAST(cvec[i] AS DOUBLE)) * 1e12 + 0.5) AS BIGINT)))
            AS DOUBLE) / 1e12)
         / (SQRT(CAST(list_sum(list_transform(range(1, len(qvec) + 1),
              i -> CAST(floor((CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)) * 1e12 + 0.5) AS BIGINT)))
              AS DOUBLE) / 1e12)
            * SQRT(CAST(list_sum(list_transform(range(1, len(cvec) + 1),
              i -> CAST(floor((CAST(cvec[i] AS DOUBLE) * CAST(cvec[i] AS DOUBLE)) * 1e12 + 0.5) AS BIGINT)))
              AS DOUBLE) / 1e12)) AS cos_sim
  FROM cand
)
SELECT qid, rank, nid, cos_sim, approx_dot FROM (
  SELECT qid, nid, cos_sim, approx_dot,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
  FROM ex
) WHERE rank <= 5
"""


# ------------------------------------------------------------------
# Product quantization (Jégou et al. 2011) — the third rung of the
# compressed-ANN ladder (int8 SQ → SQ8 rerank → PQ/ADC): split each
# vector into PQ_M subvectors, k-means each subspace independently
# (PQ_K centroids, exact 1e-6 integer coordinates, the SAME
# deterministic seed/sample/floor-of-mean scheme as the coarse
# quantizer so the oracle replays it bit-for-bit), store the corpus
# as PQ_M uint8-sized codes per vector, and answer queries with an
# asymmetric-distance (ADC) table scan: per query, one PQ_M×PQ_K
# exact integer lookup table; per corpus vector, PQ_M table adds.
#
# Scale shape: codes are PQ_M bytes/vector vs 4·dims for raw floats
# (32× at 64-dim) — at 100 TB the ADC scan reads the CODES table
# (map-only, LUT in closure), the raw corpus only for final rerank.
# Training state is PQ_M·PQ_K·sub_dims ints on the driver; each
# Lloyd round shuffles only per-batch partial sums (the same bounded
# contract as _train_kmeans). No stage grows faster than the corpus.
# ------------------------------------------------------------------

PQ_M = 8          # subspaces (dims must divide evenly)
PQ_K = 16         # centroids per subspace → 4-bit codes
PQ_ITERS = KM_ITERS  # the oracle unroll; _lloyd runs KM_ITERS rounds for both trainers
PQ_TOPK = 10
PQ_SHORTLIST = 50  # ADC candidates kept per query before exact rerank

_PQ_MEMO = SessionMemo("pq")


def _train_pq(spark: SparkSession, sf_dir: str):
    """The product-quantizer codebook: ``_lloyd`` with m = PQ_M
    subspaces and k = PQ_K, sample stride s = n // (32·PQ_K);
    returns (cids int64[k'], C int64[PQ_M, k', sub_dims], sub_dims).
    Every choice is replayable in SQL (ORACLE_PQ_* unroll the
    rounds). Memoized on the content fingerprint like _KMEANS_MEMO:
    training once per dataset is the production pattern (the
    codebook is an index-build artifact)."""
    emb = _emb(spark, sf_dir)
    fp = _fingerprint(emb, sf_dir)
    memo_key = (sf_dir, fp["n"], fp["ids"], fp["c0"])
    hit = _PQ_MEMO.get(memo_key, dataset=memo_key[0])
    if hit is not None:
        return hit
    dims = _embedding_dims(sf_dir)
    if dims % PQ_M:
        raise ValueError(f"dims={dims} not divisible by PQ_M={PQ_M}")
    s = max(1, fp["n"] // (KM_SAMPLE_PER_CENTROID * PQ_K))
    q = emb.select("vec_id", F.expr(_QV_EXPR).alias("qv"))
    cids, C = _lloyd(q, PQ_K, s, PQ_M)
    out = (cids, C, dims // PQ_M)
    _PQ_MEMO.put(memo_key, out, dataset=memo_key[0])
    return out


def pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained product-quantizer codebook as a table: (sub, cid,
    i, cv) with i the GLOBAL dimension index (sub·sub_dims + j) and
    cv in exact 1e-6 integer units — the index-build artifact every
    PQ consumer (encode, ADC search) loads."""
    cids, C, sd = _train_pq(spark, sf_dir)
    rows = [
        (int(m), int(cid), int(m * sd + j), int(C[m, jj, j]))
        for m in range(PQ_M)
        for jj, cid in enumerate(cids)
        for j in range(sd)
    ]
    return spark.createDataFrame(rows, "sub long, cid long, i long, cv long")


def _pq_adc_ranked(
    spark: SparkSession, sf_dir: str, topn: int, ivf: bool = False
) -> DataFrame:
    """Shared ADC scan: encode the corpus (argmin centroid per
    subspace, tie → min cid), build each query's exact-integer ADC
    lookup table, scan codes summing PQ_M table entries, and rank
    per query by approximate squared L2 (ties → min nid), keeping
    rank ≤ ``topn``. Queries are the shared probe set (vec_id <
    N_QUERIES), self excluded. With ``ivf=True`` the scan first
    assigns each corpus vector its coarse k-means cell and scores it
    ONLY for queries probing that cell (nprobe nearest cells per
    query) — the IVF-PQ pruning stage; the shared arithmetic (LUT,
    encode, tie-breaks) is identical in both modes by construction.

    Scale shape: one map-only Arrow pass over the corpus does
    [assign +] encode + ADC + LOCAL top-n (both codebooks ride in
    the closure); the global window ranks n·|queries| rows per
    batch, never the corpus — ``S.topk_scan``, scanning PQ_M-byte
    codes instead of 4·dims-byte vectors."""
    import numpy as np

    cids, C, sd = _train_pq(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    q = emb.select("vec_id", F.expr(_QV_EXPR).alias("qv"))
    qids, Qm = S.probe_matrix(q.filter(F.col("vec_id") < N_QUERIES), "vec_id", "qv", np.int64)
    Q = Qm.reshape(len(qids), PQ_M, sd)
    # LUT[t, m, jj] = Σ_j (Q[t,m,j] − C[m,jj,j])² — exact int64
    lut = np.einsum("tmj,tmj->tm", Q, Q)[:, :, None] - 2 * np.einsum(
        "tmj,mkj->tmk", Q, C
    ) + np.einsum("mkj,mkj->mk", C, C)[None, :, :]
    if ivf:
        kcids, KC, kp = _train_kmeans(spark, sf_dir)
        nprobe = min(kp["nprobe"], len(kcids))
        # query probe cells (driver-side: |queries|×k distances —
        # the same closure-bounded matrix the assignment kernel ships)
        probe_order = np.argsort(S.sq_dist(Qm, KC), axis=1, kind="stable")[:, :nprobe]
        probe_cells = kcids[probe_order]

    def score(pdf):
        Xf = S.stack_rows(pdf["qv"], np.int64)
        X = Xf.reshape(len(pdf), PQ_M, sd)
        codes = np.stack(
            [np.argmin(S.sq_dist(X[:, m, :], C[m]), axis=1) for m in range(PQ_M)], axis=1
        )
        adc = lut[:, np.arange(PQ_M)[None, :], codes].sum(axis=2)
        if not ivf:
            return adc, None
        # coarse cell per vector: only queries probing it score it
        cell = kcids[np.argmin(S.sq_dist(Xf, KC), axis=1)]
        return adc, np.stack([np.isin(cell, probe_cells[t]) for t in range(len(qids))])

    return S.topk_scan(q, qids, score, topn, "adc_dist2", "long", desc=False)


def _exact_rerank(spark: SparkSession, sf_dir: str, short: DataFrame) -> DataFrame:
    """Shared rerank tail: the (qid, nid, adc_dist2) shortlist joins
    the corpus on nid and the broadcast query frame on qid; exact
    squared L2 is a zip_with/aggregate over 1e-6-scaled int64
    components — whole-stage codegen, no Python. Touches
    shortlist·|queries| raw vectors, never the corpus."""
    emb = _emb(spark, sf_dir)
    q = emb.select("vec_id", F.expr(_QV_EXPR).alias("qv"))
    corp = q.select(F.col("vec_id").alias("nid"), F.col("qv").alias("nqv"))
    qdf = q.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qqv")
    )
    ex = (
        short.select("qid", "nid", "adc_dist2")
        .join(corp, "nid")
        .join(F.broadcast(qdf), "qid")
        .withColumn(
            "l2_dist2",
            F.expr(
                "aggregate(zip_with(qqv, nqv, (a, b) -> (a - b) * (a - b)),"
                " 0L, (acc, x) -> acc + x)"
            ),
        )
    )
    return top_k_per_group(
        ex, ["qid"], [F.asc("l2_dist2"), F.asc("nid")], PQ_TOPK, rank_col="rank"
    ).select("qid", "rank", "nid", "adc_dist2", "l2_dist2")


def pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure compressed-domain PQ search: top-{PQ_TOPK} per query by
    ADC distance alone — the code-scan building block (its recall is
    bounded by the 4·PQ_M-bit code budget; production serving reranks
    the shortlist, see ``pq_rerank_search``)."""
    return _pq_adc_ranked(spark, sf_dir, PQ_TOPK).select(
        "qid", "rank", "nid", "adc_dist2"
    )


def pq_rerank_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ serving path (Jégou et al. 2011 §IV): ADC scan keeps a
    {PQ_SHORTLIST}-candidate shortlist per query in the compressed
    domain, then EXACT integer squared-L2 against the raw vectors of
    only the shortlist reranks to the final top-{PQ_TOPK}. At 100 TB
    the rerank join touches PQ_SHORTLIST·|queries| raw vectors — the
    corpus is only ever read as codes."""
    return _exact_rerank(
        spark, sf_dir, _pq_adc_ranked(spark, sf_dir, PQ_SHORTLIST)
    )


def _pq_sql() -> str:
    """Oracle CTE block replaying the PQ build: per-subspace Lloyd
    rounds (the _km_sql scheme with a ``sub`` grouping key), corpus
    encode, and the final codes table ``pqcodes(vec_id, sub, code)``
    plus trained codebook ``pqcent(sub, cid, i, cv)``."""
    head = f"""pqparams AS (
  SELECT COUNT(*) AS n,
         GREATEST(1, COUNT(*) // ({KM_SAMPLE_PER_CENTROID} * {PQ_K})) AS s
  FROM embeddings
),
pqq AS MATERIALIZED (
  SELECT vec_id, i, i // ((len(embedding)) // {PQ_M}) AS sub,
         CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS q
  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i)
),
pqseeds AS (
  SELECT {_H16_SQL} % {PQ_K} AS cid, arg_min(vec_id, md5(CAST(vec_id AS VARCHAR))) AS seed_vid
  FROM embeddings GROUP BY 1
),
pqc0 AS (
  SELECT q.sub, s.cid, q.i, q.q AS cv FROM pqseeds s JOIN pqq q ON q.vec_id = s.seed_vid
),
pqsamp AS MATERIALIZED (SELECT vec_id FROM embeddings, pqparams WHERE {_H16S_SQL} % s = 0)"""
    body = ""
    prev = "pqc0"
    for t in range(1, PQ_ITERS + 1):
        body += f""",
pqd{t} AS (
  SELECT q.vec_id, q.sub, c.cid, SUM((q.q - c.cv) * (q.q - c.cv)) AS dist2
  FROM pqq q JOIN pqsamp USING (vec_id) JOIN {prev} c ON q.i = c.i AND q.sub = c.sub
  GROUP BY 1, 2, 3
),
pqa{t} AS (
  SELECT vec_id, sub, cid FROM (
    SELECT vec_id, sub, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2, cid) AS rn
    FROM pqd{t}) WHERE rn = 1
),
pqu{t} AS (
  SELECT a.sub, a.cid, q.i, SUM(q.q) AS sq, COUNT(*) AS cnt
  FROM pqa{t} a JOIN pqq q ON a.vec_id = q.vec_id AND a.sub = q.sub GROUP BY 1, 2, 3
),
pqc{t} AS (
  SELECT c.sub, c.cid, c.i,
         COALESCE(CAST((u.sq - (((u.sq % u.cnt) + u.cnt) % u.cnt)) // u.cnt AS BIGINT), c.cv) AS cv
  FROM {prev} c LEFT JOIN pqu{t} u ON c.sub = u.sub AND c.cid = u.cid AND c.i = u.i
)"""
        prev = f"pqc{t}"
    tail = f""",
pqcent AS MATERIALIZED (SELECT sub, cid, i, cv FROM {prev}),
pqencd AS (
  SELECT q.vec_id, q.sub, c.cid, SUM((q.q - c.cv) * (q.q - c.cv)) AS dist2
  FROM pqq q JOIN pqcent c ON q.i = c.i AND q.sub = c.sub
  GROUP BY 1, 2, 3
),
pqcodes AS MATERIALIZED (
  SELECT vec_id, sub, cid AS code FROM (
    SELECT vec_id, sub, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2, cid) AS rn
    FROM pqencd) WHERE rn = 1
)"""
    return head + body + tail


ORACLE_PQ_CODEBOOK = f"""
WITH {_pq_sql()}
SELECT sub, cid, i, cv FROM pqcent
"""

ORACLE_PQ_ADC_SEARCH = f"""
WITH {_pq_sql()},
pqlut AS (
  SELECT q.vec_id AS qid, c.sub, c.cid, SUM((q.q - c.cv) * (q.q - c.cv)) AS d2
  FROM pqq q JOIN pqcent c ON q.i = c.i AND q.sub = c.sub
  WHERE q.vec_id < {N_QUERIES}
  GROUP BY 1, 2, 3
),
pqadc AS (
  SELECT l.qid, co.vec_id AS nid, CAST(SUM(l.d2) AS BIGINT) AS adc_dist2
  FROM pqcodes co JOIN pqlut l ON l.sub = co.sub AND l.cid = co.code
  WHERE co.vec_id <> l.qid
  GROUP BY 1, 2
)
SELECT qid, rank, nid, adc_dist2 FROM (
  SELECT qid, nid, adc_dist2,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_dist2, nid) AS rank
  FROM pqadc
) WHERE rank <= {PQ_TOPK}
"""

ORACLE_PQ_RERANK_SEARCH = f"""
WITH {_pq_sql()},
pqlut AS (
  SELECT q.vec_id AS qid, c.sub, c.cid, SUM((q.q - c.cv) * (q.q - c.cv)) AS d2
  FROM pqq q JOIN pqcent c ON q.i = c.i AND q.sub = c.sub
  WHERE q.vec_id < {N_QUERIES}
  GROUP BY 1, 2, 3
),
pqadc AS (
  SELECT l.qid, co.vec_id AS nid, CAST(SUM(l.d2) AS BIGINT) AS adc_dist2
  FROM pqcodes co JOIN pqlut l ON l.sub = co.sub AND l.cid = co.code
  WHERE co.vec_id <> l.qid
  GROUP BY 1, 2
),
short AS (
  SELECT qid, nid, adc_dist2 FROM (
    SELECT qid, nid, adc_dist2,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_dist2, nid) AS arank
    FROM pqadc
  ) WHERE arank <= {PQ_SHORTLIST}
),
pqex AS (
  SELECT s.qid, s.nid, s.adc_dist2,
         CAST(SUM((qq.q - nq.q) * (qq.q - nq.q)) AS BIGINT) AS l2_dist2
  FROM short s
  JOIN pqq qq ON qq.vec_id = s.qid
  JOIN pqq nq ON nq.vec_id = s.nid AND nq.i = qq.i
  GROUP BY 1, 2, 3
)
SELECT qid, rank, nid, adc_dist2, l2_dist2 FROM (
  SELECT qid, nid, adc_dist2, l2_dist2,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY l2_dist2, nid) AS rank
  FROM pqex
) WHERE rank <= {PQ_TOPK}
"""


def ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the canonical 100-TB ANN serving architecture
    (Jégou et al. 2011 §V; the FAISS IVFPQ index), composed from the
    repo's two trained quantizers: the coarse k-means index prunes
    the corpus to each query's nprobe nearest cells, the PRODUCT
    quantizer scans only those cells in the compressed domain
    (PQ_M-byte codes, per-query ADC lookup table), and the
    shortlist is reranked by exact integer squared L2 on raw
    vectors. Implementation IS ``pq_rerank_search`` with the
    ``ivf=True`` pruning mode of the shared ADC scan — one
    arithmetic path for both serving tiers, so a fix to the
    encode/LUT/rerank math cannot fork them.

    Scale shape: per query the corpus fraction touched is
    ~nprobe/k — and since nprobe = max(2, ⌈k/8⌉) tracks k, that
    fraction stays ~1/8 as the corpus grows; within the probed
    cells the scan reads codes (32× less than raw floats); full-
    precision reads are shortlist-sized. Both quantizer builds
    replay bit-for-bit in the oracle (the _km_sql and _pq_sql CTE
    generators composed in one WITH)."""
    return _exact_rerank(
        spark, sf_dir, _pq_adc_ranked(spark, sf_dir, PQ_SHORTLIST, ivf=True)
    )


ORACLE_IVF_PQ_SEARCH = f"""
WITH {_km_sql()},
{_pq_sql()},
qkd AS (
  SELECT q.vec_id AS qid, c.cid, SUM((q.q - c.cv) * (q.q - c.cv)) AS d2
  FROM kq q JOIN kcent c ON q.i = c.i
  WHERE q.vec_id < {N_QUERIES}
  GROUP BY 1, 2
),
qprobe AS MATERIALIZED (
  SELECT qid, cid AS cell FROM (
    SELECT qid, cid,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, cid) AS prn
    FROM qkd
  ) r, kparams2 WHERE prn <= LEAST(nprobe, k)
),
vcell AS MATERIALIZED (SELECT vec_id, cid AS cell FROM kranked WHERE rn = 1),
cand AS MATERIALIZED (
  SELECT p.qid, v.vec_id AS nid
  FROM qprobe p JOIN vcell v ON v.cell = p.cell
  WHERE v.vec_id <> p.qid
),
pqlut AS MATERIALIZED (
  SELECT q.vec_id AS qid, c.sub, c.cid, SUM((q.q - c.cv) * (q.q - c.cv)) AS d2
  FROM pqq q JOIN pqcent c ON q.i = c.i AND q.sub = c.sub
  WHERE q.vec_id < {N_QUERIES}
  GROUP BY 1, 2, 3
),
pqadc AS (
  SELECT ca.qid, ca.nid, CAST(SUM(l.d2) AS BIGINT) AS adc_dist2
  FROM cand ca
  JOIN pqcodes co ON co.vec_id = ca.nid
  JOIN pqlut l ON l.qid = ca.qid AND l.sub = co.sub AND l.cid = co.code
  GROUP BY 1, 2
),
short AS MATERIALIZED (
  SELECT qid, nid, adc_dist2 FROM (
    SELECT qid, nid, adc_dist2,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_dist2, nid) AS arank
    FROM pqadc
  ) WHERE arank <= {PQ_SHORTLIST}
),
pqex AS (
  SELECT s.qid, s.nid, s.adc_dist2,
         CAST(SUM((qq.q - nq.q) * (qq.q - nq.q)) AS BIGINT) AS l2_dist2
  FROM short s
  JOIN pqq qq ON qq.vec_id = s.qid
  JOIN pqq nq ON nq.vec_id = s.nid AND nq.i = qq.i
  GROUP BY 1, 2, 3
)
SELECT qid, rank, nid, adc_dist2, l2_dist2 FROM (
  SELECT qid, nid, adc_dist2, l2_dist2,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY l2_dist2, nid) AS rank
  FROM pqex
) WHERE rank <= {PQ_TOPK}
"""


# ------------------------------------------------------------------
# Johnson–Lindenstrauss random projection (Achlioptas 2003 database-
# friendly variant: Rademacher ±1 entries) — the sketch-BEFORE-ANN
# rung: project 64-dim vectors to JL_DIMS=16 exact-integer
# coordinates with a deterministic md5-derived sign matrix (the SRP
# trick, kept as coordinates instead of collapsed to sign bits), and
# search in the sketch space. 4× less data scanned per distance; at
# 100 TB the projected table is the first-pass filter the full
# vectors never have to serve.
# ------------------------------------------------------------------

JL_DIMS = 16


def _jl_signs(dims: int):
    """The (dims × JL_DIMS) ±1 projection matrix — entry (i, j) from
    a nibble of md5('jl:j:i'), identical in hashlib and SQL md5."""
    import hashlib

    import numpy as np

    return np.array(
        [
            [
                1
                if hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[0] in _HI_NIBBLES
                else -1
                for j in range(JL_DIMS)
            ]
            for i in range(dims)
        ],
        dtype=np.int64,
    )


def _l2_topk(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Exact integer squared-L2 top-k per probe query (ties → min
    nid, self excluded) — the TRUTH side for the PQ tiers, which
    rank by L2 (the cosine knn kernel is the truth for the cosine
    tiers). Runs on ``S.topk_scan`` like knn_bruteforce."""
    import numpy as np

    emb = _emb(spark, sf_dir)
    q = emb.select("vec_id", F.expr(_QV_EXPR).alias("qv"))
    qids, Qm = S.probe_matrix(q.filter(F.col("vec_id") < N_QUERIES), "vec_id", "qv", np.int64)

    def score(pdf):
        return S.sq_dist(Qm, S.stack_rows(pdf["qv"], np.int64)), None

    return S.topk_scan(q, qids, score, k, "l2_dist2", "long", desc=False).select("qid", "nid")


def pq_tier_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ-family quality report — recall@{PQ_TOPK} of each
    compressed serving tier against the EXACT L2 truth, in one
    table: ``pq_adc`` (pure code scan), ``pq_rerank`` (full-scan
    shortlist + exact rerank), ``ivf_pq`` (cell-pruned shortlist +
    exact rerank). This is the harness a deployment runs after
    retuning PQ_M/PQ_K/nprobe — the three rows quantify exactly
    what the code budget costs and what rerank/pruning buy back
    (the per-tier floors pinned in pytest read these numbers).

    Output per tier: n_queries, sum_hits (exact integer),
    mean_recall (= sum_hits / (k·n_queries), deterministic
    division), min_recall. Truth and tiers all reuse the trained
    codebooks (memoized), so the report costs three scans + one
    truth pass — all map-only with bounded closures."""
    truth = _l2_topk(spark, sf_dir, PQ_TOPK)
    tiers = (
        pq_adc_search(spark, sf_dir).select(F.lit("pq_adc").alias("tier"), "qid", "nid")
        .unionByName(
            pq_rerank_search(spark, sf_dir).select(
                F.lit("pq_rerank").alias("tier"), "qid", "nid"
            )
        )
        .unionByName(
            ivf_pq_search(spark, sf_dir).select(
                F.lit("ivf_pq").alias("tier"), "qid", "nid"
            )
        )
    )
    hits = (
        tiers.join(truth, ["qid", "nid"], "left_semi")
        .groupBy("tier", "qid")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    # every (tier, qid) must appear even at zero hits
    domain = tiers.select("tier", "qid").distinct()
    per_q = domain.join(hits, ["tier", "qid"], "left").select(
        "tier", "qid", F.coalesce("hits", F.lit(0)).alias("hits")
    )
    return per_q.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("hits").alias("sum_hits"),
        F.round(
            F.sum("hits").cast("double") / (F.lit(float(PQ_TOPK)) * F.count(F.lit(1))),
            9,
        ).alias("mean_recall"),
        F.round(F.min(F.col("hits").cast("double") / F.lit(float(PQ_TOPK))), 9).alias(
            "min_recall"
        ),
    )


ORACLE_PQ_TIER_RECALL = f"""
WITH rtq AS MATERIALIZED (
  -- own exploded-coordinate CTE: DuckDB rejects nested WITHs that
  -- shadow outer names, and the tier subqueries each carry their
  -- full build chains (pqq etc.) in their own scopes
  SELECT vec_id, i, CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS q
  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i)
),
l2truth AS MATERIALIZED (
  SELECT qid, nid FROM (
    SELECT q.vec_id AS qid, c.vec_id AS nid,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY SUM((q.q - c.q) * (q.q - c.q)), c.vec_id) AS rank
    FROM rtq q JOIN rtq c ON q.i = c.i AND q.vec_id <> c.vec_id
    WHERE q.vec_id < {N_QUERIES}
    GROUP BY 1, 2
  ) WHERE rank <= {PQ_TOPK}
),
tiers AS MATERIALIZED (
  SELECT 'pq_adc' AS tier, qid, nid FROM ({{adc}})
  UNION ALL
  SELECT 'pq_rerank', qid, nid FROM ({{rerank}})
  UNION ALL
  SELECT 'ivf_pq', qid, nid FROM ({{ivfpq}})
),
hits AS (
  SELECT t.tier, t.qid, COUNT(*) AS hits
  FROM tiers t JOIN l2truth u ON t.qid = u.qid AND t.nid = u.nid
  GROUP BY 1, 2
),
dom AS (SELECT DISTINCT tier, qid FROM tiers),
per_q AS (
  SELECT d.tier, d.qid, COALESCE(h.hits, 0) AS hits
  FROM dom d LEFT JOIN hits h ON d.tier = h.tier AND d.qid = h.qid
)
SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(hits) AS BIGINT) AS sum_hits,
       ROUND(CAST(SUM(hits) AS DOUBLE) / ({PQ_TOPK}.0 * COUNT(*)), 9) AS mean_recall,
       ROUND(MIN(CAST(hits AS DOUBLE) / {PQ_TOPK}.0), 9) AS min_recall
FROM per_q GROUP BY tier
"""


ORACLE_PQ_TIER_RECALL = ORACLE_PQ_TIER_RECALL.format(
    adc=ORACLE_PQ_ADC_SEARCH, rerank=ORACLE_PQ_RERANK_SEARCH, ivfpq=ORACLE_IVF_PQ_SEARCH
)


def jl_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe JL distance-preservation audit: for every corpus
    vector (self and exact-duplicate coordinates excluded), the
    distortion ratio r = proj_dist2 / (JL_DIMS · orig_dist2) — whose
    expectation is exactly 1 for Rademacher projections — aggregated
    to (qid, n_pairs, mean_distortion, min_distortion,
    max_distortion, frac_within_half) with frac_within_half the
    fraction of pairs with r ∈ [0.5, 1.5].

    This is the JL CONTRACT, which is about distances, not neighbor
    ranking: on isotropic 64-dim data all pairwise distances
    concentrate, so a 16-dim sketch cannot rank top-k (measured
    recall@10 ≈ 0.1) — the production uses are distance-threshold
    prefilters, dedup radius tests, and diversity estimates, all of
    which this audit certifies. Means are accumulated as exact
    floor(r·1e9+0.5) int64 sums (summation-order-free, so the
    DuckDB oracle hash-matches bit-for-bit).

    Scale shape: one map-only Arrow pass projects and emits one
    PARTIAL aggregate row per (probe, batch); the final groupBy
    reduces |queries|·batches rows. Nothing corpus-sized shuffles."""
    import numpy as np
    import pandas as pd

    dims = _embedding_dims(sf_dir)
    signs = _jl_signs(dims)
    emb = _emb(spark, sf_dir)
    q = emb.select("vec_id", F.expr(_QV_EXPR).alias("qv"))
    qids, Qraw = S.probe_matrix(q.filter(F.col("vec_id") < N_QUERIES), "vec_id", "qv", np.int64)
    Qp = Qraw @ signs

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            X = S.stack_rows(pdf["qv"], np.int64)
            P = X @ signs  # (n, JL_DIMS) exact int64
            PD, OD = S.sq_dist(Qp, P), S.sq_dist(Qraw, X)
            rows = []
            for t in range(len(qids)):
                pd2, od2 = PD[t], OD[t]
                keep = (ids != qids[t]) & (od2 > 0)
                if not keep.any():
                    continue
                r = pd2[keep].astype(np.float64) / (JL_DIMS * od2[keep].astype(np.float64))
                rs = np.floor(r * 1e9 + 0.5).astype(np.int64)
                rows.append(
                    (
                        int(qids[t]),
                        int(keep.sum()),
                        int(rs.sum()),
                        float(r.min()),
                        float(r.max()),
                        int(((r >= 0.5) & (r <= 1.5)).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["qid", "n", "sum_rs", "min_r", "max_r", "n_within"],
            )

    partial = q.mapInPandas(
        scan, "qid long, n long, sum_rs long, min_r double, max_r double, n_within long"
    )
    return partial.groupBy("qid").agg(
        F.sum("n").alias("n_pairs"),
        F.round(
            F.sum("sum_rs").cast("double") / F.lit(1e9) / F.sum("n"), 9
        ).alias("mean_distortion"),
        F.round(F.min("min_r"), 9).alias("min_distortion"),
        F.round(F.max("max_r"), 9).alias("max_distortion"),
        F.round(F.sum("n_within").cast("double") / F.sum("n"), 9).alias(
            "frac_within_half"
        ),
    )


ORACLE_JL_DISTORTION_AUDIT = f"""
WITH jlex AS MATERIALIZED (
  SELECT vec_id, i, CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS q
  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i)
),
jsigns AS MATERIALIZED (
  SELECT j, i,
         CASE WHEN substr(md5('jl:' || j || ':' || i), 1, 1)
              IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END AS sgn
  FROM range(0, {JL_DIMS}) rj(j), (SELECT DISTINCT i FROM jlex) ri(i)
),
jproj AS MATERIALIZED (
  SELECT e.vec_id, s.j, SUM(e.q * s.sgn) AS p
  FROM jlex e JOIN jsigns s ON e.i = s.i
  GROUP BY 1, 2
),
jpd AS (
  SELECT qp.vec_id AS qid, cp.vec_id AS nid,
         CAST(SUM((qp.p - cp.p) * (qp.p - cp.p)) AS BIGINT) AS proj_dist2
  FROM jproj qp JOIN jproj cp ON qp.j = cp.j
  WHERE qp.vec_id < {N_QUERIES} AND qp.vec_id <> cp.vec_id
  GROUP BY 1, 2
),
jod AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS orig_dist2
  FROM jlex a JOIN jlex b ON a.i = b.i
  WHERE a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id
  GROUP BY 1, 2
),
jr AS (
  SELECT p.qid,
         CAST(p.proj_dist2 AS DOUBLE) / ({JL_DIMS} * CAST(o.orig_dist2 AS DOUBLE)) AS r
  FROM jpd p JOIN jod o ON p.qid = o.qid AND p.nid = o.nid
  WHERE o.orig_dist2 > 0
)
SELECT qid, COUNT(*) AS n_pairs,
       ROUND(CAST(SUM(CAST(floor(r * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*), 9)
         AS mean_distortion,
       ROUND(MIN(r), 9) AS min_distortion,
       ROUND(MAX(r), 9) AS max_distortion,
       ROUND(CAST(SUM(CASE WHEN r >= 0.5 AND r <= 1.5 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS frac_within_half
FROM jr GROUP BY qid
"""


SEMDEDUP_THETA = 0.40


def cell_pair_edges(v: DataFrame, theta: float) -> DataFrame:
    """Within-cell cosine-≥θ pairs (d1 < d2) over a (vec_id,
    embedding, cell) frame, as ONE vectorized numpy kernel per cell
    (the expression form — a self-join with three interpreted
    64-element HOF aggregates per pair — measured 17s at sf0.1; this
    kernel is the same exact per-product fixed-point arithmetic
    ⌊x·y·1e12+0.5⌋/1e12, an order of magnitude faster). Shared by
    ``semdedup`` and the ``corpus_build`` capstone — the quadratic
    stage stays confined within cells either way."""
    import numpy as np
    import pandas as pd

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"d1": [], "d2": []}).astype({"d1": "int64", "d2": "int64"})
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        E = S.stack_rows(pdf["embedding"].to_numpy()[order], np.float64)
        n2 = S.fixed_dot(E, E)
        d1s, d2s = [], []
        for i in range(n - 1):
            cos = S.fixed_dot(E[i], E[i + 1 :]) / (np.sqrt(n2[i]) * np.sqrt(n2[i + 1 :]))
            hit = np.nonzero(cos >= theta)[0]
            d1s.extend([ids[i]] * len(hit))
            d2s.extend(ids[i + 1 + hit])
        return pd.DataFrame({"d1": np.asarray(d1s, dtype=np.int64),
                             "d2": np.asarray(d2s, dtype=np.int64)})

    return v.groupBy("cell").applyInPandas(cell_pairs, "d1 long, d2 long")


# Session-scoped memo of the full-corpus semantic-dedup state (r08
# verdict task 1, the twin of queries/dedup._LSH_MEMO): the
# (vec_id, embedding, cell) frame, the within-cell cosine-≥θ edge
# set, and (lazily) its connected components. One bench/gate pass
# otherwise rebuilds the cell-pair kernel for `semdedup` AND again
# inside `corpus_build`'s stage 3. Key includes the quantizer-mode
# conf (it changes the cell contract) and the embeddings footer
# stamp (regenerated data misses). Frames are lazily persisted —
# a memo miss adds no construction jobs beyond the codebook
# training every consumer already declares; the memo owns them, so
# no query result's GC evicts them.
_SEM_MEMO = SessionMemo("sem")


def _sem_state(spark: SparkSession, sf_dir: str) -> dict:
    import os

    from ..sources.catalog import path_stamp

    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        path_stamp(os.path.join(sf_dir, "embeddings.parquet")),
        spark.conf.get(QUANTIZER_CONF, "auto"),
    )
    st = _SEM_MEMO.get(key, dataset=key[1])
    if st is None:
        cells = _cell_assignments(spark, sf_dir)
        emb = _emb(spark, sf_dir).select("vec_id", "embedding")
        v = emb.join(cells, "vec_id").persist()
        edges = cell_pair_edges(v, SEMDEDUP_THETA).persist()
        st = {"v": v, "edges": edges, "cc": None}
        _SEM_MEMO.put(key, st, dataset=key[1])
    return st


def _sem_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized connected components over the full-corpus semantic
    edge set (labels keyed ``vec_id``)."""
    from ..operators.dedup import connected_components

    st = _sem_state(spark, sf_dir)
    if st["cc"] is None:
        st["cc"] = (
            connected_components(st["edges"])
            .withColumnRenamed("doc_id", "vec_id")
            .persist()
        )
    return st["cc"]


def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) — semantic deduplication via
    embedding clusters: coarse-quantize every vector to its nearest
    centroid cell (the IVF assignment), compute exact cosine ONLY
    within each cell, connect pairs above θ into duplicate groups
    (connected components), and keep one representative (min id) per
    group. Completes the dedup ladder: exact → MinHash → SimHash →
    SRP → semantic.

    Scale shape: the quadratic pair stage is confined WITHIN cells —
    that is SemDeDup's entire point — and the quantizer's cell count
    scales with the corpus (k = ⌈n/KM_TARGET_CELL⌉ flat; the
    two-level hierarchical tier above HIER_MIN_ROWS keeps the same
    population contract with a √k-bounded closure — see
    ``_cell_assignments``), so per-cell population stays ~constant
    and total pair work is O(n · KM_TARGET_CELL), linear in the
    corpus. One shuffle keys the self-join on the cell id; the
    component loop is the shared operators/dedup.connected_components.
    Output covers EVERY vector (singletons are their own kept
    cluster)."""
    st = _sem_state(spark, sf_dir)
    v = st["v"]
    comp = _sem_components(spark, sf_dir)
    out = v.select("vec_id", "cell").join(comp, "vec_id", "left")
    out = out.withColumn("cluster_id", F.coalesce("cluster_id", F.col("vec_id")))
    sizes = out.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        out.join(sizes, "cluster_id")
        .select(
            "vec_id",
            "cell",
            "cluster_id",
            "cluster_size",
            (F.col("vec_id") == F.col("cluster_id")).alias("is_kept"),
        )
    )


ORACLE_SEMDEDUP = f"""
WITH {_km_sql()},
ex AS (
  SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS v
  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i)
),
vnorm AS (
  SELECT vec_id,
         CAST(SUM(CAST(floor((v * v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS n2v
  FROM ex GROUP BY vec_id
),
cells AS MATERIALIZED (
  SELECT vec_id, cid AS cell FROM kranked WHERE rn = 1
),
-- candidate pairs FIRST (within-cell, O(n·cell)), coordinates
-- joined onto the bounded pair set: with the coordinate self-join
-- written first, DuckDB's planner hash-joined ex⋈ex ON i (64 keys
-- × n² rows per key) before the cell restriction could prune —
-- >400s at the sf1 replica vs seconds in this order
cpairs AS MATERIALIZED (
  SELECT a.vec_id AS d1, b.vec_id AS d2
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
),
pdots AS (
  SELECT p.d1, p.d2,
         CAST(SUM(CAST(floor((a.v * b.v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS dot
  FROM cpairs p
  JOIN ex a ON a.vec_id = p.d1
  JOIN ex b ON b.vec_id = p.d2 AND b.i = a.i
  GROUP BY 1, 2
),
dup_pairs AS (
  SELECT d1, d2
  FROM pdots JOIN vnorm na ON d1 = na.vec_id JOIN vnorm nb ON d2 = nb.vec_id
  WHERE dot / (SQRT(na.n2v) * SQRT(nb.n2v)) >= {SEMDEDUP_THETA}
),
edges AS MATERIALIZED (
  SELECT d1 AS src, d2 AS dst FROM dup_pairs
  UNION
  SELECT d2, d1 FROM dup_pairs
),
rec AS (
  WITH RECURSIVE reach(node, root) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
  )
  SELECT node AS vec_id, MIN(root) AS cluster_id FROM reach GROUP BY node
),
allv AS (
  SELECT c.vec_id, c.cell, COALESCE(r.cluster_id, c.vec_id) AS cluster_id
  FROM cells c LEFT JOIN rec r ON c.vec_id = r.vec_id
),
csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM allv GROUP BY cluster_id)
SELECT vec_id, cell, cluster_id, cluster_size, vec_id = cluster_id AS is_kept
FROM allv JOIN csize USING (cluster_id)
"""


def semdedup_quality_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based cluster representative selection — the FineWeb
    refinement of SemDeDup's keep-min-id rule: within each semantic
    duplicate cluster keep the member with the HIGHEST quality score
    (length/stopword/type-token heuristics from
    ``doc_quality_scores``; embeddings and documents share the id
    space), tie-broken by min id. Reports the kept doc, its quality,
    and the cluster's exact mean quality (fixed-point 1e-12 sum —
    order-free) so a curation pipeline can audit what the dedup
    kept vs discarded.

    Scale shape: one hash join of the cluster table with the
    quality table on id, a per-cluster window (clusters are
    bounded), and a per-cluster aggregate — all keyed shuffles; the
    expensive parts (cluster build, quality scoring) are the
    upstream queries it composes."""
    from pyspark.sql import Window

    from .text import doc_quality_scores

    clusters = semdedup(spark, sf_dir).select("vec_id", "cluster_id", "cluster_size")
    q = doc_quality_scores(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"), "quality_score"
    )
    j = clusters.join(q, "vec_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("vec_id")
    )
    fx = F.floor(F.col("quality_score") * F.lit(1e12) + F.lit(0.5)).cast("bigint")
    agg = j.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_scored"),
        (F.sum(fx).cast("double") / F.lit(1e12) / F.count(F.lit(1))).alias("mean_quality"),
    )
    keep = (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            "cluster_size",
            F.col("vec_id").alias("kept_vec_id"),
            F.col("quality_score").alias("kept_quality"),
        )
    )
    return keep.join(agg, "cluster_id").select(
        "cluster_id", "cluster_size", "n_scored", "kept_vec_id", "kept_quality", "mean_quality"
    )


def _semdedup_quality_oracle() -> str:
    from .text import ORACLE_DOC_QUALITY_SCORES

    return f"""
WITH clusters AS MATERIALIZED ({ORACLE_SEMDEDUP}),
quality AS MATERIALIZED (SELECT doc_id AS vec_id, quality_score FROM ({ORACLE_DOC_QUALITY_SCORES})),
j AS MATERIALIZED (
  -- MATERIALIZED throughout: j is referenced twice (agg, keep) and
  -- DuckDB otherwise re-inlines the ENTIRE nested semdedup chain
  -- (k-means unroll + recursive component closure) per reference —
  -- measured >30 min at the sf1 replica vs seconds materialized
  SELECT c.vec_id, c.cluster_id, c.cluster_size, q.quality_score
  FROM clusters c JOIN quality q USING (vec_id)
),
agg AS (
  SELECT cluster_id, COUNT(*) AS n_scored,
         CAST(SUM(CAST(floor(quality_score * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1e12 / COUNT(*) AS mean_quality
  FROM j GROUP BY cluster_id
),
keep AS (
  SELECT cluster_id, cluster_size, vec_id AS kept_vec_id,
         quality_score AS kept_quality
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                 ORDER BY quality_score DESC, vec_id ASC) AS rn
    FROM j
  ) WHERE rn = 1
)
SELECT cluster_id, cluster_size, n_scored, kept_vec_id, kept_quality, mean_quality
FROM keep JOIN agg USING (cluster_id)
"""


def hierarchical_cells(spark: SparkSession, sf_dir: str, where=None, fp=None) -> DataFrame:
    """Two-level hierarchical coarse quantizer — the EXTREME-scale
    tier above the flat k-means build. The flat path ships a k×dims
    centroid matrix in the assignment closure and pays sample×k
    distances per Lloyd round; with k ∝ corpus both grow without
    bound (at 10⁸ vectors the matrix alone is ~400 MB). Two levels
    cap both: level 1 trains only k₁ = ⌈√k⌉ coarse centroids
    (closure ~√k×dims), level 2 trains each coarse cell's own
    sub-centroids LOCALLY inside one task (the cell's ~n/k₁ members
    fit one worker's numpy heap), and assignment costs k₁ + k/k₁ ≈
    2√k distance evaluations per vector instead of k. Exactly the
    FAISS IVF-on-IVF / SCANN two-level shape.

    Level 1 reuses the oracle'd deterministic machinery verbatim
    (k_override=⌈√k⌉); level 2 replays the SAME algorithm — hash-mod
    seeds over md5(vec_id), 2 Lloyd rounds, exact int64 arithmetic,
    min-cid tie-break — per cell in numpy, so the whole build is a
    pure function of the data (determinism pytest-pinned). No SQL
    oracle BY DESIGN: a nested per-cell k-means replay has no
    tractable SQL form; correctness evidence is the property suite
    (determinism, population bounds, per-level arithmetic shared
    with the bit-oracle'd flat path) — SURVEY §7.2's contract for
    recurrence islands.

    Output: (vec_id, c1, c2, cell_id) with cell_id = c1·2²⁰ + c2.

    ``where`` restricts the TRAINING set at BOTH levels (level-1
    params/seeds/sample via _train_kmeans(where=...), level-2
    seeds/sample/k₂ via a per-row train flag) while assignment
    still covers every vector — the same contract the flat build's
    ``where`` has, used by the incremental-ingest consumers.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    emb = _emb(spark, sf_dir)
    train_emb = emb.filter(where) if where is not None else emb
    if fp is None:
        fp = _fingerprint(train_emb, sf_dir if where is None else None)
    k1 = _hier_k1(fp["n"])
    trained1 = _train_kmeans(spark, sf_dir, where=where, k_override=k1, fp=fp)
    a1 = (
        _cell_scores(spark, sf_dir, max_rank=1, trained=trained1)
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("c1"))
    )
    is_train = F.lit(True) if where is None else where
    v = emb.select(
        "vec_id", F.expr(_QV_EXPR).alias("qv"), is_train.alias("is_train")
    ).join(a1, "vec_id")
    target = KM_TARGET_CELL

    def h16(salt: str, vid: int) -> int:
        return int(hashlib.md5(f"{salt}{vid}".encode()).hexdigest()[:4], 16)

    def cell_kmeans(pdf: pd.DataFrame) -> pd.DataFrame:
        c1 = int(pdf["c1"].iloc[0])
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        train = pdf["is_train"].to_numpy()[order].astype(bool)
        m = len(ids)
        m_train = int(train.sum())
        k2 = max(1, -(-m_train // target))
        if k2 == 1 or m_train == 0:
            return pd.DataFrame({"vec_id": ids, "c1": c1, "c2": np.zeros(m, dtype=np.int64)})
        X = S.stack_rows(pdf["qv"].to_numpy()[order], np.int64)
        # seeds: argmin md5 hex within each hash-mod group OVER THE
        # TRAINING ROWS — the SAME rule as the distributed level-1
        # build
        tr_idx = np.nonzero(train)[0]
        md5s = np.array([hashlib.md5(str(v).encode()).hexdigest() for v in ids[tr_idx]])
        grp = np.array([h16("", v) % k2 for v in ids[tr_idx]])
        cent = {}
        for g in np.unique(grp):
            members = np.nonzero(grp == g)[0]
            cent[int(g)] = X[tr_idx[members[np.argsort(md5s[members])[0]]]].copy()
        cids = sorted(cent)
        # sample: salted hash-mod stride over training rows, 2 Lloyd
        # rounds, exact floor-of-mean updates — mirroring _train_kmeans
        s = max(1, m_train // (KM_SAMPLE_PER_CENTROID * k2))
        samp = np.array([h16("s:", v) % s == 0 for v in ids]) & train
        Xs = X[samp] if samp.any() else X[train]
        for _ in range(KM_ITERS):
            a = np.argmin(S.sq_dist(Xs, np.stack([cent[c] for c in cids])), axis=1)
            for j in np.unique(a):
                mask = a == j
                cent[cids[j]] = np.floor_divide(Xs[mask].sum(0), int(mask.sum()))
        C = np.stack([cent[c] for c in cids])
        assign = np.asarray(cids, dtype=np.int64)[np.argmin(S.sq_dist(X, C), axis=1)]
        return pd.DataFrame({"vec_id": ids, "c1": c1, "c2": assign})

    cells = v.groupBy("c1").applyInPandas(cell_kmeans, "vec_id long, c1 long, c2 long")
    return cells.select(
        "vec_id", "c1", "c2", (F.col("c1") * F.lit(1 << 20) + F.col("c2")).alias("cell_id")
    )


def hierarchical_level1_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-level build's LEVEL-1 codebook as a table (cid, i,
    cv in exact 1e-6 integer units) — what the hierarchical tier
    persists as its coarse index, exactly as ``kmeans_centroids``
    is the flat tier's persisted codebook.

    VALUE-VERIFIED (r05 verdict task 4): level 1 is the same
    deterministic distributed machinery as the flat build, just with
    k₁ = ⌈√k⌉ centroids, so the DuckDB oracle replays the entire
    training run bit-for-bit from COUNT(*) alone (both engines
    derive k₁ via IEEE SQRT/CEIL — identical doubles). This shrinks
    the build's rows-only surface to the genuinely SQL-inexpressible
    level-2 per-cell stage (see hierarchical_cells)."""
    fp = _fingerprint(_emb(spark, sf_dir), sf_dir)
    cids, C, _ = _train_kmeans(spark, sf_dir, k_override=_hier_k1(fp["n"]), fp=fp)
    rows = [
        (int(cid), int(i), int(C[j, i]))
        for j, cid in enumerate(cids)
        for i in range(C.shape[1])
    ]
    return spark.createDataFrame(rows, "cid long, i long, cv long")


_K1_SQL = (
    f"GREATEST(2, CAST(CEIL(SQRT(GREATEST(2, "
    f"CAST(CEIL(COUNT(*) / {KM_TARGET_CELL}.0) AS BIGINT)))) AS BIGINT))"
)

ORACLE_HIERARCHICAL_LEVEL1_CENTROIDS = f"""
WITH {_km_sql(k_sql=_K1_SQL)}
SELECT cid, i, cv FROM kcent
"""


def _hier_sql(train_pred: str = "TRUE") -> str:
    """Oracle CTE chain replaying the ENTIRE two-level hierarchical
    build in SQL — level 1 via the shared ``_km_sql`` (k₁ = ⌈√k⌉),
    then level 2 as the SAME deterministic per-cell algorithm with
    the level-1 cell id ``c1`` threaded through every key: per-cell
    k₂ from the cell's training population, hash-mod seed groups
    (arg_min md5), per-cell stride sample WITH the
    empty-sample→all-train fallback, KM_ITERS unrolled Lloyd rounds
    with floor-of-mean updates and keep-previous empty cells, and a
    final all-member assignment with the min-cid tie-break. k₂=1
    (or train-empty) cells short-circuit to c2 = 0, exactly like
    the kernel. Ends with ``hcells(vec_id, c1, c2, cell_id)``."""
    head = f"""{_km_sql(train_pred=train_pred, k_sql=_K1_SQL)},
ha1 AS MATERIALIZED (SELECT vec_id, label, cid AS c1 FROM kranked WHERE rn = 1),
htrain AS MATERIALIZED (SELECT a.vec_id, a.c1 FROM ha1 a JOIN embeddings e USING (vec_id)
           WHERE {train_pred}),
hsz AS (
  SELECT c1, COUNT(*) AS m_train,
         GREATEST(1, CAST(CEIL(COUNT(*) / {KM_TARGET_CELL}.0) AS BIGINT)) AS k2
  FROM htrain GROUP BY c1
),
hmulti AS MATERIALIZED (SELECT c1, m_train, k2,
                  GREATEST(1, m_train // ({KM_SAMPLE_PER_CENTROID} * k2)) AS s
           FROM hsz WHERE k2 >= 2),
hq AS MATERIALIZED (
  SELECT a.c1, q.vec_id, q.i, q.q
  FROM kq q JOIN ha1 a USING (vec_id)
),
hseeds AS (
  SELECT t.c1, {_H16_SQL.replace("vec_id", "t.vec_id")} % m.k2 AS cid2,
         arg_min(t.vec_id, md5(CAST(t.vec_id AS VARCHAR))) AS seed_vid
  FROM htrain t JOIN hmulti m USING (c1)
  GROUP BY t.c1, 2
),
hc0 AS MATERIALIZED (
  SELECT s.c1, s.cid2, q.i, q.q AS cv
  FROM hseeds s JOIN kq q ON q.vec_id = s.seed_vid
),
hsamp0 AS MATERIALIZED (
  SELECT t.c1, t.vec_id
  FROM htrain t JOIN hmulti m USING (c1)
  WHERE {_H16S_SQL.replace("vec_id", "t.vec_id")} % m.s = 0
),
hsamp AS MATERIALIZED (
  -- empty-sample cells fall back to ALL train rows (kernel: Xs = X[samp] if samp.any() else X[train])
  SELECT c1, vec_id FROM hsamp0
  UNION ALL
  SELECT t.c1, t.vec_id FROM htrain t JOIN hmulti m USING (c1)
  WHERE NOT EXISTS (SELECT 1 FROM hsamp0 s0 WHERE s0.c1 = t.c1)
)"""
    body = ""
    prev = "hc0"
    for t in range(1, KM_ITERS + 1):
        body += f""",
hd{t} AS (
  SELECT q.c1, q.vec_id, c.cid2, SUM((q.q - c.cv) * (q.q - c.cv)) AS dist2
  FROM hq q JOIN hsamp sm ON sm.c1 = q.c1 AND sm.vec_id = q.vec_id
  JOIN {prev} c ON c.c1 = q.c1 AND q.i = c.i
  GROUP BY 1, 2, 3
),
hax{t} AS (
  SELECT c1, vec_id, cid2 FROM (
    SELECT c1, vec_id, cid2,
           ROW_NUMBER() OVER (PARTITION BY c1, vec_id ORDER BY dist2, cid2) AS rn
    FROM hd{t}) WHERE rn = 1
),
hu{t} AS (
  SELECT a.c1, a.cid2, q.i, SUM(q.q) AS sq, COUNT(*) AS cnt
  FROM hax{t} a JOIN hq q ON q.c1 = a.c1 AND q.vec_id = a.vec_id
  GROUP BY 1, 2, 3
),
hc{t} AS MATERIALIZED (
  SELECT c.c1, c.cid2, c.i,
         COALESCE(CAST((u.sq - (((u.sq % u.cnt) + u.cnt) % u.cnt)) // u.cnt AS BIGINT), c.cv) AS cv
  FROM {prev} c LEFT JOIN hu{t} u ON c.c1 = u.c1 AND c.cid2 = u.cid2 AND c.i = u.i
)"""
        prev = f"hc{t}"
    tail = f""",
hfd AS (
  SELECT q.c1, q.vec_id, c.cid2, SUM((q.q - c.cv) * (q.q - c.cv)) AS dist2
  FROM hq q JOIN {prev} c ON c.c1 = q.c1 AND q.i = c.i
  GROUP BY 1, 2, 3
),
hassign AS (
  SELECT c1, vec_id, cid2 AS c2 FROM (
    SELECT c1, vec_id, cid2,
           ROW_NUMBER() OVER (PARTITION BY c1, vec_id ORDER BY dist2, cid2) AS rn
    FROM hfd) WHERE rn = 1
),
hcells AS MATERIALIZED (
  SELECT a.vec_id, a.c1,
         COALESCE(h.c2, 0) AS c2,
         a.c1 * {1 << 20} + COALESCE(h.c2, 0) AS cell_id
  FROM ha1 a LEFT JOIN hassign h ON h.c1 = a.c1 AND h.vec_id = a.vec_id
)"""
    return head + body + tail


ORACLE_HIERARCHICAL_ASSIGNMENTS = f"""
WITH {_hier_sql()}
SELECT vec_id, c1, c2, cell_id FROM hcells
"""


def hierarchical_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-level quantizer's FULL per-vector assignment as a
    query — (vec_id, c1, c2, cell_id), the stored index table the
    hierarchical tier's consumers read. VALUE-VERIFIED end-to-end
    (r06): level 2 is the same deterministic algorithm as the
    oracle'd flat build run per level-1 cell, so the SQL replay
    just threads c1 through every key (``_hier_sql``) — the
    hierarchical tier now has NO rows-only stage at fixture scale."""
    return hierarchical_cells(spark, sf_dir)


ORACLE_HIERARCHICAL_CELL_STATS = f"""
WITH {_hier_sql()},
pops AS (SELECT cell_id, COUNT(*) AS pop FROM hcells GROUP BY cell_id)
SELECT COUNT(*) AS n_cells,
       -- c1 = cell_id >> 20 by construction: derives level-1 count
       -- from pops instead of re-evaluating the whole hcells chain
       COUNT(DISTINCT cell_id // {1 << 20}) AS n_level1_cells,
       CAST(SUM(pop) AS BIGINT) AS n_vectors,
       CAST(SUM(pop) AS DOUBLE) / COUNT(*) AS mean_pop,
       MAX(pop) AS max_pop, MIN(pop) AS min_pop
FROM pops
"""


def hierarchical_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row of build-quality stats for the two-level quantizer —
    the report a pipeline checks after (re)building the index (cell
    count vs design k, population spread, level-1 fan-out).
    Value-verified since r06 via the full two-level SQL replay
    (see hierarchical_assignments)."""
    cells = hierarchical_cells(spark, sf_dir)
    pops = cells.groupBy("cell_id").agg(F.count(F.lit(1)).alias("pop"))
    return (
        pops.agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("pop").alias("n_vectors"),
            (F.sum("pop") / F.count(F.lit(1))).alias("mean_pop"),
            F.max("pop").alias("max_pop"),
            F.min("pop").alias("min_pop"),
        )
        .crossJoin(
            F.broadcast(
                cells.select(F.countDistinct("c1").alias("n_level1_cells"))
            )
        )
        .select("n_cells", "n_level1_cells", "n_vectors", "mean_pop", "max_pop", "min_pop")
    )


# Session memo of the EVEN-trained cell assignment (the index the
# "existing corpus" of the incremental family was built with) —
# shared by incremental_semdedup_ingest and the corpus index store
# (its publish, and the stored ingest ladder's batch cells under the
# hierarchical tier), which otherwise each re-run the full assignment
# kernel per call.
_EVEN_CELLS_MEMO = SessionMemo("even_cells")


def _even_trained_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.catalog import path_stamp

    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        path_stamp(os.path.join(sf_dir, "embeddings.parquet")),
        spark.conf.get(QUANTIZER_CONF, "auto"),
    )
    df = _EVEN_CELLS_MEMO.get(key, dataset=key[1])
    if df is None:
        df = _cell_assignments(spark, sf_dir, where=F.col("vec_id") % 2 == 0).persist()
        _EVEN_CELLS_MEMO.put(key, df, dataset=key[1])
    return df


def cell_probe_new_vs_prior(v: DataFrame, theta: float) -> DataFrame:
    """Per-cell incremental probe kernel over a (vec_id, embedding,
    cell) frame where ODD ids are the arriving batch and EVEN ids
    the existing corpus: each odd vector is exact-cosine-scored
    against the cell's even members plus EARLIER odd members
    (first-wins), same fixed-point arithmetic as
    :func:`cell_pair_edges`. Returns (vec_id, cell, n_dup_matches)
    for odd ids only. Shared by ``incremental_semdedup_ingest`` and
    the ``corpus_build_ingest`` capstone (which pre-restricts ``v``
    to the stage's survivor sets — the kernel contract is unchanged
    because membership is decided by the caller)."""
    import numpy as np
    import pandas as pd

    def cell_probe(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        cell = int(pdf["cell"].iloc[0])
        odd = ids % 2 == 1
        if not odd.any():
            return pd.DataFrame(
                {"vec_id": [], "cell": [], "n_dup_matches": []}
            ).astype({"vec_id": "int64", "cell": "int64", "n_dup_matches": "int64"})
        E = S.stack_rows(pdf["embedding"].to_numpy()[order], np.float64)
        n2 = S.fixed_dot(E, E)
        out_id, out_n = [], []
        for idx in np.nonzero(odd)[0]:
            cand = (~odd) | (ids < ids[idx])
            cand[idx] = False
            n_match = 0
            if cand.any():
                cos = S.fixed_dot(E[idx], E[cand]) / (np.sqrt(n2[idx]) * np.sqrt(n2[cand]))
                n_match = int((cos >= theta).sum())
            out_id.append(int(ids[idx]))
            out_n.append(n_match)
        return pd.DataFrame(
            {"vec_id": out_id, "cell": [cell] * len(out_id), "n_dup_matches": out_n}
        )

    return v.groupBy("cell").applyInPandas(
        cell_probe, "vec_id long, cell long, n_dup_matches long"
    )


def incremental_semdedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC dedup — the embedding-tier twin of
    ``incremental_dedup_ingest`` and the production shape for
    continuous corpus growth: the odd-vec_id half plays the NEW
    batch arriving against the even half as the EXISTING corpus
    whose IVF index (k-means centroids, trained on the existing
    half ONLY) is already built. Each new vector is assigned to its
    nearest existing cell and exact-cosine-scored ONLY against that
    cell's members (existing vectors plus earlier new vectors —
    first-wins within the batch, same contract as the MinHash
    ingest); it is ingested iff no match ≥ θ exists.

    Scale shape: the historical corpus is never re-embedded,
    re-assigned, or re-scored — it is touched only as the probe
    TARGET inside the batch's cells, so probe cost is
    O(batch · cell population), proportional to the BATCH (asserted
    structurally in tests). At 100 TB the cell assignment is a
    stored table partitioned by cell; a batch probe is partition
    pruning + the per-cell kernel. The cell contract follows the
    active quantizer tier (``_cell_assignments`` — the index the
    existing corpus built with), trained on the EXISTING half only."""
    cells = _even_trained_cells(spark, sf_dir)
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    v = emb.join(cells, "vec_id")
    probed = cell_probe_new_vs_prior(v, SEMDEDUP_THETA)
    return probed.select(
        "vec_id", "cell", "n_dup_matches", (F.col("n_dup_matches") == 0).alias("ingested")
    ).orderBy("vec_id")


ORACLE_INCREMENTAL_SEMDEDUP_INGEST = f"""
WITH {_km_sql(train_pred="vec_id % 2 = 0")},
ex AS (
  SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS v
  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i)
),
vnorm AS (
  SELECT vec_id,
         CAST(SUM(CAST(floor((v * v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS n2
  FROM ex GROUP BY vec_id
),
cells AS MATERIALIZED (SELECT vec_id, cid AS cell FROM kranked WHERE rn = 1),
-- candidate pairs first, then coordinates (same join-order fix as
-- ORACLE_SEMDEDUP — the coordinate-first form planned ex⋈ex ON i
-- before the cell restriction)
cpairs AS MATERIALIZED (
  SELECT a.vec_id AS d1, b.vec_id AS d2
  FROM cells a JOIN cells b ON a.cell = b.cell
  WHERE b.vec_id % 2 = 1 AND (a.vec_id % 2 = 0 OR a.vec_id < b.vec_id)
        AND a.vec_id <> b.vec_id
),
pdots AS (
  SELECT p.d1, p.d2,
         CAST(SUM(CAST(floor((a.v * b.v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS dot
  FROM cpairs p
  JOIN ex a ON a.vec_id = p.d1
  JOIN ex b ON b.vec_id = p.d2 AND b.i = a.i
  GROUP BY 1, 2
),
matches AS (
  SELECT d2, COUNT(*) AS n
  FROM pdots JOIN vnorm na ON d1 = na.vec_id JOIN vnorm nb ON d2 = nb.vec_id
  WHERE dot / (SQRT(na.n2) * SQRT(nb.n2)) >= {SEMDEDUP_THETA}
  GROUP BY d2
)
SELECT c.vec_id, c.cell, COALESCE(m.n, 0) AS n_dup_matches,
       COALESCE(m.n, 0) = 0 AS ingested
FROM cells c LEFT JOIN matches m ON c.vec_id = m.d2
WHERE c.vec_id % 2 = 1
ORDER BY c.vec_id
"""


RRF_K = 60  # the standard reciprocal-rank-fusion constant (Cormack
# et al. 2009) — large enough that rank-1 vs rank-2 differences
# don't dominate the fused score
RRF_CAND_K = 20  # candidates fetched per retriever before fusion
RRF_TOP_K = 10


def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval with reciprocal-rank fusion
    — the RAG-stack retrieval shape: BM25 top-20 (the registered
    query set over the documents table) fused with embedding-cosine
    top-20 (the query DOCS' OWN vectors — documents and embeddings
    share the id space), rrf = Σ 1/(60 + rank) over the retrievers
    that returned the doc, re-ranked to a final top-10.

    Determinism: both candidate lists are deterministic (BM25 ranks
    by the 9-dp-rounded score with doc_id tiebreak; cosine by exact
    scaled-integer arithmetic), the fused score is a fixed-order sum
    of two exact small-integer reciprocals rounded to 9 dp, and the
    final rank breaks ties by doc_id.

    Scale shape: BM25's exploded token stream filters to the query
    vocabulary first (posting fetch); the knn kernel ships the
    3-vector query matrix in the closure and never shuffles the
    corpus; the fusion joins two ≤ k·|queries|-row frames — tiny by
    construction — and the final window partitions by qid."""
    from .text import BM25_QUERIES

    return hybrid_rrf_on(
        _docs_for_bm25(spark, sf_dir),
        _emb(spark, sf_dir).select("vec_id", "embedding"),
        BM25_QUERIES,
    )


def hybrid_rrf_on(
    docs: DataFrame,
    emb: DataFrame,
    queries: dict[int, tuple],
    cand_k: int = RRF_CAND_K,
    top_k: int = RRF_TOP_K,
) -> DataFrame:
    """Hybrid-RRF core over arbitrary documents/embeddings frames —
    factored (like ``bm25_on``) so the planted-relevance quality
    harness exercises the EXACT production fusion; the query set
    supplies both the lexical terms (values) and the semantic query
    vectors (keys, looked up in the embedding table)."""
    from .text import bm25_on

    qids = sorted(queries)
    lex = bm25_on(docs, queries, top_k=cand_k).select(
        F.col("qid").cast("bigint").alias("qid"),
        F.col("doc_id"),
        F.col("rank").alias("lex_rank"),
    )
    sem = S.knn_bruteforce(emb, emb.filter(F.col("vec_id").isin(qids)), k=cand_k).select(
        F.col("qid").cast("bigint").alias("qid"),
        F.col("nid").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )
    fused = lex.join(sem, ["qid", "doc_id"], "full_outer")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("sem_rank")), F.lit(0.0)),
        9,
    )
    return top_k_per_group(
        fused.withColumn("rrf_score", rrf),
        ["qid"],
        [F.desc("rrf_score"), F.asc("doc_id")],
        top_k,
        rank_col="rank",
    ).select("qid", "rank", "doc_id", "rrf_score", "lex_rank", "sem_rank")


CLUSTER_LABEL_TOP_K = 5


def semantic_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c-TF-IDF cluster labeling (the BERTopic recipe, Grootendorst
    2022): after coarse-quantizing the corpus into semantic cells,
    label each cell with its most DISTINCTIVE terms — per-cell term
    frequency weighted by an inverse cell-frequency factor
    ln(1 + n_cells/df) — the corpus-understanding report a curation
    pipeline runs to see WHAT each embedding cluster contains
    (topic drift, contamination, single-language cells). Top-{K}
    terms per cell, ties broken by term for determinism; the score
    is rounded to 9dp BEFORE ranking so order never hinges on libm
    ulps (the bm25_retrieval discipline).

    Scale shape: one token explode (linear in corpus bytes) keyed
    by cell, two hash aggregates ((cell, term) and term), a 1-row
    broadcast for n_cells, and a per-cell top-K window — partitioned
    by cell, never global. Cells come from the tier-appropriate
    quantizer via ``_cell_assignments``; the oracle replays the flat
    build (fixture scale) with the shared ``_km_sql`` block."""
    from ..functions import text as T

    cells = _cell_assignments(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "text"
    )
    toks = docs.join(cells, "vec_id").select(
        "cell", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("cell", "term").agg(F.count(F.lit(1)).alias("tf_cell"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_cells"))
    ncells = cells.agg(F.count_distinct("cell").alias("n_cells"))
    score = F.round(
        F.col("tf_cell").cast("double")
        * F.log(
            F.lit(1.0) + F.col("n_cells").cast("double") / F.col("df_cells").cast("double")
        ),
        9,
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ncells))
        .withColumn("score", score)
    )
    w = Window.partitionBy("cell").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= CLUSTER_LABEL_TOP_K)
        .select("cell", "rank", "term", "tf_cell", "df_cells", "score")
    )


def _cluster_labels_oracle() -> str:
    from .text import _TOKS

    return f"""
WITH {_km_sql()},
cells AS MATERIALIZED (SELECT vec_id, cid AS cell FROM kranked WHERE rn = 1),
toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
term AS (
  SELECT c.cell, unnest(t.toks) AS term
  FROM toks t JOIN cells c ON t.doc_id = c.vec_id
),
tf AS (SELECT cell, term, COUNT(*) AS tf_cell FROM term GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df_cells FROM tf GROUP BY term),
nc AS (SELECT COUNT(DISTINCT cell) AS n_cells FROM cells),
scored AS (
  SELECT cell, term, tf_cell, df_cells,
         ROUND(CAST(tf_cell AS DOUBLE)
               * ln(1.0e0 + CAST(n_cells AS DOUBLE) / CAST(df_cells AS DOUBLE)),
               9) AS score
  FROM tf JOIN dfreq USING (term), nc
),
r AS (
  SELECT cell, term, tf_cell, df_cells, score,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT cell, rank, term, tf_cell, df_cells, score
FROM r WHERE rank <= {CLUSTER_LABEL_TOP_K}
"""


def _docs_for_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_table

    return load_table(spark, sf_dir, "documents")


def _hybrid_oracle() -> str:
    from .text import (
        _BM25_1MB,
        _BM25_K1P1,
        BM25_B,
        BM25_K1,
        BM25_QUERIES,
        _TOKS,
    )

    qids = sorted(BM25_QUERIES)
    terms_in = ", ".join(f"'{t}'" for t in sorted({t for ts in BM25_QUERIES.values() for t in ts}))
    qvals = ", ".join(f"({qid}, '{t}')" for qid, ts in BM25_QUERIES.items() for t in ts)
    qid_in = ", ".join(str(q) for q in qids)
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
  SELECT qid, doc_id,
         list_sort(list(struct_pack(term := term, c := c))) AS cs
  FROM contrib GROUP BY qid, doc_id
),
bm AS (
  SELECT qid, doc_id,
         ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(cs, s -> s['c'])), (a, x) -> a + x), 9) AS bm25
  FROM per
),
lex AS (
  SELECT CAST(qid AS BIGINT) AS qid, doc_id, rank AS lex_rank FROM (
    SELECT qid, doc_id, bm25,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id ASC) AS rank
    FROM bm
  ) WHERE rank <= {RRF_CAND_K}
),
ex AS (
  SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS v
  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i)
),
norms AS (
  SELECT vec_id,
         CAST(SUM(CAST(floor((v * v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS n2
  FROM ex GROUP BY vec_id
),
dots AS (
  SELECT qv.vec_id AS qid, c.vec_id AS nid,
         CAST(SUM(CAST(floor((qv.v * c.v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS dot
  FROM ex qv JOIN ex c ON qv.i = c.i
  WHERE qv.vec_id IN ({qid_in}) AND qv.vec_id <> c.vec_id
  GROUP BY 1, 2
),
cosd AS (
  SELECT qid, nid, dot / (SQRT(nq.n2) * SQRT(nc.n2)) AS cos_sim
  FROM dots JOIN norms nq ON qid = nq.vec_id JOIN norms nc ON nid = nc.vec_id
  WHERE nq.n2 > 0 AND nc.n2 > 0
),
sem AS (
  SELECT qid, nid AS doc_id, rank AS sem_rank FROM (
    SELECT qid, nid, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) AS rank
    FROM cosd
  ) WHERE rank <= {RRF_CAND_K}
),
fused AS (
  SELECT qid, doc_id, lex_rank, sem_rank,
         ROUND(COALESCE(1.0e0 / ({RRF_K} + lex_rank), 0.0e0)
               + COALESCE(1.0e0 / ({RRF_K} + sem_rank), 0.0e0), 9) AS rrf_score
  FROM lex FULL OUTER JOIN sem USING (qid, doc_id)
)
SELECT qid, rank, doc_id, rrf_score, lex_rank, sem_rank FROM (
  SELECT qid, doc_id, rrf_score, lex_rank, sem_rank,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf_score DESC, doc_id ASC) AS rank
  FROM fused
) WHERE rank <= {RRF_TOP_K}
"""


MMR_LAMBDA = 0.7  # relevance weight
MMR_ONE_MINUS_LAMBDA = 0.3  # written out (NOT 1 - MMR_LAMBDA, which
# is 0.30000000000000004 in IEEE double) so the Spark kernel and the
# SQL oracle multiply by the bit-identical constant
MMR_CAND_K = 20
MMR_M = 5  # results returned per query


def mmr_diversified_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking of semantic retrieval —
    the diversity pass a RAG stack runs after top-k: greedily pick
    the candidate maximizing λ·relevance − (1−λ)·max-cosine-to-
    already-selected, so the final m results cover distinct regions
    of embedding space instead of m near-identical hits (Carbonell &
    Goldstein 1998). Query vectors are the BM25 query docs' own
    embeddings (shared id space, same convention as
    ``hybrid_retrieval_rrf``).

    Determinism: candidate relevance is the knn kernel's exact
    scaled-integer cosine; candidate-candidate similarities use the
    identical floor(x·1e12+0.5) → int64-sum arithmetic; the greedy
    objective multiplies those exact doubles by the literal
    constants 0.7/0.3 (same IEEE ops in numpy and DuckDB); ties
    break by doc_id. The oracle unrolls the m greedy steps as CTEs.

    Scale shape: candidates come from the distributed knn kernel
    (corpus never shuffled, local top-k per batch); the greedy runs
    per-query over cand_k=20 rows inside one ``applyInPandas`` group
    — O(m·k²) on 20 vectors, partitioned by qid, so a million-query
    batch spreads across the cluster with no global stage."""
    from .text import BM25_QUERIES

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    return mmr_on(emb, sorted(BM25_QUERIES))


def mmr_on(
    emb: DataFrame,
    qids: list[int],
    cand_k: int = MMR_CAND_K,
    m: int = MMR_M,
) -> DataFrame:
    """MMR core over an arbitrary embeddings frame — factored so the
    planted-diversity pytest drives the exact production kernel."""
    import numpy as np
    import pandas as pd

    cand = S.knn_bruteforce(emb, emb.filter(F.col("vec_id").isin(qids)), k=cand_k)
    # fresh column names for the embedding lookup side — cand derives
    # from emb, so joining emb directly is an ambiguous self-join
    corp = emb.select(F.col("vec_id").alias("_cid"), F.col("embedding").alias("_cemb"))
    ce = cand.join(corp, cand["nid"] == corp["_cid"]).select(
        cand["qid"].cast("bigint").alias("qid"),
        cand["nid"].alias("doc_id"),
        cand["cos_sim"].alias("rel"),
        corp["_cemb"].alias("embedding"),
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        ids = pdf["doc_id"].to_numpy()
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        E = S.stack_rows(pdf["embedding"], np.float64)
        # exact pairwise cosines: same fixed-point arithmetic as
        # cosine_pairs_kernel / the oracle's scaled SUM
        n2 = S.fixed_dot(E, E)
        sim = S.fixed_dot(E[:, None, :], E[None, :, :]) / (np.sqrt(n2)[:, None] * np.sqrt(n2))
        remaining = np.ones(n, dtype=bool)
        # max-cosine-to-selected; -inf = empty set (step 1's penalty
        # is 0 by definition, but a NEGATIVE max over a non-empty set
        # must survive — clipping at 0 would re-rank anti-correlated
        # candidates)
        maxsim = np.full(n, -np.inf)
        out = []
        for step in range(1, min(m, n) + 1):
            pen = np.where(np.isfinite(maxsim), maxsim, 0.0)
            score = MMR_LAMBDA * rel - MMR_ONE_MINUS_LAMBDA * pen
            # argmax over remaining, ties by doc_id asc
            cand_idx = np.flatnonzero(remaining)
            order = cand_idx[np.lexsort((ids[cand_idx], -score[cand_idx]))]
            pick = order[0]
            out.append(
                (
                    int(pdf["qid"].iloc[0]),
                    step,
                    int(ids[pick]),
                    round(rel[pick], 9),
                    round(pen[pick], 9),
                    round(score[pick], 9),
                )
            )
            remaining[pick] = False
            maxsim = np.maximum(maxsim, sim[:, pick])
        return pd.DataFrame(
            out, columns=["qid", "mmr_rank", "doc_id", "rel", "pen", "mmr_score"]
        )

    return ce.groupBy("qid").applyInPandas(
        greedy,
        "qid bigint, mmr_rank int, doc_id bigint, rel double, pen double, mmr_score double",
    )


def _mmr_oracle() -> str:
    from .text import BM25_QUERIES

    qid_in = ", ".join(str(q) for q in sorted(BM25_QUERIES))
    lam, oml = f"{MMR_LAMBDA!r}e0", f"{MMR_ONE_MINUS_LAMBDA!r}e0"
    # unrolled greedy: selK = step-K pick, aK = selections so far
    steps = []
    for k in range(2, MMR_M + 1):
        steps.append(
            f"""pen{k} AS (
  SELECT c.qid, c.doc_id, MAX(s.sim) AS pen
  FROM cand c
  JOIN a{k-1} t ON c.qid = t.qid
  JOIN csim s ON s.v1 = c.doc_id AND s.v2 = t.doc_id
  WHERE NOT EXISTS (SELECT 1 FROM a{k-1} x WHERE x.qid = c.qid AND x.doc_id = c.doc_id)
  GROUP BY c.qid, c.doc_id
),
sel{k} AS (
  SELECT qid, doc_id, rel, pen, {k} AS mmr_rank, score FROM (
    SELECT p.qid, p.doc_id, c.rel, p.pen,
           {lam} * c.rel - {oml} * p.pen AS score,
           ROW_NUMBER() OVER (PARTITION BY p.qid
                              ORDER BY {lam} * c.rel - {oml} * p.pen DESC,
                                       p.doc_id ASC) AS rn
    FROM pen{k} p JOIN cand c ON p.qid = c.qid AND p.doc_id = c.doc_id
  ) WHERE rn = 1
),
a{k} AS (SELECT qid, doc_id FROM a{k-1} UNION ALL SELECT qid, doc_id FROM sel{k})"""
        )
    step_sql = ",\n".join(steps)
    union = "\nUNION ALL\n".join(
        f"SELECT qid, mmr_rank, doc_id, rel, pen, score FROM sel{k}"
        for k in range(1, MMR_M + 1)
    )
    return f"""
WITH ex AS (
  SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS v
  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i)
),
norms AS (
  SELECT vec_id,
         CAST(SUM(CAST(floor((v * v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS n2
  FROM ex GROUP BY vec_id
),
qdots AS (
  SELECT qv.vec_id AS qid, c.vec_id AS nid,
         CAST(SUM(CAST(floor((qv.v * c.v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS dot
  FROM ex qv JOIN ex c ON qv.i = c.i
  WHERE qv.vec_id IN ({qid_in}) AND qv.vec_id <> c.vec_id
  GROUP BY 1, 2
),
cand AS MATERIALIZED (
  SELECT qid, nid AS doc_id, cos_sim AS rel FROM (
    SELECT qid, nid, dot / (SQRT(nq.n2) * SQRT(nc.n2)) AS cos_sim,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY dot / (SQRT(nq.n2) * SQRT(nc.n2)) DESC,
                                       nid ASC) AS rank
    FROM qdots JOIN norms nq ON qid = nq.vec_id JOIN norms nc ON nid = nc.vec_id
    WHERE nq.n2 > 0 AND nc.n2 > 0
  ) WHERE rank <= {MMR_CAND_K}
),
cids AS (SELECT DISTINCT doc_id FROM cand),
csim AS MATERIALIZED (
  SELECT a.doc_id AS v1, b.doc_id AS v2,
         (CAST(SUM(CAST(floor((ea.v * eb.v) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12)
         / (SQRT(na.n2) * SQRT(nb.n2)) AS sim
  FROM cids a JOIN cids b ON a.doc_id <> b.doc_id
  JOIN ex ea ON ea.vec_id = a.doc_id
  JOIN ex eb ON eb.vec_id = b.doc_id AND eb.i = ea.i
  JOIN norms na ON na.vec_id = a.doc_id
  JOIN norms nb ON nb.vec_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id, na.n2, nb.n2
),
sel1 AS (
  SELECT qid, doc_id, rel, 0.0e0 AS pen, 1 AS mmr_rank, {lam} * rel AS score FROM (
    SELECT qid, doc_id, rel,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id ASC) AS rn
    FROM cand
  ) WHERE rn = 1
),
a1 AS (SELECT qid, doc_id FROM sel1),
{step_sql}
SELECT qid, mmr_rank, doc_id, ROUND(rel, 9) AS rel, ROUND(pen, 9) AS pen,
       ROUND(score, 9) AS mmr_score
FROM ({union})
"""


QUERIES = {
    "pq_codebook": pq_codebook,
    "pq_adc_search": pq_adc_search,
    "pq_rerank_search": pq_rerank_search,
    "ivf_pq_search": ivf_pq_search,
    "pq_tier_recall": pq_tier_recall,
    "jl_distortion_audit": jl_distortion_audit,
    "mmr_diversified_retrieval": mmr_diversified_retrieval,
    "hybrid_retrieval_rrf": hybrid_retrieval_rrf,
    "semdedup_quality_representatives": semdedup_quality_representatives,
    "hierarchical_level1_centroids": hierarchical_level1_centroids,
    "hierarchical_assignments": hierarchical_assignments,
    "hierarchical_cell_stats": hierarchical_cell_stats,
    "incremental_semdedup_ingest": incremental_semdedup_ingest,
    "kmeans_centroids": kmeans_centroids,
    "semdedup": semdedup,
    "semantic_cluster_labels": semantic_cluster_labels,
    "sq8_rerank_search": sq8_rerank_search,
    "embedding_quantize_int8": embedding_quantize_int8,
    "knn_bruteforce": knn_bruteforce,
    "label_centroids": label_centroids,
    "ivf_assignments": ivf_assignments,
    "ivf_search": ivf_search,
    "embedding_near_dupes": embedding_near_dupes,
    "srp_lsh_near_dupes": srp_lsh_near_dupes,
    "ann_recall": ann_recall,
}

ORACLES = {
    "pq_codebook": ORACLE_PQ_CODEBOOK,
    "pq_adc_search": ORACLE_PQ_ADC_SEARCH,
    "pq_rerank_search": ORACLE_PQ_RERANK_SEARCH,
    "ivf_pq_search": ORACLE_IVF_PQ_SEARCH,
    "pq_tier_recall": ORACLE_PQ_TIER_RECALL,
    "jl_distortion_audit": ORACLE_JL_DISTORTION_AUDIT,
    "mmr_diversified_retrieval": _mmr_oracle(),
    "hybrid_retrieval_rrf": _hybrid_oracle(),
    "semdedup_quality_representatives": _semdedup_quality_oracle(),
    "hierarchical_level1_centroids": ORACLE_HIERARCHICAL_LEVEL1_CENTROIDS,
    "hierarchical_assignments": ORACLE_HIERARCHICAL_ASSIGNMENTS,
    "hierarchical_cell_stats": ORACLE_HIERARCHICAL_CELL_STATS,
    "incremental_semdedup_ingest": ORACLE_INCREMENTAL_SEMDEDUP_INGEST,
    "kmeans_centroids": ORACLE_KMEANS_CENTROIDS,
    "semdedup": ORACLE_SEMDEDUP,
    "semantic_cluster_labels": _cluster_labels_oracle(),
    "sq8_rerank_search": ORACLE_SQ8_RERANK_SEARCH,
    "embedding_quantize_int8": ORACLE_EMBEDDING_QUANTIZE_INT8,
    "ann_recall": ORACLE_ANN_RECALL,
    "ivf_search": ORACLE_IVF_SEARCH,
    "knn_bruteforce": ORACLE_KNN_BRUTEFORCE,
    "label_centroids": ORACLE_LABEL_CENTROIDS,
    "ivf_assignments": ORACLE_IVF_ASSIGNMENTS,
    "embedding_near_dupes": ORACLE_EMBEDDING_NEAR_DUPES,
    "srp_lsh_near_dupes": ORACLE_SRP_LSH_NEAR_DUPES,
}
