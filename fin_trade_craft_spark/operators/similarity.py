"""Exact vector arithmetic and the shared top-k scan.

Every similarity score in the package uses one fixed-point scheme:
each double product is rounded to an integer number of 1e-12 units,
floor(x·y·1e12 + 0.5), and the products are summed as exact int64.
The result does not depend on summation order, partitioning or
engine, so the DuckDB oracles hash-match it bit for bit. The scheme
has two forms here:

- Spark expressions: ``dot_exact``, ``norm2_exact`` and ``cosine``;
- numpy: ``fixed_dot`` (the twin of ``dot_exact`` over the last
  axis), plus ``sq_dist`` for exact integer squared L2 to a centroid
  matrix and ``stack_rows`` to turn an Arrow list column into a
  matrix.

``topk_scan`` is the one partition-local top-k scan: the probe
matrix rides in the kernel closure, each Arrow batch of the corpus
emits only its local top-k per probe, and one per-probe window ranks
the union. ``knn_bruteforce`` and the L2/PQ scans in
``queries/similarity.py`` run on it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ranks import top_k_per_group

# Float accumulation scheme: round each double product to an
# integer number of 1e-12 units via floor(x*1e12 + 0.5) — pure IEEE
# double ops with identical results in every engine — then sum the
# resulting BIGINTs exactly. We deliberately avoid double→DECIMAL
# casts here: engines disagree on the rounding mode (HALF_UP vs
# half-even), and raw binary floats DO land on exact 1e-12 ties
# (any dyadic m/2^(s+1) with odd m), unlike decimal-valued money
# columns which provably can't tie. Scaled sums stay < 2^53, so the
# final integer→double conversion is exact.
_SCALE = "1e12"


def _scaled(prod: str) -> str:
    return f"CAST(floor(({prod}) * {_SCALE} + 0.5) AS BIGINT)"


def dot_exact(a: str, b: str) -> Column:
    """Order-independent dot product of two array<float> columns."""
    return F.expr(
        f"CAST(aggregate(zip_with({a}, {b}, (x, y) ->"
        f" {_scaled('CAST(x AS DOUBLE) * CAST(y AS DOUBLE)')}),"
        f" CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE) / {_SCALE}"
    )


def norm2_exact(a: str) -> Column:
    """Order-independent squared L2 norm of an array<float> column."""
    return F.expr(
        f"CAST(aggregate({a}, CAST(0 AS BIGINT), (acc, x) ->"
        f" acc + {_scaled('CAST(x AS DOUBLE) * CAST(x AS DOUBLE)')}) AS DOUBLE) / {_SCALE}"
    )


def cosine(dot: Column, n2a: Column, n2b: Column) -> Column:
    return dot / (F.sqrt(n2a) * F.sqrt(n2b))


def fixed_dot(A, B):
    """numpy twin of ``dot_exact`` over the last axis (``A`` and
    ``B`` broadcast): per-product floor(x·y·1e12 + 0.5) summed as
    exact int64, then one division. ``fixed_dot(E, E)`` is the twin
    of ``norm2_exact``."""
    import numpy as np

    return np.floor(A * B * 1e12 + 0.5).astype(np.int64).sum(axis=-1) / 1e12


def sq_dist(X, C):
    """Exact integer squared L2 from every row of ``X`` (n×d int64)
    to every row of ``C`` (k×d int64), as an n×k int64 matrix.
    ``np.argmin`` over axis 1 takes the first minimum, so a
    cid-sorted ``C`` breaks ties by the smaller cid."""
    return (X * X).sum(axis=1)[:, None] - 2 * (X @ C.T) + (C * C).sum(axis=1)[None, :]


def stack_rows(col, dtype):
    """One matrix row per vector of an array column (a pandas Series
    or any sequence). Vectors of different lengths raise ValueError."""
    import numpy as np

    return np.stack([np.asarray(v, dtype=dtype) for v in col])


def probe_matrix(df: DataFrame, id_col: str, vec_col: str, dtype):
    """Collect the probe set (small by contract) as (ids int64[n],
    matrix n×d); the matrix is None when the set is empty."""
    import numpy as np

    rows = df.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    return qids, (stack_rows([r[1] for r in rows], dtype) if rows else None)


def topk_scan(
    corpus: DataFrame,
    qids,
    score,
    k: int,
    out: str,
    out_type: str,
    desc: bool = True,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-``k`` corpus rows per probe: (qid, nid, ``out``, rank).

    ``score(pdf)`` maps one Arrow batch of ``corpus`` to an
    (n_probes × n_rows) score matrix and a keep mask of the same
    shape, or None to keep every row. A probe never matches its own
    id. Each batch emits only its local top-k per probe, ordered by
    score (descending when ``desc``) and then by the smaller id; the
    top-k of a union is the top-k of the local top-ks under that
    same total order, so one per-probe window over k·|probes| rows
    per batch finishes the ranking. The corpus is never shuffled."""
    import numpy as np
    import pandas as pd

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            s, keep = score(pdf)
            out_q, out_n, out_s = [], [], []
            for t in range(len(qids)):
                mask = ids != qids[t]
                if keep is not None:
                    mask &= keep[t]
                nid, st = ids[mask], s[t, mask]
                order = np.lexsort((nid, -st if desc else st))[:k]
                out_q.extend([qids[t]] * len(order))
                out_n.extend(nid[order])
                out_s.extend(st[order])
            yield pd.DataFrame({"qid": out_q, "nid": out_n, out: out_s})

    local = corpus.mapInPandas(scan, f"qid long, nid long, {out} {out_type}")
    first = F.desc(out) if desc else F.asc(out)
    return top_k_per_group(local, ["qid"], [first, F.asc("nid")], k, rank_col="rank")


def cosine_pairs_kernel(
    pairs: DataFrame, e1: str = "e1", e2: str = "e2", out: str = "cos_sim"
) -> DataFrame:
    """Arrow-batched numpy twin of
    ``cosine(dot_exact(e1,e2), norm2_exact(e1), norm2_exact(e2))``
    for PAIR frames: the same fixed-point arithmetic (``fixed_dot``),
    so results are bit-equal to the expression path, but one
    vectorized numpy pass per batch instead of three interpreted
    64-element lambda folds per ROW, which dominates verify-stage
    wall on large candidate sets. Passes every non-vector column
    through; replaces the two vector columns with ``out``.

    Stated edges of the bit-equality claim:

    - **Zero-norm vectors**: cosine is 0/0. The expression path
      yields a double NaN; this kernel also computes NaN, but Arrow's
      nan_as_null maps it to SQL NULL on the way back — NULL here vs
      NaN there. Threshold filters (``>= θ``) agree in both cases
      (NaN and NULL both fail a comparison), which is why every
      in-repo consumer is unaffected; don't rely on the distinction
      elsewhere.
    - **Vector length**: all vectors in a frame must share one
      dimensionality; mixed lengths raise an explicit per-batch
      error."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    keep = [c for c in pairs.columns if c not in (e1, e2)]
    schema = StructType(
        [pairs.schema[c] for c in keep] + [StructField(out, DoubleType())]
    )

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # NULL vectors -> NaN, which Arrow's nan_as_null maps
            # back to SQL NULL — exactly the expression path's
            # output (and stacking a None would make the batch
            # ragged / crash)
            valid = (pdf[e1].notna() & pdf[e2].notna()).to_numpy()
            cos = np.full(len(pdf), np.nan)
            if valid.any():
                try:
                    A = stack_rows(pdf[e1][valid], np.float64)
                    B = stack_rows(pdf[e2][valid], np.float64)
                except ValueError as e:
                    raise ValueError(
                        "cosine_pairs_kernel requires a uniform vector length "
                        f"within the frame ({e1}/{e2}): {e}"
                    ) from None
                cos[valid] = fixed_dot(A, B) / (
                    np.sqrt(fixed_dot(A, A)) * np.sqrt(fixed_dot(B, B))
                )
            o = pdf[keep].copy()
            o[out] = cos
            yield o

    return pairs.mapInPandas(fn, schema)


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Top-k cosine neighbors for each query vector (self excluded),
    with exact fixed-point scoring — bit-reproducible and
    oracle-hashable. Runs on ``topk_scan``: the query matrix rides in
    the kernel closure (queries are benchmark-sized by contract) and
    each corpus batch scores its slice with ``fixed_dot``.

    Degenerate (zero-norm) embeddings: cosine is undefined (0/0), so
    zero-norm CORPUS vectors are excluded from every candidate set
    and a zero-norm QUERY returns no neighbors. Without the keep mask
    a NaN score would survive any local top-k with fewer than k
    candidates and reach the window (as NULL, after Arrow), so the
    result would depend on how the corpus splits into batches."""
    import numpy as np

    qids, Q = probe_matrix(queries, id_col, vec_col, np.float64)
    if Q is None:
        schema = "qid long, rank int, nid long, cos_sim double"
        return corpus.sparkSession.createDataFrame([], schema)
    n2q = fixed_dot(Q, Q)

    def score(pdf):
        C = stack_rows(pdf[vec_col], np.float64)
        n2c = fixed_dot(C, C)
        dots = np.stack([fixed_dot(C, q) for q in Q])
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dots / (np.sqrt(n2q)[:, None] * np.sqrt(n2c))
        return cos, (n2q[:, None] > 0.0) & (n2c > 0.0)

    return topk_scan(
        corpus.select(id_col, vec_col), qids, score, k, "cos_sim", "double", id_col=id_col
    ).select("qid", "rank", "nid", "cos_sim")
