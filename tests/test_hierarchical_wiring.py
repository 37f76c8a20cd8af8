"""VERDICT r05 task 1: the two-level hierarchical quantizer is
WIRED into the semantic-tier consumers (semdedup / IVF search /
incremental ingest) above a corpus-size threshold, with the flat
build as the verification-scale tier. These tests force each tier
via the session conf and pin the swap's contract:

- the cell CONTRACT is tier-agnostic: on separable data both tiers
  produce identical dedup clusters;
- IVF recall under the hierarchical tier stays within a pinned
  bound of the flat tier on the real fixture embeddings;
- the hierarchical consumers never build the flat k-codebook — the
  only distributed training run is the k1 = ceil(sqrt(k)) level-1
  build (the closure-size claim, asserted on the actual train
  calls, not inferred);
- auto mode switches on the ``HIER_MIN_ROWS`` row threshold.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from fin_trade_craft_spark.queries import similarity as SQ  # noqa: E402

from conftest import SF_SMOKE  # noqa: E402


@pytest.fixture()
def force_mode(spark):
    def _set(mode: str):
        spark.conf.set(SQ.QUANTIZER_CONF, mode)

    yield _set
    spark.conf.unset(SQ.QUANTIZER_CONF)


def _separable_fixture(spark, tmp_path, n_groups=24, per_group=5, dims=16):
    """Synthetic embeddings: tight groups of near-identical vectors,
    groups far apart (orthogonal-ish axes + distinct signs), written
    as an embeddings.parquet table dir so the queries can load it.
    Any reasonable quantizer keeps each group inside one cell, so
    the dedup clusters must be tier-invariant."""
    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    for g in range(n_groups):
        # max cross-group |cos| = 0.3/1.09 ~ 0.28, safely under the
        # 0.40 dedup threshold; within-group cos ~ 1
        base = np.zeros(dims)
        base[g % dims] = 1.0 if (g // dims) % 2 == 0 else -1.0
        base[(g + 7) % dims] += 0.3 if g % 2 == 0 else -0.3
        for _ in range(per_group):
            v = base + rng.normal(0, 0.005, dims)
            rows.append((vid, g % 10, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, label long, embedding array<float>")
    out = tmp_path / "sep_fixture"
    out.mkdir()
    df.coalesce(2).write.parquet(str(out / "embeddings.parquet"))
    return str(out)


def _clusters(df) -> set[frozenset]:
    by_cluster: dict[int, set] = {}
    for r in df.select("vec_id", "cluster_id").collect():
        by_cluster.setdefault(r.cluster_id, set()).add(r.vec_id)
    return {frozenset(v) for v in by_cluster.values()}


def test_semdedup_clusters_tier_invariant_on_separable_data(spark, tmp_path, force_mode):
    sf = _separable_fixture(spark, tmp_path)
    force_mode("flat")
    flat = _clusters(SQ.semdedup(spark, sf))
    force_mode("hierarchical")
    hier = _clusters(SQ.semdedup(spark, sf))
    assert flat == hier
    # sanity: the fixture genuinely exercises dedup (clusters > 1 member)
    assert any(len(c) > 1 for c in flat)


def test_incremental_ingest_tier_invariant_on_separable_data(spark, tmp_path, force_mode):
    """The ingest decision (duplicate-of-existing or not) must be
    tier-invariant on separable data: each odd new vector sits in
    the same group as even existing ones under both quantizers."""
    sf = _separable_fixture(spark, tmp_path)
    force_mode("flat")
    flat = {
        (r.vec_id, r.n_dup_matches, r.ingested)
        for r in SQ.incremental_semdedup_ingest(spark, sf)
        .select("vec_id", "n_dup_matches", "ingested")
        .collect()
    }
    force_mode("hierarchical")
    hier = {
        (r.vec_id, r.n_dup_matches, r.ingested)
        for r in SQ.incremental_semdedup_ingest(spark, sf)
        .select("vec_id", "n_dup_matches", "ingested")
        .collect()
    }
    assert flat == hier


def test_ivf_recall_hierarchical_within_bound_of_flat(spark, force_mode):
    """On the real sf0.001 embeddings, recall@5 under the
    hierarchical tier must stay within 0.15 mean recall of the flat
    tier (both probe ~1/8 of the corpus; the hierarchy only changes
    WHICH eighth)."""
    force_mode("flat")
    flat = {r.qid: r.recall_at_k for r in SQ.ann_recall(spark, SF_SMOKE).collect()}
    force_mode("hierarchical")
    hier = {r.qid: r.recall_at_k for r in SQ.ann_recall(spark, SF_SMOKE).collect()}
    assert set(flat) == set(hier) and len(flat) == SQ.N_QUERIES
    mean_flat = sum(flat.values()) / len(flat)
    mean_hier = sum(hier.values()) / len(hier)
    assert mean_hier >= mean_flat - 0.15, (mean_flat, mean_hier)


def test_hierarchical_consumers_never_train_flat_codebook(spark, force_mode, monkeypatch):
    """The closure-size claim, asserted on the training calls
    themselves: with the hierarchical tier forced, every distributed
    k-means build the consumers trigger is the k1 = ceil(sqrt(k))
    level-1 build — the k-proportional flat codebook (matrix k x dims
    in every assignment closure) is never constructed."""
    n = SQ._emb(spark, SF_SMOKE).count()
    k_flat = SQ.kmeans_params(n)["k"]
    k1 = SQ._hier_k1(n)
    assert k1 < k_flat  # the cap is real on this fixture
    SQ._KMEANS_MEMO.clear()
    trained_ks = []
    orig = SQ._train_kmeans

    def spy(spark_, sf_dir, where=None, k_override=None, fp=None):
        out = orig(spark_, sf_dir, where=where, k_override=k_override, fp=fp)
        trained_ks.append(out[2]["k"])
        return out

    monkeypatch.setattr(SQ, "_train_kmeans", spy)
    force_mode("hierarchical")
    SQ.semdedup(spark, SF_SMOKE).count()
    SQ.ivf_search(spark, SF_SMOKE).count()
    assert trained_ks and all(k == k1 for k in trained_ks), trained_ks
    # shipped level-1 matrix is k1 x dims — sqrt-of-k sized
    cids, C, _ = orig(spark, SF_SMOKE, k_override=k1)
    assert C.shape[0] == k1


def test_auto_mode_threshold_switches_tier(spark, force_mode, monkeypatch):
    """auto + HIER_MIN_ROWS below the fixture size -> the assignment
    IS the hierarchical build's; above -> the flat build's."""
    force_mode("auto")
    monkeypatch.setattr(SQ, "HIER_MIN_ROWS", 100)  # fixture is 500 rows
    got_h = {
        (r.vec_id, r.cell) for r in SQ._cell_assignments(spark, SF_SMOKE).collect()
    }
    want_h = {
        (r.vec_id, r.cell_id)
        for r in SQ.hierarchical_cells(spark, SF_SMOKE).collect()
    }
    assert got_h == want_h
    monkeypatch.setattr(SQ, "HIER_MIN_ROWS", 1_000_000)
    got_f = {
        (r.vec_id, r.cell) for r in SQ._cell_assignments(spark, SF_SMOKE).collect()
    }
    want_f = {
        (r.vec_id, r.cell) for r in SQ.ivf_assignments(spark, SF_SMOKE).collect()
    }
    assert got_f == want_f and got_f != got_h
