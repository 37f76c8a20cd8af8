"""corpus_build_ingest: the incremental capstone's hash-proof (r08
verdict task 2) — on a planted append-shaped corpus (batch ids all
greater than existing ids, no cross-batch component bridges), the
batch manifest produced incrementally must EQUAL the from-scratch
``corpus_build`` rebuild restricted to the batch, and the existing
corpus's own manifest must be untouched by the append (keep
decisions and shard ids stable; only the mixture re-balances, by
design). Also pins the first-wins-within-batch contract and the
no-embedding / NULL-text pass-throughs.

The query probes the published index store. ``_reference_ingest``
below replays the same stage contracts from the session memos
instead (the full-corpus verified pairs and the even-trained cells),
so it is an independent check of the stored ladder at every
quantizer tier — under the hierarchical tier the DuckDB oracle
replays the flat build and cannot be one."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fin_trade_craft_spark.queries.corpus_build import (
    CB_QUALITY_MIN,
    _drop_rows,
    _enriched,
    _even_prior_state,
    _ingest_manifest,
    corpus_build,
    corpus_build_ingest,
)
from fin_trade_craft_spark.queries.dedup import _lsh_state
from fin_trade_craft_spark.queries.similarity import (
    SEMDEDUP_THETA,
    _emb,
    _even_trained_cells,
    cell_probe_new_vs_prior,
)

K_A = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "curious researchers measure overlapping shingle statistics "
    "across widely varied corpus segments"
)
K_B = (
    "market analysts reviewed quarterly earnings reports before "
    "publishing detailed sector commentary covering energy and "
    "transport infrastructure companies worldwide"
)
K_C = (
    "gardeners planted resilient heirloom tomatoes alongside basil "
    "and marigold rows expecting an unusually warm growing season "
    "with intermittent coastal rainfall"
)
K_D = (
    "astronomers catalogued distant variable stars using automated "
    "telescope arrays while graduate students verified periodicity "
    "models against archival photographic plates"
)
K_E = (
    "die wanderer folgten dem schmalen pfad durch alpine wiesen "
    "waehrend ferne glocken das fruehe morgenlicht begleiteten und "
    "nebelschwaden langsam aus dem talkessel stiegen"
)
K_F = (
    "municipal engineers inspected ageing canal locks throughout the "
    "northern delta while survey teams recorded sediment depth and "
    "flow variance for the winter maintenance plan"
)
K_G = (
    "archivists digitised brittle manuscript folios under controlled "
    "humidity while volunteers transcribed marginal annotations into "
    "a searchable provenance database spanning four centuries"
)


def _reference_ingest(spark, sf_dir):
    """The batch manifest ``corpus_build_ingest`` must produce,
    replayed from the session memos: the even-only prior ladder
    (``_even_prior_state``), the full-corpus verified LSH pairs and
    the even-trained cells, probed by the odd batch in one pass."""
    enriched = _enriched(spark, sf_dir)
    odd = F.col("doc_id") % 2 == 1
    quality_ok = F.col("quality").isNull() | (F.col("quality") >= F.lit(CB_QUALITY_MIN))

    prior = _even_prior_state(spark, sf_dir)
    e_s2, e_s3, e_kept = prior["e_s2"], prior["e_s3"], prior["e_kept"]
    pairs = _lsh_state(spark, sf_dir)["pairs"]
    cells = _even_trained_cells(spark, sf_dir)
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")

    # ---- batch ladder (odds) ----
    b = enriched.filter(odd)
    others = enriched.select(F.col("doc_id").alias("o_id"), F.col("h").alias("o_h"))
    b_exact_drop = (
        b.select("doc_id", "h")
        .join(
            others,
            (F.col("h") == F.col("o_h"))
            & ((F.col("o_id") % 2 == 0) | (F.col("o_id") < F.col("doc_id"))),
            "left_semi",
        )
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    b_s1 = b.select("doc_id").join(b_exact_drop, "doc_id", "left_anti").localCheckpoint(
        eager=True
    )
    # stage 2 probe: both orientations of the memoized verified pairs
    und = pairs.select("d1", "d2").unionByName(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    )
    x_side = und.join(b_s1.withColumnRenamed("doc_id", "d1"), "d1", "left_semi")
    m_e = x_side.join(e_s2.withColumnRenamed("doc_id", "d2"), "d2", "left_semi")
    m_b = x_side.filter(F.col("d2") < F.col("d1")).join(
        b_s1.withColumnRenamed("doc_id", "d2"), "d2", "left_semi"
    )
    b_near_drop = (
        m_e.unionByName(m_b)
        .select(F.col("d1").alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    b_s2 = b_s1.join(b_near_drop, "doc_id", "left_anti").localCheckpoint(eager=True)
    # stage 3 probe: cells restricted to existing stage-3 survivors ∪
    # batch stage-2 survivors — the shared incremental kernel then
    # scores each odd member against even members + earlier odds
    probe_ids = e_s3.unionByName(b_s2).select(F.col("doc_id").alias("vec_id"))
    v_probe = emb.join(cells, "vec_id").join(probe_ids, "vec_id", "left_semi")
    b_sem_drop = (
        cell_probe_new_vs_prior(v_probe, SEMDEDUP_THETA)
        .filter(F.col("n_dup_matches") > 0)
        .select(F.col("vec_id").alias("doc_id"))
        .localCheckpoint(eager=True)
    )
    b_s3 = b_s2.join(b_sem_drop, "doc_id", "left_anti")
    b_alive = enriched.join(b_s3, "doc_id", "left_semi")
    b_low_drop = (
        b_alive.filter(~quality_ok).select("doc_id").localCheckpoint(eager=True)
    )
    b_kept = b_alive.filter(quality_ok).select("doc_id", "source", "lang", "n_tokens")
    drops = {
        "exact_drop": b_exact_drop,
        "near_drop": b_near_drop,
        "sem_drop": b_sem_drop,
        "low_drop": b_low_drop,
    }
    return _ingest_manifest(e_kept, b_kept, _drop_rows(enriched, drops))


def _write(dirpath, docs, embs):
    pdf = pd.DataFrame(docs, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len().astype("Int64")
    pdf = pdf[["doc_id", "text", "lang", "source", "n_chars"]]
    pdf.to_parquet(Path(dirpath) / "documents.parquet", index=False)
    epdf = pd.DataFrame(
        {
            "vec_id": [e[0] for e in embs],
            "embedding": [e[1] for e in embs],
            "label": np.zeros(len(embs), dtype="int32"),
        }
    )
    epdf.to_parquet(Path(dirpath) / "embeddings.parquet", index=False)


@pytest.fixture(scope="module")
def ingest_dirs(tmp_path_factory):
    """`full`: existing corpus (even ids 0..12) + batch (odd ids
    101..117, all greater — the production append shape). `prior`:
    the existing corpus alone. Plants one of every batch keep_reason
    against BOTH an existing doc and an earlier batch doc."""
    # ± standard-basis vectors: pairwise cosine is 0 or −1 for
    # DISTINCT vectors (never ≥ θ), so only the PLANTED identical
    # pairs can be semantic dups regardless of cell layout — random
    # 8-dim vectors can exceed θ = 0.40 by chance
    it = iter(
        [s * np.eye(8, dtype="float32")[i] for i in range(8) for s in (1.0, -1.0)]
    )

    def vec():
        return next(it).tolist()

    v10 = vec()
    existing = [
        (0, K_A, "en", "web"),
        (2, K_B, "en", "books"),
        (4, K_C + " alpha", "en", "web"),
        (6, K_C + " omega", "en", "web"),  # near dup of 4 → dropped in prior
        (8, "spam spam", "en", "web"),  # low quality in prior
        (10, K_D, "en", "books"),  # semantic anchor (v10)
        (12, K_E, "de", "books"),
    ]
    batch = [
        (101, K_A, "en", "web"),  # exact dup of existing 0
        (103, K_B + " delta", "en", "books"),  # near dup of existing 2
        (105, K_F, "en", "web"),  # semantic dup of existing 10 (v10)
        (107, "ham ham", "en", "web"),  # low quality
        (109, K_G, "en", "books"),  # keeper (own embedding)
        (111, K_G, "en", "books"),  # exact dup of earlier batch 109
        (113, K_G + " zeta", "en", "books"),  # near dup of earlier batch 109
        (
            115,
            "der alte uhrmacher justierte winzige zahnraeder unter der "
            "lupe waehrend draussen der fruehe marktlaerm durch die "
            "engen gassen der altstadt hallte",
            "de",
            "books",
        ),  # keeper, NO embedding
        (117, None, "en", "web"),  # NULL text → kept
    ]
    emb_existing = [(i, vec()) for i in (0, 2, 4, 6, 8)] + [(10, v10), (12, vec())]
    emb_batch = [(101, vec()), (103, vec()), (105, v10), (107, vec()), (109, vec()),
                 (111, vec()), (113, vec())]
    full = tmp_path_factory.mktemp("cbi_full")
    prior = tmp_path_factory.mktemp("cbi_prior")
    _write(full, existing + batch, emb_existing + emb_batch)
    _write(prior, existing, emb_existing)
    return str(full), str(prior)


def test_ingest_batch_reasons_and_first_wins(spark, ingest_dirs):
    full, _ = ingest_dirs
    rows = {r["doc_id"]: r for r in corpus_build_ingest(spark, full).collect()}
    assert set(rows) == {101, 103, 105, 107, 109, 111, 113, 115, 117}
    assert rows[101]["keep_reason"] == "exact_dup"  # vs existing
    assert rows[103]["keep_reason"] == "near_dup"  # vs existing survivor
    assert rows[105]["keep_reason"] == "semantic_dup"  # vs existing rep
    assert rows[107]["keep_reason"] == "low_quality"
    assert rows[109]["keep_reason"] == "kept"
    assert rows[111]["keep_reason"] == "exact_dup"  # first-wins in batch
    assert rows[113]["keep_reason"] == "near_dup"  # vs earlier batch doc
    assert rows[115]["keep_reason"] == "kept"  # no embedding → passes sem
    assert rows[117]["keep_reason"] == "kept"  # NULL text
    for r in rows.values():
        assert r["kept"] == (r["keep_reason"] == "kept")
        if r["kept"]:
            assert r["mix_weight"] is not None and r["shard_id"] is not None
        else:
            assert r["mix_weight"] is None and r["shard_id"] is None


def test_ingest_equals_from_scratch_rebuild_on_batch(spark, ingest_dirs):
    """THE hash-proof: incremental batch manifest ≡ from-scratch
    ``corpus_build`` over the combined corpus, restricted to the
    batch — every column including the combined mixture weight and
    the appended shard id (valid because batch ids are all greater
    than existing ids, so the rebuild's min-id canonicals and
    per-lang doc_id packing order coincide with append semantics)."""
    full, _ = ingest_dirs
    inc = {r["doc_id"]: r for r in corpus_build_ingest(spark, full).collect()}
    reb = {
        r["doc_id"]: r
        for r in corpus_build(spark, full).collect()
        if r["doc_id"] % 2 == 1
    }
    assert set(inc) == set(reb)
    for did in inc:
        a, b = inc[did], reb[did]
        assert a["keep_reason"] == b["keep_reason"], did
        assert a["kept"] == b["kept"], did
        assert a["n_tokens"] == b["n_tokens"], did
        assert a["shard_id"] == b["shard_id"], did
        if a["mix_weight"] is None:
            assert b["mix_weight"] is None, did
        else:
            assert abs(a["mix_weight"] - b["mix_weight"]) < 1e-12, did


def test_stored_index_ingest_byte_equal_manifest(spark, ingest_dirs):
    """r09 verdict task 1: the PRODUCTION refresh shape — prior
    ladder read from the TableIO-published index tables
    (kept_manifest / hash_index / sig_index / cell_index /
    codebook) — must produce a manifest BYTE-EQUAL to the
    session-memo reference, every column including the float
    mix_weight (same exact arithmetic on both paths). Also proves
    the write side actually committed the five tables."""
    import os

    from fin_trade_craft_spark.queries.corpus_build import _index_store

    full, _ = ingest_dirs
    ref = _reference_ingest(spark, full).toPandas()
    stored = corpus_build_ingest(spark, full).toPandas()
    pd.testing.assert_frame_equal(ref, stored, check_exact=True)

    io = _index_store(spark, full)
    for t in ("kept_manifest", "hash_index", "sig_index", "cell_index", "codebook"):
        assert io.exists(t), f"index table {t} not published"
        assert os.path.isdir(io.path(t)), t
    # the codebook consumers load is the SAME centroids the trainer
    # memoized — k·dims rows of exact 1e-6 integers
    cb = io.read("codebook").toPandas()
    assert set(cb.columns) == {"cid", "i", "cv"} and len(cb) > 0


def test_stored_index_ingest_matches_on_testdata(spark):
    """Byte-equality on the real sf0.001 fixture corpus too — the
    planted fixture exercises every reason path, this one exercises
    fixture-scale cell layouts and multi-source mixtures."""
    from conftest import SF_SMOKE as sf

    ref = _reference_ingest(spark, sf).toPandas()
    stored = corpus_build_ingest(spark, sf).toPandas()
    pd.testing.assert_frame_equal(ref, stored, check_exact=True)


def test_sequential_committed_refreshes_match_one_shot(spark, ingest_dirs, tmp_path):
    """The production refresh LOOP (r10): copy the published index
    store, then run TWO id-ordered batches through the stored-index
    ladder, COMMITTING each (appending its partner rows to
    hash/sig/cell stores and its kept rows to the manifest) so batch
    2 probes batch 1 through the same parquet tables it probes the
    original corpus through. Keep decisions across the two committed
    steps must equal the one-shot stored ingest over the
    concatenated batch — the same cross-batch equivalence
    streaming_corpus_ingest proves for its micro-batches, here for
    the batch TableIO path."""
    import shutil

    from fin_trade_craft_spark.queries.corpus_build import (
        _index_store,
        _stored_ingest_ladder,
        commit_ingest_batch,
    )
    from fin_trade_craft_spark.sources.catalog import load_table
    from fin_trade_craft_spark.sources.io import TableIO

    full, _ = ingest_dirs
    io = TableIO(spark, str(tmp_path / "store"))
    shutil.copytree(_index_store(spark, full).warehouse, io.warehouse)

    docs = load_table(spark, full, "documents")
    embs = load_table(spark, full, "embeddings")
    odd_doc = F.col("doc_id") % 2 == 1
    odd_vec = F.col("vec_id") % 2 == 1

    def reasons(lad):
        out = {}
        for key, reason in (
            ("exact_drop", "exact_dup"),
            ("near_drop", "near_dup"),
            ("sem_drop", "semantic_dup"),
            ("low_drop", "low_quality"),
            ("kept", "kept"),
        ):
            for r in lad[key].select("doc_id").collect():
                assert r["doc_id"] not in out, "stage reasons not disjoint"
                out[r["doc_id"]] = reason
        return out

    seq = {}
    for lo, hi in ((101, 110), (110, 200)):  # id-ordered batches
        cond_d = odd_doc & (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        cond_v = odd_vec & (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        lad = _stored_ingest_ladder(spark, full, io, docs.filter(cond_d), embs.filter(cond_v))
        seq.update(reasons(lad))
        commit_ingest_batch(io, lad)

    one_shot = {
        r["doc_id"]: r["keep_reason"]
        for r in corpus_build_ingest(spark, full).collect()
    }
    assert seq == one_shot
    # the committed manifest now holds existing + both batches' kept
    # rows — the base masses the NEXT refresh's stages 5/6 read
    committed_kept = {
        r["doc_id"] for r in io.read("kept_manifest").select("doc_id").collect()
    }
    expect_kept = {d for d, why in one_shot.items() if why == "kept"} | {
        r["doc_id"]
        for r in corpus_build(spark, full).collect()
        if r["doc_id"] % 2 == 0 and r["kept"]
    }
    assert committed_kept == expect_kept


def test_streaming_ingest_equals_stored_on_planted_fixture(spark, ingest_dirs):
    """The streaming twin runs the stored-index ladder per
    micro-batch and commits each batch; on the planted fixture —
    every reason path, split at the median batch id into micro-batches
    101..107 and 109..117, so 111 and 113 lose to 109 first-wins
    inside the second one — its manifest must equal the one-shot
    reference exactly."""
    from fin_trade_craft_spark.queries.streaming import streaming_corpus_ingest

    full, _ = ingest_dirs
    ref = _reference_ingest(spark, full).toPandas()
    streamed = streaming_corpus_ingest(spark, full).toPandas()
    pd.testing.assert_frame_equal(streamed, ref, check_exact=True)


def test_prior_ladder_runs_once_per_store(spark, ingest_dirs, tmp_path, monkeypatch):
    """The existing corpus's ladder runs when its index store is
    published, once per (session, dataset, tier): the batch ingest
    and the streaming ingest of one dataset in one session share
    that store — the streaming ingest starts from a copy of it."""
    import shutil

    from fin_trade_craft_spark.queries import corpus_build as CB
    from fin_trade_craft_spark.queries.streaming import streaming_corpus_ingest

    full, _ = ingest_dirs
    # a dataset path no earlier test published a store for
    sf = tmp_path / "cbi_spy"
    shutil.copytree(full, sf)
    orig, calls = CB._even_prior_state, []

    def counted(spark_, sf_dir):
        calls.append(sf_dir)
        return orig(spark_, sf_dir)

    monkeypatch.setattr(CB, "_even_prior_state", counted)
    batch = corpus_build_ingest(spark, str(sf)).toPandas()
    streamed = streaming_corpus_ingest(spark, str(sf)).toPandas()
    again = corpus_build_ingest(spark, str(sf)).toPandas()
    assert calls == [str(sf)]
    pd.testing.assert_frame_equal(streamed, batch, check_exact=True)
    pd.testing.assert_frame_equal(again, batch, check_exact=True)


def test_ingest_twins_agree_under_hierarchical_tier(spark):
    """With the hierarchical quantizer forced, ``cell_index`` holds
    hierarchical cells, so the stored ladder must assign batch
    vectors through the same tier (a flat codebook assignment would
    compare flat cids against hierarchical cell ids), and no flat
    codebook is trained or published for it. The batch and streaming
    corpus ingests must equal the session-memo reference, and both
    semantic ingests must agree."""
    from conftest import SF_CORRECT as sf

    from fin_trade_craft_spark.queries import similarity as SQ
    from fin_trade_craft_spark.queries.corpus_build import _index_store
    from fin_trade_craft_spark.queries.streaming import (
        streaming_corpus_ingest,
        streaming_semdedup_ingest,
    )

    spark.conf.set(SQ.QUANTIZER_CONF, "hierarchical")
    try:
        ref = _reference_ingest(spark, sf).toPandas()
        stored = corpus_build_ingest(spark, sf).toPandas()
        streamed = streaming_corpus_ingest(spark, sf).toPandas()
        pd.testing.assert_frame_equal(stored, ref, check_exact=True)
        pd.testing.assert_frame_equal(streamed, ref, check_exact=True)
        io = _index_store(spark, sf)
        assert io.exists("cell_index") and not io.exists("codebook")
        batch = SQ.incremental_semdedup_ingest(spark, sf).toPandas()
        streamed_sem = streaming_semdedup_ingest(spark, sf).toPandas()
        pd.testing.assert_frame_equal(streamed_sem, batch, check_exact=True)
    finally:
        spark.conf.unset(SQ.QUANTIZER_CONF)


def test_append_leaves_existing_manifest_stable(spark, ingest_dirs):
    """The existing corpus's keep decisions and shard ids must be
    identical whether the batch exists or not (the append never
    re-clusters or repacks history); only mix_weight re-balances."""
    full, prior = ingest_dirs
    before = {r["doc_id"]: r for r in corpus_build(spark, prior).collect()}
    after = {
        r["doc_id"]: r
        for r in corpus_build(spark, full).collect()
        if r["doc_id"] % 2 == 0
    }
    assert set(before) == set(after)
    for did in before:
        assert before[did]["keep_reason"] == after[did]["keep_reason"], did
        assert before[did]["shard_id"] == after[did]["shard_id"], did
