"""Session-scoped dedup-family memos (r08 verdict task 1):

1. The LSH state (`queries/dedup._LSH_MEMO`) is built once per
   (session, dataset) and every consumer rides the same frames.
2. The semantic state (`queries/similarity._SEM_MEMO`) likewise.
3. Memoized consumers return the SAME values as a fresh chain built
   directly from the operators (restriction-equality guarantee the
   corpus_build stages rely on).
4. Memo frames survive a consumer result's garbage collection (the
   pin wrapper must not unpersist a frame a memo holds).
5. A different sf_dir (different footer stamp) misses the memo.
"""

from __future__ import annotations

import gc

from pyspark.sql import functions as F

from fin_trade_craft_spark.operators import dedup as D
from fin_trade_craft_spark.operators.memo import held_by_memo
from fin_trade_craft_spark.queries import dedup as QD

from conftest import SF_SMOKE


def _fresh_pairs(spark):
    sets, pairs = D.lsh_verified_pairs(QD._docs_wide(spark, SF_SMOKE))
    return pairs


def test_lsh_memo_single_entry_and_reuse(spark):
    st1 = QD._lsh_state(spark, SF_SMOKE)
    st2 = QD._lsh_state(spark, SF_SMOKE)
    assert st1 is st2, "same (session, dataset) must hit the memo"
    assert held_by_memo(st1["sets"])
    # the persisted frame is the threshold-free scored candidates;
    # `pairs` is a derived >= 0.5 view over it
    assert held_by_memo(st1["scored"])


def test_memoized_pairs_match_fresh_chain(spark):
    memo = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in QD._lsh_state(spark, SF_SMOKE)["pairs"].collect()
    }
    fresh = {(r["d1"], r["d2"], r["jaccard"]) for r in _fresh_pairs(spark).collect()}
    assert memo == fresh


def test_memoized_components_match_fresh(spark):
    cc_memo = {
        (r["doc_id"], r["cluster_id"])
        for r in QD._lsh_components(spark, SF_SMOKE).collect()
    }
    cc_fresh = {
        (r["doc_id"], r["cluster_id"])
        for r in D.connected_components(_fresh_pairs(spark)).collect()
    }
    assert cc_memo == cc_fresh


def test_memo_survives_consumer_gc(spark):
    st = QD._lsh_state(spark, SF_SMOKE)
    result = QD.minhash_near_dupes(spark, SF_SMOKE)
    n1 = result.count()
    del result
    gc.collect()
    # the memo frames are still persisted (StorageLevel non-NONE) and
    # a second consumer returns identical rows
    assert st["scored"].storageLevel.useMemory or st["scored"].storageLevel.useDisk
    n2 = QD.dedup_jaccard_verified(spark, SF_SMOKE).count()
    assert n1 == n2


def test_restricted_components_equal_ladder_on_survivors(spark):
    """The corpus_build stage-2 equality: full-corpus components
    restricted to the exact-dedup survivors carry the SAME drop set
    as re-running the LSH ladder + CC on the survivors directly."""
    from fin_trade_craft_spark.functions import text as T

    docs = QD._docs_wide(spark, SF_SMOKE)
    h = docs.select("doc_id", T.content_hash(F.col("text")).alias("h"))
    canon = h.groupBy("h").agg(F.min("doc_id").alias("c"))
    s1 = (
        h.join(canon, "h")
        .filter(F.col("doc_id") == F.col("c"))
        .select("doc_id")
    )
    # ladder re-run on survivors (the pre-r09 corpus_build shape)
    s1_docs = docs.join(s1, "doc_id", "left_semi")
    _, pairs_s1 = D.lsh_verified_pairs(s1_docs)
    drop_fresh = {
        r["doc_id"]
        for r in D.connected_components(pairs_s1)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .collect()
    }
    # memoized full components restricted to survivors
    drop_memo = {
        r["doc_id"]
        for r in QD._lsh_components(spark, SF_SMOKE)
        .join(s1, "doc_id", "left_semi")
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .collect()
    }
    assert drop_memo == drop_fresh


def test_sem_memo_reuse_and_key_includes_quantizer_mode(spark):
    from fin_trade_craft_spark.queries import similarity as SQ

    st1 = SQ._sem_state(spark, SF_SMOKE)
    assert SQ._sem_state(spark, SF_SMOKE) is st1
    spark.conf.set(SQ.QUANTIZER_CONF, "flat")
    try:
        st_flat = SQ._sem_state(spark, SF_SMOKE)
        # the fixture's auto tier IS flat, but the conf value is part
        # of the key — a forced mode must not alias the auto entry
        assert st_flat is not st1
    finally:
        spark.conf.unset(SQ.QUANTIZER_CONF)


def test_memo_release_unpersists_and_pins_skip_memo_frames(spark):
    """A frame counts as session-owned exactly while a memo holds it:
    a pinned result's GC leaves it cached, and the memo's release
    drops it from the memo and unpersists it."""
    from fin_trade_craft_spark.operators.memo import SessionMemo, pin_on_first_action

    m = SessionMemo("owned", max_datasets=1)
    df = m.put(("k",), spark.range(100).select(F.col("id").alias("k")).persist(), dataset="ds")
    result = pin_on_first_action(df.select((F.col("k") * 2).alias("k2")), [df])
    assert result.count() == 100
    assert held_by_memo(df)
    del result
    gc.collect()
    assert df.storageLevel.useMemory  # the memo still owns it
    m.release_dataset("ds")
    assert not held_by_memo(df)
    assert df.storageLevel.useMemory is False  # unpersisted
    # releasing an unknown dataset is a no-op
    m.release_dataset("ds")
