"""r10 verdict #7: session memos must be BOUNDED across datasets.
SessionMemo groups entries by dataset and LRU-evicts whole groups
beyond max_datasets, releasing every pinned/persisted frame the
evicted state holds — a second dataset's run releases the first's
executor storage instead of pinning it for the session's lifetime."""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from conftest import SF_SMOKE


@pytest.fixture()
def second_dataset(tmp_path):
    """A byte-identical copy of the smoke dataset at a DIFFERENT
    path: same content, distinct dataset identity (memo keys hash
    the absolute path alongside the parquet footer stamp)."""
    d = tmp_path / "sf_copy"
    d.mkdir()
    for t in ("documents", "embeddings"):
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


def test_lru_eviction_releases_first_datasets_storage(spark, second_dataset):
    from fin_trade_craft_spark.operators.memo import held_by_memo
    from fin_trade_craft_spark.queries.corpus_build import _ENRICHED_MEMO, _enriched

    old_cap = _ENRICHED_MEMO.max_datasets
    _ENRICHED_MEMO.release_all()
    _ENRICHED_MEMO.max_datasets = 1
    try:
        df_a = _enriched(spark, SF_SMOKE)
        df_a.count()  # materialize A's persisted cache
        assert df_a.storageLevel.useMemory
        assert held_by_memo(df_a)

        df_b = _enriched(spark, second_dataset)
        df_b.count()
        # B's arrival evicted A: cache released, no memo holds it
        assert not df_a.storageLevel.useMemory
        assert not held_by_memo(df_a)
        assert df_b.storageLevel.useMemory
        assert _ENRICHED_MEMO.datasets() == [second_dataset]

        # A is rebuilt (not resurrected) on re-request, evicting B
        df_a2 = _enriched(spark, SF_SMOKE)
        assert df_a2 is not df_a
        assert not df_b.storageLevel.useMemory
        assert not held_by_memo(df_b)
    finally:
        _ENRICHED_MEMO.max_datasets = old_cap
        _ENRICHED_MEMO.release_all()


def test_multiple_keys_per_dataset_live_and_die_together():
    from fin_trade_craft_spark.operators.memo import SessionMemo

    released = []
    m = SessionMemo("t", max_datasets=2, releaser=released.append)
    m.put(("a", 1), "a1", dataset="a")
    m.put(("a", 2), "a2", dataset="a")
    m.put(("b", 1), "b1", dataset="b")
    assert m.get(("a", 1), dataset="a") == "a1"  # touches a: b is now LRU
    m.put(("c", 1), "c1", dataset="c")
    assert released == ["b1"]
    assert sorted(map(str, m.datasets())) == ["a", "c"]
    m.put(("d", 1), "d1", dataset="d")  # evicts a — BOTH its keys release
    assert released == ["b1", "a1", "a2"] or released == ["b1", "a2", "a1"]
    m.release_all()
    assert len(m) == 0 and released[-1] in ("c1", "d1")


def test_put_overwrite_releases_displaced_value():
    """ADVICE r11: re-putting under a live (dataset, key) must release
    the displaced value immediately — a replaced persisted frame must
    not stay pinned until its whole dataset group evicts."""
    from fin_trade_craft_spark.operators.memo import SessionMemo

    released = []
    m = SessionMemo("t", max_datasets=2, releaser=released.append)
    m.put(("a", 1), "v_old", dataset="a")
    m.put(("a", 1), "v_new", dataset="a")
    assert released == ["v_old"]
    assert m.get(("a", 1), dataset="a") == "v_new"
    # idempotent re-put of the SAME object must NOT self-release
    m.put(("a", 1), "v_new", dataset="a")
    assert released == ["v_old"]
    m.release_all()


def test_index_store_eviction_defers_rmtree(tmp_path, monkeypatch):
    """ADVICE r11: evicting a stored-index memo must NOT delete the
    published tempdir while the process lives — still-live lazy
    frames from a prior _index_store() call would fail with
    path-not-found. Publishing parks the path; the atexit sweep
    removes it."""
    from fin_trade_craft_spark.queries import corpus_build as CB

    # isolate from any stores the real queries retired this session
    monkeypatch.setattr(CB, "_RETIRED_STORES", [])
    d = tmp_path / "corpus_index_store_test"
    d.mkdir()
    (d / "marker").write_text("x")
    wh = CB.retire_at_exit(str(d))  # as _index_store does on publish
    CB._INDEX_STORE_MEMO.put(("test", wh), wh, dataset=wh)
    CB._INDEX_STORE_MEMO.release_dataset(wh)
    assert str(d) in CB._RETIRED_STORES
    assert d.exists(), "eviction must defer deletion, not rmtree now"
    CB._sweep_retired_stores()
    assert not d.exists()
    assert CB._RETIRED_STORES == []


def test_explicit_release_paths(spark):
    from fin_trade_craft_spark.operators.memo import SessionMemo, held_by_memo, release_all_memos

    m = SessionMemo("x", max_datasets=4)
    df = spark.range(10).persist()
    df.count()
    m.put(("k",), {"frame": df}, dataset="ds")
    assert df.storageLevel.useMemory
    m.release_dataset("ds")
    assert not df.storageLevel.useMemory
    assert not held_by_memo(df)
    # release_all_memos is a no-op on the already-empty memo
    release_all_memos()
    assert len(m) == 0
