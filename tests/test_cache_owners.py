"""Every cached frame has an owner (operators/memo.py): after a query's
result is dropped, the only cache entries left are the ones a session
memo holds, and releasing the memos leaves Spark's CacheManager empty.
Queries also leave the session's AQE setting alone."""

from __future__ import annotations

import gc

from conftest import SF_SMOKE

FAST_SLATE = [
    "daily_screener",
    "bigram_interpolated_scores",
    "bpe_convergent_merges",
    "lsh_recall_eval",
    "ivf_search",
    "pagerank_copurchase",
    "fin_signals_pipeline",
]


def _has_level(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def _cached_plans(spark) -> list[str]:
    data = spark._jsparkSession.sharedState().cacheManager().cachedData()
    return [data.apply(i).plan().toString()[:200] for i in range(data.size())]


def _assert_no_orphans(spark, names):
    from fin_trade_craft_spark.operators.memo import _REGISTRY, release_all_memos
    from fin_trade_craft_spark.queries import all_queries

    queries = all_queries()
    release_all_memos()
    spark.catalog.clearCache()
    # memo frames that were persisted when first seen (a memo may also
    # hold derived views, which never report a level)
    persisted: dict[int, tuple[str, object]] = {}
    for name in names:
        df = queries[name](spark, SF_SMOKE)
        df.write.format("noop").mode("overwrite").save()
        del df
        gc.collect()
        # a memo may itself evict or replace a frame: only frames it
        # still holds must keep their level
        held = {id(f): (memo.name, f) for memo in _REGISTRY for f in memo.frames()}
        lost = [m for k, (m, f) in persisted.items() if k in held and not _has_level(f)]
        assert not lost, f"{name} released memo frames of {lost}"
        persisted = {k: v for k, v in held.items() if k in persisted or _has_level(v[1])}
    release_all_memos()
    gc.collect()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), _cached_plans(spark)


def test_no_orphaned_cache_fast_slate(spark):
    _assert_no_orphans(spark, FAST_SLATE)


def test_no_orphaned_cache_every_batch_query(spark):
    from fin_trade_craft_spark.queries import all_queries

    _assert_no_orphans(spark, [n for n in all_queries() if not n.startswith("streaming_")])


def test_fin_signals_pipeline_never_toggles_aqe(spark, monkeypatch):
    from fin_trade_craft_spark.queries import all_queries

    conf_cls = type(spark.conf)
    set_keys = []
    real_set = conf_cls.set

    def spy(self, key, value):
        set_keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(conf_cls, "set", spy)
    df = all_queries()["fin_signals_pipeline"](spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    assert [k for k in set_keys if k.startswith("spark.sql.adaptive.")] == []
