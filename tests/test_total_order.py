"""operators/total_order: the distributed global-rank family must
match Spark's own single-partition window results exactly, while
planning ZERO unpartitioned WindowExec nodes."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from fin_trade_craft_spark.operators import total_order as TO  # noqa: E402
from fin_trade_craft_spark.operators.memo import pin_on_first_action  # noqa: E402


def _owned(op, *args, **kwargs):
    """Call a total-order operator the way a query does: the result
    owns the range-partitioned frame the operator persisted."""
    pins = []
    return pin_on_first_action(op(*args, pins=pins, **kwargs), pins, fill=False)


def _fixture(spark, n=997):
    # duplicates in v (v = id % 83) exercise tie semantics; g is a
    # 3-group column for the grouped variants
    return (
        spark.range(n)
        .select(
            F.col("id"),
            (F.col("id") % 83).alias("v"),
            (F.col("id") % 3).cast("string").alias("g"),
        )
        .localCheckpoint(eager=True)
    )


def _no_unpartitioned_window(df):
    from test_plan_lint import unpartitioned_windows

    return unpartitioned_windows(df)


def test_global_row_number_matches_window(spark):
    df = _fixture(spark)
    got = _owned(TO.global_row_number, df, [F.col("v"), F.col("id")], "rn")
    want = df.withColumn("rn", F.row_number().over(Window.orderBy("v", "id")))
    g = {(r.id, r.rn) for r in got.collect()}
    w = {(r.id, r.rn) for r in want.collect()}
    assert g == w
    assert _no_unpartitioned_window(got) == []


def test_global_percent_rank_matches_window(spark):
    df = _fixture(spark)
    got = _owned(TO.global_percent_rank, df, "v", "pr")
    want = df.withColumn("pr", F.percent_rank().over(Window.orderBy("v")))
    g = {(r.id, r.pr) for r in got.collect()}
    w = {(r.id, r.pr) for r in want.collect()}
    assert g == w  # bit-exact: same (minrank-1)/(n-1) arithmetic
    assert _no_unpartitioned_window(got) == []


def test_grouped_percent_rank_matches_window(spark):
    df = _fixture(spark)
    got = _owned(TO.global_percent_rank, df, "v", "pr", group_cols=["g"])
    want = df.withColumn(
        "pr", F.percent_rank().over(Window.partitionBy("g").orderBy("v"))
    )
    g = {(r.id, r.pr) for r in got.collect()}
    w = {(r.id, r.pr) for r in want.collect()}
    assert g == w


def test_global_ntile_matches_window(spark):
    df = _fixture(spark)
    for k in (4, 7):
        got = _owned(TO.global_ntile, df, k, [F.col("v"), F.col("id")], "t")
        want = df.withColumn("t", F.ntile(k).over(Window.orderBy("v", "id")))
        g = {(r.id, r.t) for r in got.collect()}
        w = {(r.id, r.t) for r in want.collect()}
        assert g == w, f"ntile({k})"
    assert _no_unpartitioned_window(got) == []


def test_grouped_ntile_and_tiny_groups(spark):
    df = _fixture(spark, n=200)
    got = _owned(TO.global_ntile, df, 4, [F.col("v"), F.col("id")], "t", group_cols=["g"])
    want = df.withColumn(
        "t", F.ntile(4).over(Window.partitionBy("g").orderBy("v", "id"))
    )
    assert {(r.id, r.t) for r in got.collect()} == {
        (r.id, r.t) for r in want.collect()
    }
    # n < k edge: NTILE assigns tiles 1..n
    tiny = df.limit(3)
    got = _owned(TO.global_ntile, tiny, 7, [F.col("id")], "t")
    assert sorted(r.t for r in got.collect()) == [1, 2, 3]


def test_range_prefix_scan_max_matches_window(spark):
    df = _fixture(spark)
    order = [F.col("v").asc(), F.col("id").asc()]
    got = _owned(TO.range_prefix_scan_max, df, order, "id", "rm")
    w = (
        Window.orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = df.withColumn("rm", F.max("id").over(w))
    g = {(r.id, r.rm) for r in got.collect()}
    ww = {(r.id, r.rm) for r in want.collect()}
    assert g == ww
    assert _no_unpartitioned_window(got) == []


def test_global_prefix_sum_matches_window(spark):
    df = _fixture(spark)
    got = _owned(TO.global_prefix_sum, df, [F.col("v").asc(), F.col("id").asc()], "id", "rs")
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("rs", F.sum("id").over(w))
    g = {(r.id, r.rs) for r in got.collect()}
    ww = {(r.id, r.rs) for r in want.collect()}
    assert g == ww
    assert _no_unpartitioned_window(got) == []


def test_null_group_keys_are_their_own_group(spark):
    """A NULL group key must behave exactly like Window.partitionBy:
    its rows rank/tile within their own group instead of silently
    vanishing through a null-rejecting equi-join (r05 review fix)."""
    rows = [(1, "en", 10), (2, "en", 20), (3, None, 5), (4, None, 7), (5, "fr", 9)]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    got = _owned(TO.global_ntile, df, 2, [F.col("v"), F.col("id")], "t", group_cols=["g"])
    want = df.withColumn(
        "t", F.ntile(2).over(Window.partitionBy("g").orderBy("v", "id"))
    )
    assert {(r.id, r.t) for r in got.collect()} == {(r.id, r.t) for r in want.collect()}

    got_pr = _owned(TO.global_percent_rank, df, "v", "pr", group_cols=["g"])
    want_pr = df.withColumn(
        "pr", F.percent_rank().over(Window.partitionBy("g").orderBy("v"))
    )
    assert {(r.id, r.pr) for r in got_pr.collect()} == {
        (r.id, r.pr) for r in want_pr.collect()
    }


def test_prefix_scan_max_tolerates_all_null_partitions(spark):
    """A range partition whose value column is entirely NULL
    aggregates to None — the driver prefix-combine must skip it, not
    raise TypeError (r05 review fix)."""
    rows = [(i, float(i) if i % 7 else None) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, v double").repartition(8)
    got = _owned(TO.range_prefix_scan_max, df, [F.col("id").asc()], "v", "rm")
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    want = df.withColumn("rm", F.max("v").over(w))
    assert {(r.id, r.rm) for r in got.collect()} == {
        (r.id, r.rm) for r in want.collect()
    }


def test_construction_launches_no_job_and_single_source_scan(spark):
    """r06 verdict tasks 2+3: constructing any total-order operator
    must launch ZERO Spark jobs (the offsets/totals are a lazy plan,
    not a driver collect), and the caller's frame must appear ONCE
    in the physical plan (totals derive from the shared per-
    partition counts, never from re-aggregating the source)."""
    import uuid

    path = f"/tmp/to_purity_{uuid.uuid4().hex}.parquet"
    spark.range(500).select((F.col("id") % 7).alias("v"), "id").write.parquet(path)
    src = spark.read.schema("v long, id long").parquet(path)

    def njobs():
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    for build in (
        lambda: _owned(TO.global_row_number, src, [F.col("v"), F.col("id")], "rn"),
        lambda: _owned(TO.global_percent_rank, src, "v", "pr"),
        lambda: _owned(TO.global_ntile, src, 4, [F.col("v"), F.col("id")], "t"),
        lambda: _owned(TO.range_prefix_scan_max, src, [F.col("v").asc(), F.col("id").asc()], "id", "rm"),
    ):
        before = njobs()
        df = build()
        assert njobs() == before, "construction launched a Spark job"
        # every branch (offsets, totals, output) reads the CACHED
        # range-partitioned frame — the source is materialized once
        # at runtime, never re-aggregated (task 3). The explain text
        # prints the cached child plan inline per reference, so the
        # observable signals are the cache scans themselves.
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan


def test_percent_rank_consistent_on_nondeterministic_source(spark):
    """r06 verdict task 3 regression: with a NONDETERMINISTIC source
    (unseeded rand), the ranks and the group totals must come from
    one materialization — percent_rank stays within [0, 1] and the
    max rank count equals the row count (a re-aggregated source
    could disagree and yield percent_rank > 1)."""
    nd = spark.range(3000).select(
        (F.rand() * 40).cast("int").alias("v"),
        (F.rand() * 2).cast("int").cast("string").alias("g"),
    )
    out = _owned(TO.global_percent_rank, nd, "v", "pr", group_cols=["g"])
    agg = out.groupBy("g").agg(
        F.min("pr").alias("mn"), F.max("pr").alias("mx"), F.count(F.lit(1)).alias("n")
    )
    for r in agg.collect():
        assert 0.0 <= r.mn <= r.mx <= 1.0, r


def test_range_cache_keeps_sampled_ranks_consistent(spark):
    """The persisted range-partitioned frame is what makes the ranks
    correct, not only fast: its two readers (the per-partition counts
    and the rows themselves) are different exchange subtrees, and
    with this many rows RangePartitioner samples its bounds, so two
    computations of the range exchange can disagree. Two runs must
    both equal the single-partition window reference. The second is
    built while the first result is still referenced: its range frame
    is a plan-equal twin, and dropping the first result must not evict
    the cache entry they share. A frame derived from a result that is
    not kept must hold the cache itself."""
    df = spark.range(0, 60_000, 1, 8).select(
        "id", ((F.col("id") * 7919) % 5003).alias("v"), (F.col("id") % 11).alias("pad")
    )
    want = {
        (r.id, r.pr)
        for r in df.withColumn("pr", F.percent_rank().over(Window.orderBy("v"))).collect()
    }
    for _ in range(2):
        got = _owned(TO.global_percent_rank, df, "v", "pr")
        assert {(r.id, r.pr) for r in got.collect()} == want
    del got
    derived = _owned(TO.global_percent_rank, df, "v", "pr").select("id", "pr")
    assert {(r.id, r.pr) for r in derived.collect()} == want
