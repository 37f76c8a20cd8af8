"""Plan lint over the ENTIRE registered query surface:

1. No batch query may plan a CartesianProduct (the unbounded
   all-pairs join — every intentional cross join in the repo is
   against a 1-row or dimension-sized frame and must come out as a
   broadcast nested-loop instead).
2. No batch query may plan an UNPARTITIONED WindowExec (empty
   partition spec = the whole input funneled through ONE task — the
   single-partition sort that kills a cluster-scale run) unless the
   query is on the documented allowlist below, where the window
   input is provably bounded (post-LIMIT, or an aggregate over a
   constant-cardinality key).

Catches future regressions where a join condition is dropped, a
broadcast threshold change degrades a plan, or someone writes
``Window.orderBy`` without a partitioner — without executing
anything: we inspect the pre-AQE physical plan.

Streaming queries are excluded — building them executes a drain."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from fin_trade_craft_spark.queries import all_queries  # noqa: E402

from conftest import SF_SMOKE  # noqa: E402

# Queries allowed to keep an unpartitioned window, each with the
# reason its window input is BOUNDED (so one task is fine):
UNPARTITIONED_WINDOW_ALLOWED = {
    # rank-stamps the 20 survivors of a distributed TakeOrdered limit
    "embedding_near_dupes": "window runs over the top-20 LIMIT output",
}


def _iter_nodes(jnode):
    yield jnode
    children = jnode.children()
    for i in range(children.size()):
        yield from _iter_nodes(children.apply(i))


def unpartitioned_windows(df) -> list[str]:
    """Window-family physical nodes with an EMPTY partition spec in
    df's pre-AQE physical plan (each forces a single-task stage)."""
    out = []
    plan = df._jdf.queryExecution().sparkPlan()
    for nd in _iter_nodes(plan):
        cls = nd.getClass().getSimpleName()
        if cls in ("WindowExec", "WindowInPandasExec", "WindowGroupLimitExec"):
            if nd.partitionSpec().isEmpty():
                out.append(f"{cls}: {nd.simpleString(200)}")
    return out


def test_no_cartesian_product_in_any_plan(spark):
    offenders = {}
    for name, fn in sorted(all_queries().items()):
        if name.startswith("streaming_"):
            continue
        df = fn(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().sparkPlan().toString()
        if "CartesianProduct" in plan:
            offenders[name] = [
                ln.strip() for ln in plan.splitlines() if "CartesianProduct" in ln
            ][:2]
    assert not offenders, f"CartesianProduct planned in: {offenders}"


# Ceiling on ShuffleExchange NODES in a query's compiled physical
# tree (post-EnsureRequirements, AQE wrapper unwrapped via
# initialPlan — walking the AdaptiveSparkPlanExec's empty children()
# would count zero everywhere). The tree walk is session-stable
# (cached frames appear as one InMemoryTableScan leaf; a warmer
# session can only LOWER the count), unlike the plan-STRING Exchange
# count (PLANS.md's metric), which reprints cached subtrees once per
# consumer and swung 114→240+ for pagerank depending on which memo
# caches existed. r09 verdict task 5: an unrolled iterative loop is
# exactly what grows this without bound (~2 exchanges per unrolled
# round — a 20-round pagerank would compile ~42); the
# PR_CKPT_EVERY=3 lineage cadence keeps pagerank at 2, and today's
# repo-wide max is 18 (database_summary).
PLAN_EXCHANGE_NODE_CEILING = 32


def _unwrap_aqe(p):
    if p.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return p.initialPlan()
    return p


def _iter_physical(jnode):
    yield jnode
    children = jnode.children()
    for i in range(children.size()):
        yield from _iter_physical(_unwrap_aqe(children.apply(i)))


def test_iterative_plan_growth_bounded(spark):
    offenders = {}
    for name, fn in sorted(all_queries().items()):
        if name.startswith("streaming_"):
            continue
        df = fn(spark, SF_SMOKE)
        plan = _unwrap_aqe(df._jdf.queryExecution().executedPlan())
        n = sum(
            1
            for nd in _iter_physical(plan)
            if nd.getClass().getSimpleName().startswith("ShuffleExchange")
        )
        if n > PLAN_EXCHANGE_NODE_CEILING:
            offenders[name] = n
    assert not offenders, (
        f"compiled plans exceed {PLAN_EXCHANGE_NODE_CEILING} shuffle-exchange nodes "
        f"(unbounded iterative unrolling? add a lineage checkpoint cadence): {offenders}"
    )


def test_no_unpartitioned_window_in_any_plan(spark):
    offenders = {}
    for name, fn in sorted(all_queries().items()):
        if name.startswith("streaming_") or name in UNPARTITIONED_WINDOW_ALLOWED:
            continue
        df = fn(spark, SF_SMOKE)
        hits = unpartitioned_windows(df)
        if hits:
            offenders[name] = hits[:2]
    assert not offenders, f"unpartitioned WindowExec planned in: {offenders}"


def test_hierarchical_tier_plans_are_clean(spark):
    """r06: the registry lint sees the DEFAULT (flat) tier at smoke
    scale; this lints the hierarchical-quantizer plans of the wired
    consumers too — no CartesianProduct, no unpartitioned windows.
    (Building these runs the quantizer training actions — same
    eager-build caveat as daily_screener.)"""
    from fin_trade_craft_spark.queries import similarity as SQ

    spark.conf.set(SQ.QUANTIZER_CONF, "hierarchical")
    try:
        for name in ("semdedup", "ivf_search", "incremental_semdedup_ingest"):
            df = all_queries()[name](spark, SF_SMOKE)
            plan = df._jdf.queryExecution().sparkPlan().toString()
            assert "CartesianProduct" not in plan, name
            hits = unpartitioned_windows(df)
            assert not hits, f"{name}: {hits}"
    finally:
        spark.conf.unset(SQ.QUANTIZER_CONF)


# Queries whose CONSTRUCTION legitimately launches Spark jobs, each
# with the reason the work cannot be a single lazy plan. Everything
# else must build with ZERO jobs (VERDICT r06 task 2: the lint's
# "inspect every plan without executing anything" premise).
CONSTRUCTION_JOBS_ALLOWED = {
    # --- k-means coarse-quantizer trainers: the codebook is a
    # driver-side numpy matrix produced by Lloyd iterations (each a
    # Spark aggregate job) and shipped in the assignment closure —
    # index BUILD, memoized per (data, filter, k) fingerprint.
    "kmeans_centroids": "trains the codebook (Lloyd rounds are jobs)",
    "ivf_assignments": "trains the codebook",
    "ivf_search": "trains the codebook",
    "ann_recall": "trains the codebook + query-matrix collect",
    "semdedup": "trains the codebook",
    "semantic_cluster_labels": "trains the codebook",
    "semdedup_quality_representatives": "trains the codebook",
    "hierarchical_level1_centroids": "trains the level-1 codebook",
    "hierarchical_assignments": "trains both quantizer levels",
    "hierarchical_cell_stats": "trains both quantizer levels",
    "incremental_semdedup_ingest": "re-trains on the base snapshot",
    "knn_bruteforce": "query-matrix collect (benchmark-sized by contract)",
    "hybrid_retrieval_rrf": "semantic side's query-matrix collect (3 vectors)",
    "mmr_diversified_retrieval": "query-matrix collect (3 vectors)",
    # --- driver-coordinated iteration: per-round convergence probes
    # / lineage cuts are actions by design (unrolling to a fixed
    # round count would drop the convergence guarantee).
    "pq_codebook": "driver-coordinated per-subspace Lloyd (codebook build)",
    "pq_adc_search": "PQ training + query-matrix collect (probe set)",
    "pq_rerank_search": "PQ training + query-matrix collect (probe set)",
    "jl_distortion_audit": "query-matrix collect (probe set)",
    "ivf_pq_search": "trains both quantizers + query-matrix collect",
    "pq_tier_recall": "trains both quantizers + query-matrix collect",
    "dedup_clusters": "component edge checkpoint + driver edge fetch",
    "leakage_safe_split": "component edge checkpoint + driver edge fetch",
    "bpe_convergent_merges": "per-round argmax convergence probe (1-row collect)",
    # --- r12: the temperature-mixture pow chain is computed driver-
    # side (JVM Math.pow diverges 1 ulp from the libm pow DuckDB and
    # CPython share — the sf5 sweep caught the decimal quantization
    # leaking at grain boundaries); the per-source totals collect is
    # one row per corpus source by contract.
    "source_mixture_weights": "per-source totals collect (pow chain on driver)",
    "mixture_epoch_expansion": "per-source totals collect (pow chain on driver)",
    "corpus_build": "dedup-ladder capstone: two component edge checkpoints + driver edge fetches + codebook training",
    "corpus_build_ingest": "one-time index publish (the initial build) + batch stage checkpoints + codebook load",
    "pagerank_copurchase": "per-iteration lineage cut (localCheckpoint)",
    "label_propagation_communities": "per-iteration lineage cut (localCheckpoint)",
    # quality_classifier_filter left this list in r09: it now applies
    # the frozen artifact (training moved to the pytest harness), so
    # its construction is job-free like any other single-plan query.
    # --- sketch-then-verify: the freqItems candidate sweep is a
    # driver-side sketch whose output parameterizes the verify plan.
    "frequent_tokens": "freqItems sketch collect feeds the verify filter",
    # --- measured materialization boundary: a lazy persist lets the
    # strategy branches race the cache (13.8s vs 8.0s at sf0.1, see
    # domain/trading_signals.all_signals), so the feature frame is
    # persisted and filled by one count() at construction.
    "fin_signals_pipeline": "eager feature persist + count (measured 1.7x)",
    # --- r12 optimization round: measured materialization
    # boundaries — a dozens-of-rows shared frame whose consumers
    # (broadcast builds + main branch) each re-ran the full panel /
    # corpus lineage without the cut (before-plans: base table
    # scanned 4-8x, zero exchange reuse).
    "feature_mi_ranking": "eager cell-count checkpoint (panel ran 4x)",
    "inverse_variance_weights": "eager topk/pv checkpoints (tick lineage ran 4x)",
    "pairs_spread_zscore": "eager pair/calendar checkpoints (panel argmax ran per broadcast build)",
    "robust_outlier_mad": "eager med/MAD checkpoints (rank pass ran per broadcast build)",
}


def test_construction_launches_no_jobs(spark):
    """Constructing any registered single-plan query must launch
    ZERO Spark jobs — plans are inspectable without executing
    anything. Queries on CONSTRUCTION_JOBS_ALLOWED (trainers,
    driver-coordinated iteration, sketch collects, one measured
    materialization boundary) and the streaming batch-harnesses
    (building them RUNS the stream) are exempt."""
    sc = spark.sparkContext

    def njobs():
        return sc._jsc.sc().dagScheduler().numTotalJobs()

    offenders = {}
    for name, fn in sorted(all_queries().items()):
        if name.startswith("streaming_") or name in CONSTRUCTION_JOBS_ALLOWED:
            continue
        before = njobs()
        fn(spark, SF_SMOKE)
        after = njobs()
        if after != before:
            offenders[name] = after - before
    assert not offenders, f"construction-time Spark jobs in: {offenders}"
