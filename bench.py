"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default 32)
and prints ONE compact JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "sf": <sf>, "n_queries": <n>, "queries": {name: sec, ...}}
The driver tail-captures only the last 2,000 chars of stdout, and
the 88 query names alone weigh 1,999 bytes as JSON keys (measured
r13) — a COMPLETE per-query map cannot physically fit, whatever the
value encoding (centisecond ints: 2,239 B; 2-decimal floats:
2,354 B). The ``queries`` map therefore carries the most expensive
queries first, greedily, up to a 1,900-byte line budget (~70 of 88
entries — every multi-second query is visible), with
``queries_omitted`` counting the cheap tail that did not fit. The
COMPLETE per-query timings and both cold/warm attempts go to the
``BENCH_ATTEMPTS.json`` sidecar next to this script. Spark's
console progress bar is suppressed for this session — its stage
spam (~1.9 KB of the r12 tail capture) would otherwise evict the
headline line from the driver's window.

Each query is fully materialized through the noop sink so every
column is computed (a bare count() would let Catalyst prune the
work).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def bench_query_names() -> list[str]:
    """Representative headline set: one per operator family, heavy
    enough to measure. Grows as modules land."""
    from fin_trade_craft_spark.queries import all_queries

    preferred = [
        "pricing_summary",
        "conditional_pivot_agg",
        "top_revenue_customers",
        "regional_revenue",
        "order_fill_left_join",
        "latest_order_per_customer",
        "top_orders_per_segment",
        "segment_percentile_bounds",
        # window / time-series family
        "nation_trade_volume",
        "rolling_user_features",
        "user_session_stats",
        "calendar_gap_fill",
        "sma_crossover_signals",
        "rsi_zone_signals",
        "hourly_event_rollup",
        "asof_enrichment",
        "ema_features",
        "fin_signals_pipeline",
        # LLM-data-pipeline family
        "doc_quality_scores",
        "doc_repetition_filter",
        "doc_chunks",
        "json_props_stats",
        # r04: VARIANT twin of json_props_stats (parse-once binary
        # encoding vs per-access string re-parse), unigram-LM
        # perplexity-proxy scoring, perceptual-hash image dedup
        "variant_props_stats",
        "unigram_logprob_scores",
        "image_ahash_near_dupes",
        "eval_contamination",
        "boilerplate_ngrams",
        # r04: span-level substring dedup (maximal duplicated extents)
        "duplicate_spans",
        "tfidf_top_terms",
        # candidate-bounded exact-Jaccard tier: the full-corpus
        # quadratic variant (dedup_ngram_jaccard) stays an oracle
        # correctness query at sf0.01 but is NOT benched — its
        # shingle self-join dies at 100×
        "dedup_jaccard_verified",
        "minhash_near_dupes",
        "simhash_hamming_pairs",
        "srp_lsh_near_dupes",
        "knn_bruteforce",
        "ivf_search",
        "multimodal_metadata",
        # r03 additions: scan-bound TPC-H shape (pure pushdown cost)
        # and the real PNG decode->resize->encode codec path
        "forecast_revenue_change",
        "image_resize_pixelsum",
        # skew scale-path
        "salted_skew_join",
        # r04 late: compressed-domain ANN re-rank, CDC diff, SCD2
        # dimension build, iterative PageRank (Pregel-round shape)
        "sq8_rerank_search",
        "snapshot_diff",
        "scd2_build",
        "pagerank_copurchase",
        # semantic dedup tier + graph stats (kernel + wedge-join paths)
        "semdedup",
        "graph_triangle_stats",
        # r05: corpus-scaling k-means quantizer build, probe-only
        # incremental semantic ingest, and the two distributed
        # total-order rework targets (screener percent-ranks,
        # per-lang curriculum NTILE)
        "kmeans_centroids",
        "incremental_semdedup_ingest",
        "daily_screener",
        # r11: chart-input extraction (screener picks -> latest-N
        # bars + MA overlays), the last reference-surface leftover
        "top25_chart_input",
        "length_curriculum_buckets",
        # r05 late: two-level quantizer build (the extreme-scale
        # tier), DSIR data-selection weights, interpolated bigram LM
        "hierarchical_cell_stats",
        "dsir_importance_weights",
        "bigram_interpolated_scores",
        # r06: the sequential trade-simulator island (U5) — the one
        # operator family that had no headline entry — and BM25
        # lexical retrieval (posting-filtered scoring join)
        "backtest_sma_events",
        "bm25_retrieval",
        # r07: the full greedy BPE merge loop (vocabulary-sized
        # iteration after one corpus wordcount)
        "bpe_merge_rounds",
        # r08: the corpus-curation capstone — exact dedup → MinHash
        # LSH → SemDeDup → quality gate → mixture → shard packing,
        # composed in one ladder with survivor restriction
        "corpus_build",
        # r08: RAG-stack hybrid retrieval (BM25 ⊕ cosine, RRF-fused)
        "hybrid_retrieval_rrf",
        # r08 late: PQ/ADC serving path (code-scan + exact rerank),
        # MMR diversity re-rank, near-dup-aware train/eval split
        "pq_rerank_search",
        "ivf_pq_search",
        "mmr_diversified_retrieval",
        "leakage_safe_split",
        # r09: the incremental curation capstone — a new batch flows
        # the full ladder against the existing corpus's indexes
        # without re-clustering history
        "corpus_build_ingest",
        # r10: the PRODUCTION refresh shape — same ladder, prior
        # state read from the TableIO-published index tables (no
        # session-memo recompute in the plan)
        "corpus_build_ingest_stored",
        # r10 late: the exact-substring CUT step (span extents applied
        # to the corpus), synchronous label-propagation communities
        # (second Pregel-round family), and the nearest-direction
        # as-of join (two-sided bounded candidate set)
        "duplicate_span_removal",
        "label_propagation_communities",
        "asof_nearest_match",
        # r10 late: fin-ML dataset prep — rank-exact MAD outlier
        # screen (two rank windows + broadcast median probe),
        # purged walk-forward fold manifests, and triple-barrier
        # labeling (fixed-width lead-array window scan)
        "robust_outlier_mad",
        "purged_walkforward_splits",
        "triple_barrier_labels",
        "frac_diff_features",
        "label_uniqueness_weights",
        # r10 late: microstructure family (exact-cents dollar bars,
        # Roll/Amihud/Kyle liquidity panel) and the event-sampling /
        # meta-labeling pair feeding the label queries
        "dollar_bars",
        "microstructure_liquidity",
        "meta_labels",
        "cusum_event_filter",
        "volatility_estimators",
        "vpin_dollar_buckets",
        "bet_sizing_expanding",
        "cusum_sampled_labels",
        "realized_variance_jumps",
        "feature_mi_ranking",
        "triple_barrier_dynamic",
        "return_moments",
        "tick_imbalance_bars",
        "drawdown_panel",
        "pairs_spread_zscore",
        "inverse_variance_weights",
    ]
    available = all_queries()
    return [q for q in preferred if q in available]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from fin_trade_craft_spark.queries import all_queries
    from fin_trade_craft_spark.session import get_spark

    spark = get_spark(
        "bench",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        # The driver reads only the last 2,000 chars of stdout; the
        # console progress bar's stage spam filled ~1.9 KB of the
        # BENCH_r12 tail window. Static conf — only effective when
        # this process creates the SparkContext (always true for a
        # driver-run bench).
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # Warm the JVM + parquet footers + the Python/Arrow worker pool
    # once so per-query numbers measure the plan, not first-touch
    # JIT or pandas-worker startup.
    spark.read.parquet(f"{sf_dir.rstrip('/')}/region.parquet").count()
    warm = spark.createDataFrame([(1, 1.0)], "k int, v double")
    warm.groupBy("k").applyInPandas(lambda p: p, "k int, v double").count()
    # One discarded end-to-end query (scan → codegen'd hash agg →
    # noop sink) at smoke scale: first-query wall otherwise absorbs
    # whole-stage-codegen compilation and writer init (~3s of pure
    # warmup showing up against pricing_summary).
    warm_names = bench_query_names()
    if warm_names:
        smoke = "/root/testdata/sf0.001"
        warm_dir = smoke if os.path.isdir(smoke) else sf_dir
        queries[warm_names[0]](spark, warm_dir).write.format("noop").mode("overwrite").save()

    import gc

    # Each query is timed twice and the MIN is reported: in a
    # single shared JVM, first-touch whole-stage-codegen compilation
    # and GC pauses add 2-10s spikes that vary run-to-run (measured:
    # the same query swinging 1.6s ↔ 9s across bench invocations).
    # min-of-2 reports the steady-state cost of the PLAN. Every
    # cached frame has an owner (operators/memo.py): frames a query
    # owns are released when `del df` drops its result, so attempt 2
    # is as cold as attempt 1; frames a session memo owns (the LSH
    # and semantic dedup state, k-means codebooks, the enriched
    # documents, the graph family's undirected edge frame) stay
    # cached, so attempt 2 of their consumers is WARM — the
    # production serving pattern for built indexes and signature
    # tables.
    # r09 verdict task 3: the session memos made single-number
    # benches order-dependent for the dedup family (a memo-family
    # query's attempt 1 may ride state a sibling built earlier in
    # the same pass). Emit BOTH attempts per query (the
    # tools/scale_curve.py cold/warm convention): attempts[q][0] is
    # the first in-process run (cold for the first memo-family query
    # to touch shared state, warm for siblings after it),
    # attempts[q][1] the repeat. `queries` stays min-of-attempts —
    # the steady-state headline the cross-round tables compare.
    timings: dict[str, float] = {}
    attempts: dict[str, list[float]] = {}
    for name in bench_query_names():
        best = None
        attempts[name] = []
        for _attempt in range(2):
            t0 = time.time()
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            attempts[name].append(round(dt, 3))
            best = dt if best is None else min(best, dt)
            # Release the previous attempt's materialized state
            # promptly: localCheckpoint RDDs are unpersisted via
            # py4j finalizers and pinned results release their
            # caches in __del__, both of which run only when Python
            # GC does — without this, leaked executor storage from
            # earlier queries inflates later ones. No clearCache():
            # it would also drop the session memos' frames, which
            # later queries are meant to reuse.
            del df
            gc.collect()
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    print(headline_line(total, sf, timings, attempts))


def headline_line(total: float, sf: float, timings: dict[str, float],
                  attempts: dict[str, list[float]]) -> str:
    """Build the ONE stdout line the driver tail-captures, writing the
    complete per-query maps to the ``BENCH_ATTEMPTS.json`` sidecar.

    History of the budget (r10→r13): the driver captures only the
    LAST 2,000 characters of stdout. The full 88-entry ``queries``
    map is ~2.4 KB however the values are encoded (the names alone
    are 1,999 bytes of JSON keys), so r10/r11's complete-map line
    recorded ``parsed: null`` and r12's ≤200-byte scalar-only line
    parsed but left the driver's per-query comparator and scaling
    block empty (PERF_r12 ``n_common: 0``). r12 VERDICT task #1 asks
    for the map back within the tail window; since the complete map
    cannot fit, the line carries the MOST EXPENSIVE queries first,
    greedily, while the whole line stays ≤1,900 bytes (~70 entries —
    every query the perf story turns on), plus ``queries_omitted``
    for the cheap tail. Entries can only ever be ADDED vs r12's empty
    map. ``tests/test_bench_contract.py`` asserts the byte cap and
    the top-cost-first property.
    """
    try:
        sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_ATTEMPTS.json")
        with open(sidecar, "w") as f:
            json.dump({"sf": sf, "queries": timings, "attempts": attempts},
                      f, indent=1)
    except OSError:
        pass  # a read-only checkout must not sink the bench record

    def encode(qmap: dict[str, float], omitted: int) -> str:
        return json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "queries": qmap,
                "queries_omitted": omitted,
            },
            separators=(",", ":"),
        )

    budget = 1900  # headroom under the 2,000-char tail for the
    # trailing newline and any stray late stderr line
    qmap: dict[str, float] = {}
    # most expensive first, name as deterministic tiebreak; keep
    # scanning past a miss — a later (cheaper) query's shorter name
    # may still fit
    for name in sorted(timings, key=lambda n: (-timings[n], n)):
        trial = dict(qmap)
        trial[name] = round(timings[name], 2)
        if len(encode(trial, len(timings) - len(trial)).encode("utf-8")) <= budget:
            qmap = trial
    line = encode(qmap, len(timings) - len(qmap))
    assert len(line.encode("utf-8")) <= budget, len(line)
    return line


if __name__ == "__main__":
    main()
