"""Memo storage-bound measurement.

One long-lived session runs the corpus family at several dataset
scales in sequence (default sf0.1, then the local sf1 and sf5
replicas). The session memos (enriched docs, LSH state, semantic
state, k-means codebooks, ladder survivors) are grouped per dataset
and LRU-evicted beyond capacity 2 (`operators/memo.py`), so executor
storage after the third dataset must be about the two most recent
datasets' footprint, not the sum an unbounded memo would hold.

Prints a markdown table for SCALING.md: per dataset, the memo
residency (cached RDDs and their memory plus disk storage) after that
dataset's queries ran, and the per-memo dataset-group lists.

Usage: python tools/memo_scale_probe.py [sf_dir ...]
       (defaults: /root/testdata/sf0.1 .testdata/sf1 .testdata/sf5)
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import memo_residency, open_session, run_attempts  # noqa: E402

QUERIES = ["minhash_near_dupes", "semdedup", "corpus_build_ingest"]


def memo_groups() -> dict[str, list[str]]:
    from fin_trade_craft_spark.operators.memo import _REGISTRY

    return {
        m.name: [os.path.basename(str(d)) for d in m.datasets()]
        for m in _REGISTRY
        if len(m)
    }


def main() -> None:
    dirs = sys.argv[1:] or [
        "/root/testdata/sf0.1",
        os.path.join(ROOT, ".testdata/sf1"),
        os.path.join(ROOT, ".testdata/sf5"),
    ]
    spark = open_session("memo-scale-probe")

    rows = []
    for d in dirs:
        for q in QUERIES:
            run_attempts(spark, q, d, 1)
        rows.append((os.path.basename(d.rstrip("/")), memo_residency(spark), memo_groups()))

    print("| after dataset | cached RDDs | storage | live memo dataset-groups |")
    print("|---|---|---|---|")
    for name, res, groups in rows:
        gs = "; ".join(f"{k}: {v}" for k, v in sorted(groups.items()))
        print(f"| {name} | {res['cached_rdds']} | {res['storage_mb']:.1f} MB | {gs} |")

    if len(rows) >= 3:
        first, last = rows[0], rows[-1]
        print(
            f"\nbound check: after {last[0]} the session holds {last[1]['storage_mb']:.1f} MB"
            f" (capacity-2 window = the two most recent datasets);"
            f" {first[0]}-era groups evicted: {first[0] not in str(last[2])}"
        )


if __name__ == "__main__":
    main()
