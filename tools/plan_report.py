"""Generate PLANS.md: a per-query physical-plan feature inventory
over the whole registered batch surface — the auditable evidence
behind the scale claims (how many shuffles each query plans, which
joins broadcast, where the deliberate Python islands are, whether
scans push filters).

Plans are inspected via ``queryExecution().executedPlan()`` (post-
EnsureRequirements so shuffles are visible; under AQE this is the
initial plan) without running the query — except that queries whose
CONSTRUCTION collects bounded driver scalars (column_profile's
stats row, pagerank's |V|, IVF codebooks) execute those bounded
jobs while being built; their returned frame's plan is what is
reported. Streaming queries are excluded (building them drains).
Each query is built on empty session memos and its result dropped
before the next one, so a row never depends on which caches an
earlier query filled.

Usage: python tools/plan_report.py [sf_dir]   (default sf0.001)
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "FlatMapGroupsInPandasWithState",
)


def plan_features(plan: str) -> dict:
    feats = {
        "shuffles": len(re.findall(r"\bExchange hashpartitioning|\bExchange rangepartitioning", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "smj": plan.count("SortMergeJoin"),
        "py": sum(plan.count(n) for n in PY_NODES),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "cartesian": plan.count("CartesianProduct"),
    }
    return feats


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from fin_trade_craft_spark.operators.memo import release_all_memos
    from fin_trade_craft_spark.queries import all_queries
    from fin_trade_craft_spark.session import get_spark

    spark = get_spark("plan-report", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, fn in sorted(all_queries().items()):
        if name.startswith("streaming_"):
            continue
        df = fn(spark, sf_dir)
        # executedPlan (NOT sparkPlan): EnsureRequirements has run, so
        # the shuffle Exchanges are visible; under AQE this prints the
        # initial plan without executing anything
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows.append((name, plan_features(plan)))
        del df
        release_all_memos()

    out = Path(__file__).resolve().parent.parent / "PLANS.md"
    with out.open("w") as f:
        f.write(
            "# PLANS — physical-plan feature inventory (generated by "
            "tools/plan_report.py)\n\n"
            "Pre-AQE physical plans for every registered batch query at "
            f"`{sf_dir}`. Columns: planned shuffle exchanges, broadcast "
            "hash joins, broadcast nested-loop joins (bounded 1-row/"
            "dimension cross joins by construction), sort-merge joins, "
            "Python/Arrow eval nodes (the deliberate pandas islands), "
            "scans with non-empty PushedFilters, cartesian products "
            "(must be 0 — enforced by tests/test_plan_lint.py).\n\n"
            "| query | shuffles | BHJ | BNLJ | SMJ | py | pushed | cartesian |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        tot = {k: 0 for k in rows[0][1]}
        for name, ft in rows:
            for k, v in ft.items():
                tot[k] += v
            f.write(
                f"| {name} | {ft['shuffles']} | {ft['bhj']} | {ft['bnlj']} | "
                f"{ft['smj']} | {ft['py']} | {ft['pushed']} | {ft['cartesian']} |\n"
            )
        f.write(
            f"\n**Totals over {len(rows)} queries:** {tot['shuffles']} shuffles, "
            f"{tot['bhj']} broadcast-hash joins, {tot['bnlj']} broadcast-nested-loop, "
            f"{tot['smj']} sort-merge joins, {tot['py']} Python-eval nodes, "
            f"{tot['pushed']} pushed-filter scans, {tot['cartesian']} cartesian products.\n"
        )
    print(f"wrote {out} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
