"""Capture ``explain("formatted")`` output for bench queries into
``plans/$PLANS_ROUND/<query>_<tag>.txt`` (default r13) — the before/after evidence files the
optimization round commits alongside OPTIMIZATION_r{N}.md.

Usage:
    python tools/capture_plans.py <tag> [query ...]
        tag     = "before" | "after" (file suffix)
        query   = bench query names; default: every bench query

Plans are produced without executing the query (initial plan under
AQE), except queries whose construction collects bounded driver
scalars (codebooks, |V|) — same caveat as tools/plan_report.py.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    from fin_trade_craft_spark.queries import all_queries

    spark = bench.open_session("capture-plans")
    queries = all_queries()
    if not names:
        names = bench.bench_query_names()

    out_dir = Path(__file__).resolve().parent.parent / "plans" / os.environ.get("PLANS_ROUND", "r13")
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        df = queries[name](spark, sf_dir)
        txt = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (out_dir / f"{name}_{tag}.txt").write_text(txt)
        print(f"wrote {name}_{tag}.txt ({len(txt)} bytes)")


if __name__ == "__main__":
    main()
