"""Differential tests: graph-analytics queries vs their DuckDB
oracles at sf0.001, plus a hand-checkable planted-triangle case."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.check_correctness import compare  # noqa: E402

from fin_trade_craft_spark.queries import graph  # noqa: E402

from conftest import SF_SMOKE  # noqa: E402


@pytest.mark.parametrize("name", sorted(graph.QUERIES))
def test_graph_vs_oracle(spark, duck, name):
    sdf = graph.QUERIES[name](spark, SF_SMOKE).toPandas()
    odf = duck.execute(graph.ORACLES[name]).df()
    assert len(sdf) > 0, f"{name}: empty result"
    ok, msg = compare(sdf, odf)
    assert ok, f"{name}: {msg}"


def test_triangle_count_planted(spark, tmp_path):
    """Planted lineitem graph: parts {1,2,3} pairwise co-ordered in
    2 orders each (one triangle), part 4 attached to 1 and 2 by
    only ONE co-order (edges thinned away by the ≥2 threshold).
    Expect exactly: 3 nodes, 3 edges, 1 triangle, clustering 1.0."""
    rows = []
    # orders 100/101: contain parts 1,2,3 -> all three pairs twice
    for ok_ in (100, 101):
        for pk in (1, 2, 3):
            rows.append((ok_, pk))
    # order 102: parts 1,2,4 -> pairs (1,4),(2,4) once; (1,2) a 3rd time
    for pk in (1, 2, 4):
        rows.append((102, pk))
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    got = graph.graph_triangle_stats(spark, str(tmp_path)).collect()[0]
    assert (got.n_nodes, got.n_edges, got.n_triangles) == (3, 3, 1)
    assert got.avg_degree == 2.0
    assert got.clustering_coeff == 1.0


def test_pagerank_mass_and_symmetry(spark, tmp_path):
    """On the planted symmetric triangle: total PageRank mass is
    conserved (no dangling nodes) and symmetric nodes score equal
    1/3 exactly at every iteration."""
    rows = []
    for ok_ in (100, 101):
        for pk in (1, 2, 3):
            rows.append((ok_, pk))
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    got = graph.pagerank_copurchase(spark, str(tmp_path)).collect()
    prs = {r.p: r.pagerank for r in got}
    assert set(prs) == {1, 2, 3}
    assert abs(sum(prs.values()) - 1.0) < 1e-9
    assert len({round(v, 12) for v in prs.values()}) == 1


def test_degree_orientation_equals_id_orientation_under_hub_skew(spark):
    """Planted hub: node 0 (smallest id, largest degree) connects to
    every spoke; consecutive spokes are chained, so every triangle is
    (0, i, i+1). Degree and id orientation must count identically,
    while the degree-oriented wedge fan-out stays O(1) per source
    where the id orientation concentrates C(hub_degree, 2) wedges in
    the hub's task."""
    from pyspark.sql import functions as F

    from fin_trade_craft_spark.queries.graph import (
        degree_oriented_edges,
        triangle_count,
        triangles_id_oriented,
    )

    n = 60  # spokes 1..60
    hub_edges = [(0, i) for i in range(1, n + 1)]
    chain = [(i, i + 1) for i in range(1, n)]
    e = spark.createDataFrame(hub_edges + chain, "p1 long, p2 long")
    deg = (
        e.select(F.col("p1").alias("p"))
        .unionByName(e.select(F.col("p2").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    got = triangle_count(e, deg, pins=[]).collect()[0]["n_triangles"]
    want = triangles_id_oriented(e).collect()[0]["n_triangles"]
    assert got == want == n - 1

    # wedge fan-out bound: per-source wedge work = C(outdeg, 2)
    o = degree_oriented_edges(e, deg)
    out_deg = o.groupBy("src").agg(F.count(F.lit(1)).alias("od")).toPandas()
    max_wedges_deg = int((out_deg["od"] * (out_deg["od"] - 1) // 2).max())
    # id orientation: hub (id 0, degree n) owns C(n, 2) wedges
    max_wedges_id = n * (n - 1) // 2
    assert max_wedges_deg <= 3  # spokes have out-degree <= 3 (chain x2 + hub)
    assert max_wedges_id == 1770  # the skew the degree orientation removes
    # the hub emits NO wedges at all — its edges all point into it
    assert 0 not in set(out_deg["src"])
