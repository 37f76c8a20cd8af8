"""Graph analytics over a co-purchase graph derived from the star
schema — the second graph family next to the near-dup
connected-components operator (operators/dedup.py): build an edge
list (parts co-ordered in ≥2 distinct orders), then count triangles
and report global graph statistics.

Scale notes: the pair generation is bounded per order (an order has
≤7 lineitems → ≤21 pairs), so the explode is linear in lineitems,
never quadratic in parts. Triangle counting uses DEGREE orientation
(node-iterator++): every edge points from its lower-(degree, id)
endpoint to the higher one, wedges fan out from the common SOURCE,
and the closing edge is a semi-join. Orienting by degree (not id)
bounds every node's out-degree by ~√(2m), so a hub of degree d
generates O(m) wedge work instead of the O(d²) an id orientation
can concentrate in one task — the standard skew fix, and the
triangle COUNT is provably identical under any total order (each
triangle is counted once, at its ≺-minimal vertex). The id-oriented
twin (``triangles_id_oriented``) is kept for the differential test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.memo import SessionMemo, pin_on_first_action
from ..sources.catalog import load_table

MIN_CO_ORDERS = 2


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("p2"))
    pairs = a.join(b, "l_orderkey").filter(F.col("p1") < F.col("p2"))
    # countDistinct instead of distinct()+count: one shuffle keyed on
    # the pair (partial dedup on (p1,p2,orderkey) map-side), not two
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.countDistinct("l_orderkey").alias("n_orders"))
        .filter(F.col("n_orders") >= MIN_CO_ORDERS)
        .select("p1", "p2")
    )


def degree_oriented_edges(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Orient each undirected edge (p1 < p2) from its ≺-smaller
    endpoint to the larger, where ≺ = (degree, id) lexicographic.
    Output: (src, dst, dst_deg, dst is carried with its degree so
    wedge pairs can be ≺-ordered without another join)."""
    d1 = deg.select(F.col("p").alias("p1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("p").alias("p2"), F.col("d").alias("d2"))
    ed = e.join(d1, "p1").join(d2, "p2")
    # degree tie ⇒ fall back to id order, and p1 < p2 already holds
    fwd = F.col("d1") <= F.col("d2")
    return ed.select(
        F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("src"),
        F.when(fwd, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
        F.when(fwd, F.col("d2")).otherwise(F.col("d1")).alias("dst_deg"),
    )


def triangle_count(e: DataFrame, deg: DataFrame, pins: list[DataFrame]) -> DataFrame:
    """Degree-oriented (node-iterator++) triangle count: wedges fan
    out from each source over its ≺-ordered out-neighbors, closed by
    a semi-join on the (≺-consistent) third edge. Out-degree under
    degree orientation is ≤ ~√(2m), so per-source wedge fan-out is
    bounded even when a hub holds a constant fraction of all edges
    (the hub's edges all point INTO it — it generates zero wedges).
    The oriented edge frame (read by both wedge sides and the
    closing semi-join) is persisted and appended to ``pins``."""
    o = degree_oriented_edges(e, deg).persist()
    pins.append(o)
    a = o.select("src", F.col("dst").alias("b"), F.col("dst_deg").alias("bd"))
    b = o.select("src", F.col("dst").alias("c"), F.col("dst_deg").alias("cd"))
    wedges = a.join(b, "src").filter(
        (F.col("bd") < F.col("cd"))
        | ((F.col("bd") == F.col("cd")) & (F.col("b") < F.col("c")))
    )
    # the closing edge of a ≺-ordered wedge (b ≺ c) is oriented b→c
    return wedges.join(
        o.select(F.col("src").alias("b"), F.col("dst").alias("c")),
        ["b", "c"],
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("n_triangles"))


def triangles_id_oriented(e: DataFrame) -> DataFrame:
    """The id-oriented twin (r04 shape) — value-identical count, but
    a small-id hub concentrates O(d²) wedges in one task; kept as
    the differential/parity reference for the skew tests."""
    e2 = e.select(F.col("p1").alias("q1"), F.col("p2").alias("q2"))
    wedges = e.join(e2, e.p2 == e2.q1).select(F.col("p1").alias("a"), F.col("q2").alias("c"))
    return wedges.join(
        e.select(F.col("p1").alias("a"), F.col("p2").alias("c")), ["a", "c"], "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_triangles"))


def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One stats row: nodes, edges, triangles, average degree, and
    the global clustering coefficient (3·triangles / wedges)."""
    e = _edges(spark, sf_dir).persist()
    deg = (
        e.select(F.col("p1").alias("p"))
        .unionByName(e.select(F.col("p2").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
        .persist()  # feeds orientation, wedge total, node count
    )
    pins = [e, deg]
    tri = triangle_count(e, deg, pins)
    wedge_total = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long")).alias("n_wedges")
    )
    # deg has exactly one row per node by construction — deriving
    # n_nodes from it saves the union+distinct shuffle over edges
    counts = (
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(tri)
        .crossJoin(wedge_total)
    )
    stats = counts.select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        (F.lit(2.0) * F.col("n_edges") / F.col("n_nodes")).alias("avg_degree"),
        F.when(
            F.col("n_wedges") > 0, F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )
    return pin_on_first_action(stats, pins, fill=False)


ORACLE_GRAPH_TRIANGLE_STATS = f"""
WITH pairs AS (
  SELECT DISTINCT a.l_orderkey, a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
), edges AS MATERIALIZED (
  SELECT p1, p2 FROM pairs GROUP BY p1, p2 HAVING COUNT(*) >= {MIN_CO_ORDERS}
), nodes AS (
  SELECT DISTINCT p FROM (SELECT p1 AS p FROM edges UNION ALL SELECT p2 FROM edges)
), tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges e1 JOIN edges e2 ON e1.p2 = e2.p1
  WHERE EXISTS (SELECT 1 FROM edges e3 WHERE e3.p1 = e1.p1 AND e3.p2 = e2.p2)
), deg AS (
  SELECT p, COUNT(*) AS d FROM (SELECT p1 AS p FROM edges UNION ALL SELECT p2 FROM edges)
  GROUP BY p
), wt AS (
  SELECT CAST(SUM(CAST(d * (d - 1) / 2 AS BIGINT)) AS BIGINT) AS n_wedges FROM deg
)
SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       (SELECT n_triangles FROM tri) AS n_triangles,
       2.0 * (SELECT COUNT(*) FROM edges) / (SELECT COUNT(*) FROM nodes) AS avg_degree,
       CASE WHEN (SELECT n_wedges FROM wt) > 0
            THEN 3.0 * (SELECT n_triangles FROM tri) / (SELECT n_wedges FROM wt)
            ELSE 0.0 END AS clustering_coeff
"""

PR_ITERS = 5
PR_DAMP = 0.85
# Lineage-checkpoint cadence for iterative loops (r09 verdict task
# 5): every K rounds the rank frame is localCheckpoint-ed, so the
# compiled plan grows with K (bounded), not with the ITERATION COUNT
# — an unrolled 5-round loop compiled ~337 shuffle nodes and a
# 20-round variant would have compiled ~1300. The cadence trades one
# extra materialization per K rounds (the |V|-row rank frame —
# iteration state a production run persists anyway) for a plan whose
# size the lint can bound (tests/test_plan_lint.py::
# test_iterative_plan_growth_bounded).
PR_CKPT_EVERY = 3

# Session memo of the undirected (both-directions) co-purchase edge
# frame: pagerank_copurchase and label_propagation_communities both
# iterate over it, and a session running both builds it once.
_EDGES_MEMO = SessionMemo("copurchase_edges")


def _undirected_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.catalog import path_stamp

    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        path_stamp(os.path.join(sf_dir, "lineitem.parquet")),
    )
    edges = _EDGES_MEMO.get(key, dataset=key[1])
    if edges is None:
        e = _edges(spark, sf_dir)
        edges = _EDGES_MEMO.put(
            key,
            e.select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
            .unionByName(e.select(F.col("p2").alias("src"), F.col("p1").alias("dst")))
            .persist(),
            dataset=key[1],
        )
    return edges


def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the (undirected) co-purchase
    graph — the iterative-algorithm shape (label propagation, SimRank,
    embedding propagation all share it) expressed as a deterministic
    unrolled loop with a full value oracle: 5 synchronous iterations,
    damping 0.85, PR₀ = 1/N.

    Bit-exactness across engines: each iteration's neighbor sum uses
    the repo's fixed-point discipline (floor(x·1e12+0.5) accumulated
    as BIGINT) so the reduction is order-independent — the one thing
    a naive double sum can't give you on a shuffled graph. The
    undirected graph has no dangling nodes (degree ≥ 1 by
    construction), so no dangling-mass term.

    Scale shape: per iteration, one shuffle joining ranks to edges
    on src plus one hash aggregate on dst — the canonical Pregel
    round as DataFrame ops. The rank frame (|V| rows) is the only
    state carried between rounds; at 100 TB you'd checkpoint it
    every few rounds to truncate lineage (same note as
    connected_components, operators/dedup.py)."""
    edges = _undirected_edges(spark, sf_dir)
    # every reused frame is (lazily) persist()-ed: deg feeds the
    # |V| count, the final join AND the per-round division — without
    # the cache each consumer re-runs the lineitem self-join
    # (measured 2-3× the whole query). The per-round convergence
    # probes (construction-jobs exemption) fill these caches before
    # the final plan reads them, so no sibling-branch race applies.
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    # hoist the degree join out of the loop: each Pregel round is
    # then ONE join (ranks on src) + ONE aggregate (on dst) —
    # measured 4.2s -> 3.5s steady-state at sf0.1 together with the
    # reuse checkpoints above; the floor is per-round scheduling
    edges_deg = edges.join(deg, "src").persist()
    n_nodes = deg.count()  # bounded driver scalar: |V|
    ranks = deg.select("src", F.lit(1.0 / n_nodes).alias("pr"))
    fx = "CAST(floor((contrib) * 1e12 + 0.5) AS BIGINT)"
    for it in range(PR_ITERS):
        contribs = edges_deg.join(ranks, "src").select(
            "dst", (F.col("pr") / F.col("deg")).alias("contrib")
        )
        summed = contribs.groupBy("dst").agg(
            (F.sum(F.expr(fx)).cast("double") / F.lit(1e12)).alias("s")
        )
        ranks = summed.select(
            F.col("dst").alias("src"),
            (F.lit((1.0 - PR_DAMP) / n_nodes) + F.lit(PR_DAMP) * F.col("s")).alias("pr"),
        )
        # lineage cut every PR_CKPT_EVERY rounds (and never after the
        # last — the final plan keeps its tail rounds inspectable):
        # plan size is now O(CKPT_EVERY), independent of PR_ITERS
        if (it + 1) % PR_CKPT_EVERY == 0 and it != PR_ITERS - 1:
            ranks = ranks.localCheckpoint(eager=True)
    out = ranks.join(deg, "src").select(
        F.col("src").alias("p"), F.col("pr").alias("pagerank"), "deg"
    )
    # construction already filled both caches (the |V| count and the
    # round checkpoints): the pins are there for the release
    return pin_on_first_action(out, [deg, edges_deg], fill=False)


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank oracle — generated, since 5
    hand-written iteration CTEs would be pure repetition."""
    head = f"""
WITH pairs AS (
  SELECT DISTINCT a.l_orderkey, a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
), e0 AS (
  SELECT p1, p2 FROM pairs GROUP BY p1, p2 HAVING COUNT(*) >= {MIN_CO_ORDERS}
), edges AS MATERIALIZED (
  SELECT p1 AS src, p2 AS dst FROM e0 UNION ALL SELECT p2, p1 FROM e0
), deg AS (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
), nn AS (
  SELECT COUNT(*) AS n FROM deg
), r0 AS (
  SELECT src, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM deg
)"""
    body = ""
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        body += f""", c{i} AS (
  SELECT e.dst,
         CAST(SUM(CAST(floor((r.pr / d.deg) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS s
  FROM edges e JOIN {prev} r ON e.src = r.src JOIN deg d ON e.src = d.src
  GROUP BY e.dst
), r{i} AS (
  SELECT dst AS src,
         CAST({(1.0 - PR_DAMP)!r} AS DOUBLE) / (SELECT n FROM nn)
           + CAST({PR_DAMP!r} AS DOUBLE) * s AS pr
  FROM c{i}
)"""
        prev = f"r{i}"
    tail = f"""
SELECT r.src AS p, r.pr AS pagerank, d.deg
FROM {prev} r JOIN deg d ON r.src = d.src
"""
    return head + body + tail


ORACLE_PAGERANK_COPURCHASE = _pagerank_oracle()

LPA_ITERS = 4


def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) over the co-purchase graph — the third iterative graph
    operator next to PageRank and the dedup connected-components.
    L0(v) = v; each round every node adopts the most frequent label
    among its neighbors, ties → smallest label. A FIXED round count
    with a deterministic tie-break makes synchronous LPA (which can
    oscillate if run to convergence) a pure integer fixed-point —
    bit-exact across engines with no float discipline needed.

    Scale shape: per round one shuffle joining labels to edges on src
    plus two hash aggregates — the (node, label) frequency count and
    the per-node argmax (min over (-count, label) structs, one agg,
    no window) — the canonical Pregel round as DataFrame ops. The
    label frame (|V| rows) is the only carried state; lineage is cut
    every PR_CKPT_EVERY rounds, same cadence (and plan-growth lint
    bound) as pagerank_copurchase."""
    edges = _undirected_edges(spark, sf_dir)
    labels = edges.select("src").distinct().select("src", F.col("src").alias("lab"))
    for it in range(LPA_ITERS):
        nb = edges.join(labels, "src").select(F.col("dst").alias("p"), "lab")
        cnt = nb.groupBy("p", "lab").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            cnt.groupBy("p")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("lab").alias("lab"))).alias("m"))
            .select(F.col("p").alias("src"), F.col("m.lab").alias("lab"))
        )
        if (it + 1) % PR_CKPT_EVERY == 0 and it != LPA_ITERS - 1:
            # same lineage-cut cadence (and construction-jobs lint
            # exemption) as pagerank_copurchase: under AQE even a
            # lazy localCheckpoint materializes the upstream shuffle
            # stages, so the cut is an action by design
            labels = labels.localCheckpoint(eager=True)
    sizes = labels.groupBy("lab").agg(F.count(F.lit(1)).alias("community_size"))
    return labels.join(sizes, "lab").select(
        F.col("src").alias("p"), F.col("lab").alias("community"), "community_size"
    )


def _lpa_oracle() -> str:
    """Unrolled synchronous-LPA oracle — generated like the pagerank
    one; every step is integer counts + ROW_NUMBER, so the replay is
    exact with no float policy."""
    head = f"""
WITH pairs AS (
  SELECT DISTINCT a.l_orderkey, a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
), e0 AS (
  SELECT p1, p2 FROM pairs GROUP BY p1, p2 HAVING COUNT(*) >= {MIN_CO_ORDERS}
), edges AS MATERIALIZED (
  SELECT p1 AS src, p2 AS dst FROM e0 UNION ALL SELECT p2, p1 FROM e0
), r0 AS (
  SELECT DISTINCT src, src AS lab FROM edges
)"""
    body = ""
    prev = "r0"
    for i in range(1, LPA_ITERS + 1):
        body += f""", m{i} AS (
  SELECT e.dst AS p, r.lab, COUNT(*) AS c
  FROM edges e JOIN {prev} r ON e.src = r.src
  GROUP BY e.dst, r.lab
), r{i} AS (
  SELECT p AS src, lab FROM (
    SELECT p, lab, ROW_NUMBER() OVER (PARTITION BY p ORDER BY c DESC, lab ASC) AS rn
    FROM m{i}
  ) WHERE rn = 1
)"""
        prev = f"r{i}"
    tail = f"""
SELECT r.src AS p, r.lab AS community, s.community_size
FROM {prev} r JOIN (
  SELECT lab, COUNT(*) AS community_size FROM {prev} GROUP BY lab
) s ON r.lab = s.lab
"""
    return head + body + tail


ORACLE_LABEL_PROPAGATION_COMMUNITIES = _lpa_oracle()

QUERIES = {
    "graph_triangle_stats": graph_triangle_stats,
    "pagerank_copurchase": pagerank_copurchase,
    "label_propagation_communities": label_propagation_communities,
}
ORACLES = {
    "graph_triangle_stats": ORACLE_GRAPH_TRIANGLE_STATS,
    "pagerank_copurchase": ORACLE_PAGERANK_COPURCHASE,
    "label_propagation_communities": ORACLE_LABEL_PROPAGATION_COMMUNITIES,
}
