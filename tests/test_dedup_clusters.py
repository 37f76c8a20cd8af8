"""Connected-components clustering over near-dup pair graphs."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from contextlib import contextmanager  # noqa: E402

import pytest  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from fin_trade_craft_spark.operators import dedup as D  # noqa: E402
from fin_trade_craft_spark.operators.dedup import (  # noqa: E402
    connected_components,
    connected_components_star,
)


def connected_components_minlabel(pairs, max_iters=50):
    """Min-label propagation: the differential reference for the
    star loop. Every node takes the min of its own and its
    neighbours' labels until no label changes, so rounds = component
    diameter (a planted chain needs n−1 rounds where star needs
    O(log n))."""
    edges = (
        pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
        .union(pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


@contextmanager
def _edge_bound(spark, edges):
    """Set the broadcast threshold so the dispatcher's driver-path
    bound is ``edges`` edges (``-1``: broadcasts and driver path off)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, str(edges * D._EDGE_BYTES if edges >= 0 else -1))
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture
def star_calls(monkeypatch):
    """Counts the dispatcher's hand-offs to the star loop."""
    calls = []
    star = D._star_rounds

    def spy(*args, **kwargs):
        calls.append(1)
        return star(*args, **kwargs)

    monkeypatch.setattr(D, "_star_rounds", spy)
    return calls


def _labels(df):
    rows = df.collect()
    assert len(rows) == len({r.doc_id for r in rows}), "one label row per node"
    return {r.doc_id: r.cluster_id for r in rows}


def test_connected_components_chain_triangle_pair(spark):
    """A 4-node chain (diameter 3 — needs multiple propagation
    rounds), a triangle, and an isolated pair must resolve to three
    clusters labeled by their min node id."""
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),          # chain 1-2-3-4
            (10, 11), (11, 12), (10, 12),    # triangle
            (20, 21),                        # pair
        ],
        "d1 long, d2 long",
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_order_independent(spark):
    """Edge direction/order must not matter: reversed edges give the
    same clustering."""
    fwd = spark.createDataFrame([(5, 9), (9, 7), (3, 5)], "d1 long, d2 long")
    rev = spark.createDataFrame([(9, 5), (7, 9), (5, 3)], "d1 long, d2 long")
    a = {r.doc_id: r.cluster_id for r in connected_components(fwd).collect()}
    b = {r.doc_id: r.cluster_id for r in connected_components(rev).collect()}
    assert a == b == {3: 3, 5: 3, 7: 3, 9: 3}


def _union_find_clusters(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = {}
    for n in list(parent):
        r = find(n)
        out[n] = min(out.get(n, r), r)
    # normalize: cluster id = min node in component
    comp = {}
    for n, r in out.items():
        comp.setdefault(find(n), []).append(n)
    return {n: min(ns) for r, ns in comp.items() for n in ns}


@pytest.mark.parametrize("side", ["default_bound", "below_bound"])
def test_connected_components_random_graphs_match_union_find(spark, star_calls, side):
    """Randomized differential vs a driver-side union-find on a
    batch of adversarial shapes (long chains, stars, merged rings),
    through the dispatcher on both sides of its edge bound: at the
    default bound every graph is solved on the driver, with the
    bound forced below the edge count every graph takes the star
    loop."""
    import random

    rng = random.Random(42)
    for trial in range(3):
        n = 30
        edges = set()
        # long chain to force multiple propagation rounds
        chain = rng.sample(range(100, 200), 12)
        edges |= {tuple(sorted(p)) for p in zip(chain, chain[1:])}
        # random extra edges
        for _ in range(n):
            a, b = rng.sample(range(100, 200), 2)
            edges.add(tuple(sorted((a, b))))
        pairs = spark.createDataFrame(sorted(edges), "d1 long, d2 long")
        if side == "below_bound":
            with _edge_bound(spark, len(edges) - 1):
                got = _labels(connected_components(pairs))
        else:
            got = _labels(connected_components(pairs))
        want = _union_find_clusters(sorted(edges))
        assert got == want, f"trial {trial}: {got} != {want}"
    assert len(star_calls) == (3 if side == "below_bound" else 0)


def test_driver_path_matches_union_find_on_larger_graph(spark, star_calls):
    """A few thousand edges — shuffled chains, hubs and random
    edges over sparse ids — solved on the driver match the
    reference union-find, one row per node."""
    import random

    rng = random.Random(11)
    ids = rng.sample(range(10**12), 4000)
    edges = {tuple(sorted(p)) for p in zip(ids[:600], ids[1:601])}
    for hub in ids[700:710]:
        edges |= {tuple(sorted((hub, x))) for x in rng.sample(ids[1000:3000], 80)}
    edges |= {tuple(sorted(rng.sample(ids, 2))) for _ in range(1500)}
    edges = sorted(edges)
    pairs = spark.createDataFrame(edges, "d1 long, d2 long")
    assert _labels(connected_components(pairs)) == _union_find_clusters(edges)
    assert star_calls == []


@pytest.mark.parametrize("bound", [None, 0, -1])
def test_dispatcher_self_pairs_empty_input_and_schema(spark, star_calls, bound):
    """On both sides of the edge bound (the default, a zero bound
    and broadcasts off): nodes with only self-pairs are singletons,
    empty input gives an empty frame, and the output schema and
    dtypes equal the star loop's, for long and int ids."""
    pairs = spark.createDataFrame(
        [(7, 7), (1, 2), (2, 3), (9, 9), (3, 3)], "d1 long, d2 long"
    )
    only_selfs = spark.createDataFrame([(4, 4), (6, 6), (4, 4)], "d1 long, d2 long")
    empty = spark.createDataFrame([], "d1 long, d2 long")
    ints = spark.createDataFrame([(5, 9), (9, 7), (3, 3)], "d1 int, d2 int")

    def run(df):
        if bound is None:
            return connected_components(df)
        with _edge_bound(spark, bound):
            return connected_components(df)

    assert _labels(run(pairs)) == {1: 1, 2: 1, 3: 1, 7: 7, 9: 9}
    assert _labels(run(only_selfs)) == {4: 4, 6: 6}
    assert run(empty).collect() == []
    # a zero bound still solves the empty graph on the driver
    assert len(star_calls) == {None: 0, 0: 2, -1: 3}[bound]
    for df in (pairs, empty, ints):
        assert run(df).dtypes == connected_components_star(df).dtypes
    assert run(ints).dtypes == [("doc_id", "int"), ("cluster_id", "int")]
    assert _labels(run(ints)) == {3: 3, 5: 5, 7: 5, 9: 5}


def test_star_contraction_matches_minlabel_and_union_find(spark):
    """VERDICT r05 task 2: the default star-contraction algorithm
    must label identically to the min-label twin and a driver-side
    union-find across adversarial shapes (chain + triangle + pair,
    merged rings, random graphs with planted chains)."""
    import random

    rng = random.Random(7)
    fixtures = [
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        [(9, 5), (7, 9), (5, 3)],
        # two rings merged by one bridge edge
        [(i, i + 1) for i in range(40, 46)] + [(45, 40)]
        + [(i, i + 1) for i in range(50, 56)] + [(55, 50)] + [(43, 53)],
    ]
    for _ in range(2):
        edges = {tuple(sorted(rng.sample(range(100, 160), 2))) for _ in range(40)}
        chain = rng.sample(range(200, 260), 15)
        edges |= {tuple(sorted(p)) for p in zip(chain, chain[1:])}
        fixtures.append(sorted(edges))
    for fx in fixtures:
        pairs = spark.createDataFrame(fx, "d1 long, d2 long")
        star = {r.doc_id: r.cluster_id for r in connected_components_star(pairs).collect()}
        mini = {
            r.doc_id: r.cluster_id for r in connected_components_minlabel(pairs).collect()
        }
        want = _union_find_clusters(fx)
        assert star == mini == want


def test_star_contraction_chain_round_count_logarithmic(spark):
    """A planted 500-node chain: min-label needs 499 rounds (it
    would silently return unconverged labels at the default cap);
    star contraction must converge in <= 2*ceil(log2(n)) = 18 rounds
    AND produce the correct single-cluster labeling."""
    import math

    n = 500
    # shuffled ids so chain position is uncorrelated with node id
    import random

    ids = list(range(1000, 1000 + n))
    random.Random(3).shuffle(ids)
    pairs = spark.createDataFrame(
        [(a, b) for a, b in zip(ids, ids[1:])], "d1 long, d2 long"
    )
    stats = {}
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components_star(pairs, stats=stats).collect()
    }
    root = min(ids)
    assert got == {i: root for i in ids}
    bound = 2 * math.ceil(math.log2(n))
    assert stats["rounds"] <= bound, f"star took {stats['rounds']} rounds > {bound}"


def test_star_contraction_self_pairs_and_exhaustion(spark):
    """Review findings r06: (a) nodes whose only edges are
    self-pairs must label as singletons, matching the minlabel twin;
    (b) exhausting max_iters before the forest flattens must RAISE,
    never return the (corrupt at non-fixed-point) children+roots
    union."""
    pairs = spark.createDataFrame(
        [(7, 7), (1, 2), (2, 3), (9, 9), (3, 3)], "d1 long, d2 long"
    )
    star = {r.doc_id: r.cluster_id for r in connected_components_star(pairs).collect()}
    mini = {
        r.doc_id: r.cluster_id for r in connected_components_minlabel(pairs).collect()
    }
    assert star == mini == {1: 1, 2: 1, 3: 1, 7: 7, 9: 9}

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)], "d1 long, d2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(chain, max_iters=1).collect()


def test_star_multi_parent_flat_regression(spark):
    """ADVICE r06 (high): pairs (5,3),(6,5),(6,1),(3,2) flatten
    after one large+small round to {(3,1),(3,2),(5,2),(6,1)} — flat
    (no dst is a src) but NOT a star forest (node 3 keeps two
    parents). A flatness-only convergence probe declared this
    converged and emitted doc 3 under BOTH cluster 1 and cluster 2,
    splitting the single component into {1,3,6} and {2,3,5}. The
    fixed-point test must also require out-degree 1 per src, so the
    loop keeps contracting to the true single-star fixed point."""
    fx = [(5, 3), (6, 5), (6, 1), (3, 2)]
    pairs = spark.createDataFrame(fx, "d1 long, d2 long")
    star_rows = connected_components_star(pairs).collect()
    # exactly one label row per node — no duplicate conflicting rows
    assert len(star_rows) == len({r.doc_id for r in star_rows}) == 5
    star = {r.doc_id: r.cluster_id for r in star_rows}
    mini = {
        r.doc_id: r.cluster_id for r in connected_components_minlabel(pairs).collect()
    }
    want = _union_find_clusters(fx)
    assert star == mini == want == {1: 1, 2: 1, 3: 1, 5: 1, 6: 1}


def test_star_max_iters_zero_rejected(spark):
    """ADVICE r06 (low): max_iters=0 used to skip the
    non-convergence guard entirely (rounds stayed 0) and label the
    raw unconverged edge set. It must raise up front now, through
    the dispatcher too, whichever path the graph would take."""
    pairs = spark.createDataFrame([(1, 2)], "d1 long, d2 long")
    with pytest.raises(ValueError, match="max_iters >= 1"):
        connected_components_star(pairs, max_iters=0)
    with pytest.raises(ValueError, match="max_iters >= 1"):
        connected_components(pairs, max_iters=0)
