"""Deduplication operators for training-data pipelines.

Four tiers, cheapest-first — the standard LLM-corpus dedup ladder:

1. **Exact** — hash-groupBy on normalized content (one shuffle on
   the hash; at 100 TB this is a map-side md5 + shuffle of 16-byte
   keys, not documents).
2. **MinHash + LSH** — shingle → k min-hashes → band → bucket-join.
   Candidate generation touches only band-bucket collisions, so the
   pair space is ~linear, not quadratic. Hashes derive from md5 so
   signatures are deterministic across engines and runs (no seeded
   RNG to ship to executors).
3. **SimHash** — per-token md5-nibble votes → compact bit
   signature; near-dup = same signature bucket (Hamming-style).
4. **Exact n-gram Jaccard** — the verifier: computed only on
   candidate pairs (from 2/3) or, at fixture scale, on the full
   shingle self-join.

All four are pure DataFrame expressions — no Python in the hot
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T


def with_shingle_sets(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """doc_id + distinct k-shingle array (drops docs shorter than
    one shingle)."""
    d = docs.select(id_col, T.tokens(F.col(text_col)).alias("toks"))
    return (
        d.filter(F.expr(f"size(toks) >= {k}"))
        .select(id_col, T.shingles("toks", k).alias("shingles"))
    )


# Covers the driver fixtures (documents ≤5k, embeddings ≤20k incl.
# the sf1 embedding replica). The sf1 DOCUMENTS replica (50k) is
# deliberately refused — that is the guard doing its job on a
# corpus-sized input; raise max_rows explicitly for a bigger
# offline verification run.
EXACT_TIER_MAX_ROWS = 25_000


# Session conf that overrides the per-call max_rows — lets an
# offline verification run raise the budget without editing code:
#   spark.conf.set("spark.fin_trade_craft.exactTierMaxRows", "200000")
EXACT_TIER_CONF = "spark.fin_trade_craft.exactTierMaxRows"


def guard_exact_tier(df: DataFrame, max_rows: int, what: str, alternatives: str) -> DataFrame:
    """Shared refuse-quadratic policy for the labeled exact/verifier
    tiers: returns ``df`` gated by an IN-PLAN row-budget assertion —
    any action on the gated frame (or anything built from it) first
    evaluates a ``limit(budget+1)`` count of the input and raises
    with the scale-path alternative named when it exceeds the
    budget. The budget is the ``EXACT_TIER_CONF`` session conf when
    set (read at construction), else ``max_rows``.

    Shape: the probe is a 1-row broadcast side
    (``limit(budget+1) → count → raise_error-if-over``) joined onto
    ``df`` ON the gate column — a BroadcastNestedLoopJoin whose
    build side runs BEFORE any downstream stage can stream the gated
    frame, so an over-budget input still fails before the quadratic
    join does its work. The gate column is referenced by the JOIN
    CONDITION (not a projected-then-dropped column, which column
    pruning would eliminate along with the ``raise_error``), so the
    optimizer cannot prune the assertion. It stops scanning at
    budget+1 rows, so the probe costs ~budget rows, never a full
    corpus count.

    Deferred-to-first-action BY DESIGN (r06 verdict task 2): query
    CONSTRUCTION must launch no Spark job — the plan lint
    (tests/test_plan_lint.py::test_construction_launches_no_jobs)
    inspects every registered plan without executing anything, and
    the r05 eager probe both broke that premise and double-ran the
    shingle pipeline."""
    conf = df.sparkSession.conf.get(EXACT_TIER_CONF, None)
    budget = int(conf) if conf else max_rows
    msg = (
        f"{what} is the exact/verifier tier (quadratic): got > {budget} rows "
        f"(budget from {'session conf ' + EXACT_TIER_CONF if conf else 'max_rows'}). "
        f"Use {alternatives} at corpus scale, or raise the budget via "
        f"spark.conf.set('{EXACT_TIER_CONF}', <rows>)."
    )
    probe = df.limit(budget + 1).agg(F.count(F.lit(1)).alias("__n"))
    gate = probe.select(
        F.when(F.col("__n") > budget, F.raise_error(F.lit(msg)))
        .otherwise(F.lit(1))
        .alias("__exact_tier_gate")
    )
    return df.join(
        F.broadcast(gate), on=F.col("__exact_tier_gate") == F.lit(1), how="inner"
    ).drop("__exact_tier_gate")


def exact_jaccard_pairs(
    shingle_sets: DataFrame,
    id_col: str = "doc_id",
    min_jaccard: float = 0.5,
    candidates: DataFrame | None = None,
    max_rows: int = EXACT_TIER_MAX_ROWS,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold.

    With ``candidates`` (a (d1, d2) frame, e.g. from
    :func:`lsh_candidate_pairs`), the intersection is computed ONLY
    on candidate pairs via two equi-joins + ``array_intersect`` —
    linear in candidates, the 100 TB shape. Without it, all pairs
    sharing ≥1 shingle are scored via a shingle self-join —
    quadratic in colliding docs; exact-verification/fixture tier
    only. That tier persists its exploded shingle frame and appends
    it to ``pins``, the caller's pin list, which it therefore
    requires.

    Shape matters more than the math here: set sizes ride along on
    the exploded frame (one pass over the tokenize→shingle chain
    instead of four — two join branches + two size lookups), and the
    self-join keys on ``xxhash64(shingle)`` so the shuffle carries
    8-byte longs, not variable-length n-gram strings. A 64-bit
    collision would merge two shingles' doc lists (p ≈ n²/2⁶⁵ —
    immaterial below ~billions of distinct shingles, and the
    DuckDB-oracle differential would surface one at test scale)."""
    if candidates is not None:
        # Both join sides are data-proportional (candidate pairs AND
        # shingle sets grow with the corpus), so neither may be
        # planned as a static broadcast: parquet-at-rest size
        # estimates undershoot the in-memory expansion of the
        # array<string> shingle column by ~10x, and a mis-planned
        # broadcast of the set side OOMs the driver the moment the
        # store outgrows the estimate (found by the r12 sf5 sweep:
        # streaming_corpus_ingest's stage-2 probe against the grown
        # sig_store died in notEnoughMemoryToBuildAndBroadcast).
        # merge hints pin sort-merge at static planning and AQE
        # honors them through runtime re-planning (verified on the
        # final adaptive plan), so the set sides can never land on
        # the driver regardless of how wrong the estimate is.
        s1 = shingle_sets.select(F.col(id_col).alias("d1"), F.col("shingles").alias("__s1"))
        s2 = shingle_sets.select(F.col(id_col).alias("d2"), F.col("shingles").alias("__s2"))
        j = (
            candidates.select("d1", "d2")
            .join(s1.hint("merge"), "d1")
            .join(s2.hint("merge"), "d2")
            .select(
                "d1",
                "d2",
                F.size(F.array_intersect("__s1", "__s2")).alias("inter"),
                F.size("__s1").alias("n1"),
                F.size("__s2").alias("n2"),
            )
        )
        out = j.withColumn(
            "jaccard",
            F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")).cast("double"),
        )
        return out.filter(F.col("jaccard") >= min_jaccard)
    if pins is None:
        raise TypeError("the candidate-free tier persists a frame: pass the caller's pins list")
    # The candidate-free branch is the FIXTURE/VERIFIER tier: its
    # shingle self-join is quadratic in colliding docs — refuse
    # corpus-sized inputs instead of silently launching an n² stage
    # (gate evaluates at first action, not construction).
    gated = guard_exact_tier(
        shingle_sets,
        max_rows,
        "exact_jaccard_pairs without candidates",
        "candidates from lsh_candidate_pairs (the scale path)",
    )
    base = (
        gated.select(
            id_col,
            F.size("shingles").alias("n_sh"),
            F.explode("shingles").alias("shingle"),
        )
        .select(id_col, "n_sh", F.xxhash64("shingle").alias("sh"))
        # Materialize-once: both self-join branches read this frame;
        # the tokenize→shingle→explode chain is the expensive part
        # and would otherwise run twice. persist() (not eager
        # localCheckpoint): truly lazy — populates at the first
        # action and is reused from then on, keeping construction
        # job-free (under AQE even a LAZY localCheckpoint of a plan
        # with exchanges runs its upstream stages at toRdd time).
        .persist()
    )
    pins.append(base)
    a = base.select(F.col(id_col).alias("d1"), F.col("n_sh").alias("n1"), "sh")
    b = base.select(F.col(id_col).alias("d2"), F.col("n_sh").alias("n2"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("n1").alias("n1"),
            F.first("n2").alias("n2"),
        )
    )
    out = inter.withColumn(
        "jaccard", F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")).cast("double")
    )
    return out.filter(F.col("jaccard") >= min_jaccard)


# Driver bytes per oriented edge: two 8-byte node ids.
_EDGE_BYTES = 16


def _driver_edge_bound(spark) -> int:
    """Largest edge count solved on the driver: the session's
    broadcast threshold (the size Spark already collects to the
    driver to broadcast) over ``_EDGE_BYTES``. ``-1`` when broadcasts
    are off, which turns the driver path off too."""
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return threshold // _EDGE_BYTES if threshold >= 0 else -1


def _require_rounds(max_iters: int) -> None:
    if max_iters < 1:
        raise ValueError(f"connected_components needs max_iters >= 1, got {max_iters}")


def _oriented_edges(pairs: DataFrame) -> DataFrame:
    """The distinct (src ≥ dst) edge set, self-pairs kept, checkpointed
    once: both component paths and the self-pair singletons read it."""
    return (
        pairs.dropna(subset=["d1", "d2"])
        .select(F.greatest("d1", "d2").alias("src"), F.least("d1", "d2").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def connected_components(pairs: DataFrame, max_iters: int = 50) -> DataFrame:
    """Connected components over a near-dup pair graph — turns
    pairwise matches into dedup CLUSTERS (cluster id = min doc id
    reachable). Input: (d1, d2) edges. Output: (doc_id, cluster_id);
    a node whose only edges are self-pairs is its own cluster.

    The oriented edge set is checkpointed once, then at most
    ``bound + 1`` rows of it are fetched in one job. A graph within
    the bound (:func:`_driver_edge_bound`) is solved on the driver
    (:func:`_components_on_driver`); a larger one goes to the star
    contraction loop (:func:`connected_components_star`), whose every
    round costs several jobs however small the graph."""
    _require_rounds(max_iters)
    edges = _oriented_edges(pairs)
    spark = pairs.sparkSession
    bound = _driver_edge_bound(spark)
    if bound >= 0:
        table = edges.limit(bound + 1).toArrow()
        if table.num_rows <= bound:
            return _components_on_driver(spark, table, edges.schema["src"].dataType)
    return _star_rounds(edges, max_iters)


def _components_on_driver(spark, table, id_type) -> DataFrame:
    """Vectorized union-find over an Arrow (src, dst) edge table.
    Nodes are indexed in id order, so the smaller root is the smaller
    id: every round hooks each cross-tree edge's larger root onto the
    smaller one (``np.minimum.at``), then pointer-jumps every node to
    its root. Each tree merges with at least one neighbour per round,
    so rounds are O(log n), and each root ends as its component's
    minimum — the star path's min-id labels."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    src = table.column("src").to_numpy()
    dst = table.column("dst").to_numpy()
    nodes, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    u, v = idx[: len(src)], idx[len(src):]
    parent = np.arange(len(nodes))
    while True:
        ru, rv = parent[u], parent[v]
        cross = ru != rv
        if not cross.any():
            break
        np.minimum.at(parent, np.maximum(ru, rv)[cross], np.minimum(ru, rv)[cross])
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    return spark.createDataFrame(
        pa.table({"doc_id": nodes, "cluster_id": nodes[parent]}),
        StructType([StructField("doc_id", id_type), StructField("cluster_id", id_type)]),
    )


def connected_components_star(
    pairs: DataFrame, max_iters: int = 50, stats: dict | None = None
) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the path for graphs too large for the driver: each
    round is two edge-linear passes (a per-node min aggregate + an
    edge join), and the edge set contracts toward per-component
    STARS rooted at the component's min node in O(log n) rounds,
    regardless of component DIAMETER (the planted-chain test pins
    the round count at ≤ 2·⌈log₂ n⌉).

    Per round, on the undirected edge view of the current edge set:

    - **large-star**: every node u emits (v, m) for each STRICTLY
      LARGER neighbor v, where m = min(N(u) ∪ {u}) — big nodes
      re-hang onto their neighborhood's minimum;
    - **small-star**: orient edges (u, v) with v < u; every node u
      emits (u, m) and (v, m) for each smaller neighbor v, where
      m = min(N⁻(u) ∪ {u}) = min(N⁻(u)) — small neighbors and u
      itself re-hang onto the local minimum.

    Both steps preserve connectivity (proved in the paper) and only
    ever decrease the partner of a node, so the fixed point is the
    star forest (node → component min). Convergence test: every
    edge stays (larger → smaller)-oriented through both steps, so
    the edge set is a fixed point IFF it is FLAT — no edge's dst
    appears as another edge's src — AND every src has exactly ONE
    dst. Flatness alone is NOT sufficient: a flat edge set where
    some node keeps two distinct parents (e.g. pairs
    (5,3),(6,5),(6,1),(3,2) flatten after one round to
    {(3,1),(3,2),(5,2),(6,1)}) is not a star forest — the
    children∪roots labeling below would emit that node under BOTH
    parents and split the component (the r06 advisor's
    silent-corruption repro, pinned in
    tests/test_dedup_clusters.py::test_star_multi_parent_flat_regression);
    one more small-star round re-hangs the extra parent and the
    loop proceeds to the true fixed point. Flat + out-degree-1 IS
    sufficient: the edges then form a function src→dst with
    dsts ∩ srcs = ∅, i.e. disjoint stars, each rooted at its min by
    the orientation invariant, and connectivity preservation makes
    each star a whole component. Both violations are probed in ONE
    ``limit(1)`` job per round (union of the two violation frames);
    each round ``localCheckpoint``s to cut lineage.

    Skew note: a hub's edges group onto one key in the min
    aggregate — a partial-aggregating hash shuffle of (node, min)
    partials, NOT a fan-out; the join side re-emits each edge
    exactly once. No step materializes a neighborhood list."""
    _require_rounds(max_iters)
    return _star_rounds(_oriented_edges(pairs), max_iters, stats)


def _star_rounds(oriented: DataFrame, max_iters: int, stats: dict | None = None) -> DataFrame:
    """The star loop of :func:`connected_components_star` over a
    checkpointed :func:`_oriented_edges` frame."""
    edges = oriented.filter(F.col("src") != F.col("dst"))

    def _large_star(e: DataFrame) -> DataFrame:
        und = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = und.groupBy("src").agg(F.min("dst").alias("__nm"))
        m = F.least(F.col("src"), F.col("__nm"))
        return (
            und.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), m.alias("dst"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # e is (hi, lo)-oriented by construction of both emitters
        mins = e.groupBy("src").agg(F.min("dst").alias("__m"))
        j = e.join(mins, "src")
        hang_v = j.filter(F.col("dst") != F.col("__m")).select(
            F.col("dst").alias("src"), F.col("__m").alias("dst")
        )
        hang_u = j.select("src", F.col("__m").alias("dst"))
        return hang_v.union(hang_u).distinct()

    # Fixed point = FLAT (no dst is also a src) AND out-degree ≤ 1
    # per src: with every edge (src > dst), that is exactly a star
    # forest rooted at per-star minima. Large-star at a root r (all
    # neighbors v > r): m = r, re-emits (v, r). At a child c (sole
    # neighbor r < c): no v > c to emit. Small-star at c
    # (N⁻ = {r}): m = r, re-emits (c, r) and nothing else. So both
    # steps are identities on star forests; conversely a chained
    # pair (a→b, b→c) or a double-parent pair (a→b, a→c) changes in
    # the next step (small-star re-hangs c onto b). Probing flatness
    # ONLY mislabels flat-but-multi-parent states as converged — the
    # r06 advisor's corruption repro — so both violations are probed
    # together.
    rounds = 0
    not_fixed = 1
    for _ in range(max_iters):
        nxt = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        rounds += 1
        edges = nxt
        # Both violations in ONE aggregation shuffle (r12 guide §2:
        # the probe ran every round as a 3-shuffle join+groupBy+union
        # chain — several AQE jobs per round of pure scheduling
        # overhead on KB-sized late-round edge sets). Emit each edge
        # under both endpoints: src rows carry the partner, dst rows
        # a NULL partner. Per node: __nd = COUNT(DISTINCT partner)
        # counts src-role parents only (count_distinct skips NULLs),
        # __is_dst marks dst-role appearances. Chain violation =
        # node is both a src (__nd >= 1) and a dst (__is_dst);
        # multi-parent violation = __nd > 1 — exactly the two
        # star-forest violations probed separately before.
        dst_t = nxt.schema["dst"].dataType
        roles = nxt.select(F.col("src").alias("node"), F.col("dst").alias("partner")).unionAll(
            nxt.select(F.col("dst").alias("node"), F.lit(None).cast(dst_t).alias("partner"))
        )
        not_fixed = (
            roles.groupBy("node")
            .agg(
                F.count_distinct("partner").alias("__nd"),
                F.max(F.col("partner").isNull()).alias("__is_dst"),
            )
            .filter((F.col("__nd") > 1) | ((F.col("__nd") >= 1) & F.col("__is_dst")))
            .limit(1)
            .count()
        )
        if not_fixed == 0:
            break
    if not_fixed != 0:
        # the children∪roots labeling below is only valid AT the star-
        # forest fixed point — on exhaustion a node could surface under
        # two parents or as both child and self-labeled root (duplicate
        # conflicting rows), which is silent corruption, not mere
        # non-convergence. Raise UNCONDITIONALLY on a non-fixed final
        # state. With O(log n) rounds, 50 iterations covers ~2^50
        # nodes; hitting this means the caller passed a tiny max_iters.
        raise RuntimeError(
            f"connected_components_star did not converge in {rounds} rounds "
            f"(max_iters={max_iters}); raise max_iters — O(log n) rounds suffice"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # fixed point: edges = (node, component-min). Roots label themselves.
    children = edges.select(F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id"))
    roots = edges.select(F.col("dst").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    labels = children.unionByName(roots).distinct()
    # nodes whose ONLY edges are self-pairs are singletons (left-anti
    # keeps the main path untouched when, as in every in-repo caller,
    # no self-pairs exist)
    selfs = (
        oriented.filter(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("doc_id"))
        .join(labels, "doc_id", "left_anti")
        .withColumn("cluster_id", F.col("doc_id"))
    )
    return labels.unionByName(selfs)


def minhash_signatures(shingle_sets: DataFrame, id_col: str = "doc_id", num_perm: int = 8) -> DataFrame:
    """k deterministic min-hashes per doc: perm i = min over
    shingles of md5('<i>:'||shingle). String-min over lowercase hex
    is a total order identical in any engine (SQL MIN aggregate ≡
    list_min — same lexicographic order over equal-length lowercase
    hex), so the output is bit-identical across kernel shapes.

    Shape: explode the shingle array, evaluate all num_perm md5
    expressions JVM-side inside whole-stage codegen, then
    ``groupBy(id).agg(min(...))``. Hash-aggregate map-side partials
    mean the shuffle carries one num_perm-wide row per (doc,
    map-partition) — not per shingle occurrence — so the exchange is
    O(docs), not O(shingle occurrences); that is the 100 TB shape.
    This replaced two earlier kernels: r02's interpreted
    ``array_min(transform(...))`` lambdas (re-hashed per occurrence,
    interpreted eval) and r03's Arrow-batched Python cache kernel
    (+54% at fixture scale: the per-partition shingle-hash cache
    only wins when shingle reuse is high, and row-at-a-time Python
    md5 loses to codegen everywhere else). ``explode_outer`` keeps
    NULL/empty shingle docs as all-NULL signature rows, matching the
    previous kernels' semantics (min/array_min ignore NULLs)."""
    exploded = shingle_sets.select(id_col, F.explode_outer("shingles").alias("sh"))
    return exploded.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(f"mh{i}")
            for i in range(num_perm)
        ]
    )


def _banded(signatures: DataFrame, id_col: str, num_perm: int, rows_per_band: int) -> DataFrame:
    """(id, band) rows: one band key per signature band (concat of
    the band's minhash columns — no re-hashing)."""
    n_bands = num_perm // rows_per_band
    bands = F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select(id_col, F.explode(bands).alias("band"))


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str = "doc_id", num_perm: int = 8, rows_per_band: int = 2
) -> DataFrame:
    """Band the signature and join docs sharing any band value."""
    banded = _banded(signatures, id_col, num_perm, rows_per_band)
    a = banded.select(F.col(id_col).alias("d1"), "band")
    b = banded.select(F.col(id_col).alias("d2"), "band")
    return a.join(b, "band").filter(F.col("d1") < F.col("d2")).select("d1", "d2").distinct()


def lsh_probe_candidate_pairs(
    new_sigs: DataFrame,
    base_sigs: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Banded candidates for an INCREMENTAL probe: the (d1 < d2)
    pairs of ``lsh_candidate_pairs(base ∪ new)`` that touch at least
    one NEW doc — computed as (base ∪ new) ⋈ new on the band key,
    never base ⋈ base. Equality with the full banding holds because
    band keys are per-doc: a (base, new) or (new, new) collision
    appears in this join iff it appears in the union self-join, and
    base×base pairs are by definition not probe candidates. Per
    refresh this skips generating (and deduplicating) the store's
    internal collision pairs — the signature-service probe shape;
    measured 24.5 → ~7s on the sf5 stored-ingest stage 2 (125k-doc
    batch against a 111k-row signature store)."""
    nb = _banded(new_sigs, id_col, num_perm, rows_per_band)
    allb = _banded(base_sigs, id_col, num_perm, rows_per_band).unionByName(nb)
    j = (
        allb.select(F.col(id_col).alias("da"), "band")
        .join(nb.select(F.col(id_col).alias("db"), "band"), "band")
        .filter(F.col("da") != F.col("db"))
    )
    return (
        j.select(
            F.least("da", "db").alias("d1"), F.greatest("da", "db").alias("d2")
        ).distinct()
    )


def lsh_verified_pairs(
    docs: DataFrame,
    num_perm: int = 8,
    rows_per_band: int = 2,
    min_jaccard: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """The canonical MinHash-LSH near-dup chain: shingle sets →
    signatures → banded candidates → exact-Jaccard verify. Returns
    ``(sets, pairs)``: ``sets`` is the PERSISTED shingle-set frame
    (the signature build and both verify-join branches read it —
    callers should ``pin_on_first_action`` it on their outermost
    frame, or rely on a construction-time component loop filling
    it), ``pairs`` the verified (d1, d2, inter, n1, n2, jaccard)
    frame. One definition for the tuning constants: every consumer
    (near-dup queries, the leakage split, the agreement audit, the
    corpus_build ladder) shares this exact chain, so a parameter
    change cannot desynchronize cluster membership between them."""
    sets = with_shingle_sets(docs).persist()
    sigs = minhash_signatures(sets, num_perm=num_perm)
    cands = lsh_candidate_pairs(sigs, num_perm=num_perm, rows_per_band=rows_per_band)
    pairs = exact_jaccard_pairs(sets, min_jaccard=min_jaccard, candidates=cands)
    return sets, pairs


def simhash_bits(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_bits: int = 16) -> DataFrame:
    """SimHash-style signature: bit j votes +1/−1 per token
    depending on the j-th nibble of md5(token) (bits 33-64 read a
    second, salted md5 — one md5 yields 32 nibbles); bit set iff the
    sum is positive. Deterministic; identical SQL exists in any
    engine with md5 + substr."""
    if n_bits > 64:
        raise ValueError("simhash_bits supports at most 64 bits (two md5s)")

    # Arrow-batched kernel with a per-partition TOKEN-VOTE CACHE:
    # each distinct token's ±1 vote vector (from its md5 nibbles) is
    # computed once per partition and reused — a doc's signature is
    # then Counter(tokens) · cached_votes, one int64 vector add per
    # DISTINCT token instead of n_bits expression evaluations per
    # token OCCURRENCE. (Evolution: r01 used per-bit higher-order
    # lambdas — interpreted, 4-16s at sf0.1 and wildly variable; r02
    # used exploded tokens + n_bits conditional JVM aggregates —
    # stable ~2s but still 64 substring tests per occurrence; this
    # shape is ~4× faster again and exact-identical, since integer
    # vote sums are order-free.) Tokenization mirrors
    # functions.text.tokens exactly: trim SPACES, collapse \s+ to
    # one space, split on space.
    import hashlib
    import re

    import numpy as np

    _HI = frozenset("89abcdef")
    # ASCII whitespace class, NOT r"\s+": Python \s matches Unicode
    # whitespace (U+00A0, U+2028, …) while Java (Spark regexp_replace)
    # and RE2 (DuckDB) \s are ASCII-only — a non-ASCII space would
    # tokenize differently and break signature parity
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def fn(batches):
        import pandas as pd

        vote_cache: dict[str, np.ndarray] = {}

        def votes(tok: str) -> np.ndarray:
            v = vote_cache.get(tok)
            if v is None:
                nib = hashlib.md5(tok.encode()).hexdigest()
                if n_bits > 32:
                    nib += hashlib.md5(b"b:" + tok.encode()).hexdigest()
                v = np.array(
                    [1 if nib[k] in _HI else -1 for k in range(n_bits)], dtype=np.int64
                )
                vote_cache[tok] = v
            return v

        from collections import Counter

        for pdf in batches:
            ids, sigs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue  # NULL text emitted no row in the exploded shape
                toks = ws.sub(" ", text.strip(" ")).split(" ")
                s = np.zeros(n_bits, dtype=np.int64)
                for t, c in Counter(toks).items():
                    s += c * votes(t)
                ids.append(did)
                sigs.append("".join("1" if x > 0 else "0" for x in s))
            yield pd.DataFrame({id_col: ids, "simhash": sigs})

    return docs.select(id_col, text_col).mapInPandas(fn, f"{id_col} long, simhash string")


def simhash_hamming_pairs(
    sigs: DataFrame,
    pins: list[DataFrame],
    id_col: str = "doc_id",
    n_bits: int = 64,
    n_bands: int = 4,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs with Hamming distance ≤ ``max_hamming`` over
    SimHash signatures, found WITHOUT an all-pairs scan: band the
    signature into ``n_bands`` substrings — any pair within distance
    < n_bands must agree exactly on ≥1 band (pigeonhole), so the
    candidate join is an equi-join on band value. Exact Hamming is
    then computed only on candidates. max_hamming must be <
    n_bands · (bits differing can't hit every band); with 64 bits /
    4 bands the guarantee holds for distance ≤ 3 and is a
    high-recall heuristic up to 6 (a miss needs the ≥4 flipped bits
    to spread across all 4 bands). The persisted signature frame is
    appended to ``pins``, the caller's pin list."""
    band_w = n_bits // n_bands
    # Materialize: the signature plan (n_bits aggregates over every
    # token) feeds both sides of the band self-join — don't run it
    # twice. At cluster scale this is a temp-table write instead.
    # persist() keeps construction job-free.
    sigs = sigs.persist()
    pins.append(sigs)
    bands = F.array(
        *[
            F.concat_ws("|", F.lit(str(b)), F.substring("simhash", b * band_w + 1, band_w))
            for b in range(n_bands)
        ]
    )
    banded = sigs.select(id_col, "simhash", F.explode(bands).alias("band"))
    a = banded.select(F.col(id_col).alias("d1"), F.col("simhash").alias("s1"), "band")
    b = banded.select(F.col(id_col).alias("d2"), F.col("simhash").alias("s2"), "band")
    cands = (
        a.join(b, "band")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "s1", "s2")
        .distinct()
    )
    ham = F.expr(
        f"aggregate(sequence(1, {n_bits}), 0,"
        " (acc, i) -> acc + IF(substr(s1, i, 1) <> substr(s2, i, 1), 1, 0))"
    ).cast("bigint")
    # No fill (callers pin with fill=False): unlike the minhash chain
    # (three DISTINCT consumers of the shingle cache — fill measured
    # 0.92 vs 1.28s median), the band SELF-join's two sides are the
    # identical subplan and Spark plans a ReusedExchange — the
    # signature kernel already runs once, and a fill's count() is a
    # pure extra pass (A/B at sf0.1, 4 reps: filled 2.64s vs 1.75s
    # median).
    return (
        cands.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )
