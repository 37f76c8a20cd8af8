"""Differential tests: every dedup-family query vs its DuckDB
oracle at sf0.001 (the per-family parametrized gate the other query
modules already have)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.check_correctness import compare  # noqa: E402

from fin_trade_craft_spark.queries import dedup  # noqa: E402

from conftest import SF_SMOKE  # noqa: E402


@pytest.mark.parametrize("name", sorted(set(dedup.QUERIES) & set(dedup.ORACLES)))
def test_dedup_vs_oracle(spark, duck, name):
    sdf = dedup.QUERIES[name](spark, SF_SMOKE).toPandas()
    odf = duck.execute(dedup.ORACLES[name]).df()
    assert len(sdf) > 0, f"{name}: empty result"
    ok, msg = compare(sdf, odf)
    assert ok, f"{name}: {msg}"


def test_exact_tier_guards_refuse_corpus_sized_inputs(spark):
    """The exact/verifier tiers must refuse to silently launch an
    O(n²) stage on a corpus-sized input: both guards raise AT FIRST
    ACTION (construction launches no job — r06 verdict task 2) with
    the scale-path alternative named; small inputs are unaffected;
    an explicit max_rows override is the escape hatch."""
    import pytest
    from pyspark.sql import functions as F

    from fin_trade_craft_spark.operators.dedup import exact_jaccard_pairs
    from fin_trade_craft_spark.queries.similarity import exact_near_dupe_pairs

    big_sets = spark.range(25_001).select(
        F.col("id").alias("doc_id"),
        F.array(F.lit("a b c"), F.lit("b c d")).alias("shingles"),
    )
    # construction is job-free (asserted by
    # test_plan_lint.py::test_construction_launches_no_jobs); the
    # refuse fires on action
    over_budget = exact_jaccard_pairs(big_sets, pins=[])
    with pytest.raises(Exception, match="lsh_candidate_pairs"):
        over_budget.count()
    # candidate-driven branch (the scale path) has no row cap
    cands = spark.createDataFrame([(0, 1)], "d1 long, d2 long")
    assert exact_jaccard_pairs(big_sets, candidates=cands).count() == 1

    big_emb = spark.range(25_001).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(Exception, match="srp_lsh_near_dupes"):
        exact_near_dupe_pairs(big_emb).count()
    # override hatch + small inputs still work
    small = big_emb.filter(F.col("vec_id") < 5)
    assert exact_near_dupe_pairs(small).count() > 0


def test_exact_tier_budget_is_conf_configurable(spark):
    """VERDICT r05 task 7: the exact-tier row budget threads through
    the session conf (spark.fin_trade_craft.exactTierMaxRows) so an
    offline verification run can raise it without editing code.
    Default behavior (conf unset) is unchanged."""
    import pytest
    from pyspark.sql import functions as F

    from fin_trade_craft_spark.operators.dedup import EXACT_TIER_CONF, guard_exact_tier

    big = spark.range(25_001).select(F.col("id").alias("vec_id"))
    # default: over-budget input refused (at action — the gate is in-plan)
    with pytest.raises(Exception, match="exactTierMaxRows"):
        guard_exact_tier(big, 25_000, "probe", "alt").count()
    # conf raises the budget -> same input passes
    spark.conf.set(EXACT_TIER_CONF, "30000")
    try:
        assert guard_exact_tier(big, 25_000, "probe", "alt").count() == 25_001
        # conf can also LOWER the budget below the call-site default
        spark.conf.set(EXACT_TIER_CONF, "10")
        with pytest.raises(Exception, match="session conf"):
            guard_exact_tier(big.limit(11), 25_000, "probe", "alt").count()
    finally:
        spark.conf.unset(EXACT_TIER_CONF)
    # conf unset again: default refuse restored
    with pytest.raises(Exception, match="max_rows"):
        guard_exact_tier(big, 25_000, "probe", "alt").count()


def test_leakage_safe_split_groups_near_dups(spark):
    """Planted leakage shapes: exact copies AND near-dup paraphrases
    must share one group_id + split; short exact twins the shingler
    skips still group via the content-hash fallback; singletons keep
    their own id; the split is the representative's md5-nibble rule
    (verified against hashlib on the normalized text)."""
    import hashlib

    from fin_trade_craft_spark.queries.dedup import leakage_safe_split_on

    long_a = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    long_a_var = long_a.replace("upsilon", "omega")  # near-dup: 1 word swapped
    docs = [
        (1, long_a),
        (2, long_a),          # exact copy of 1
        (3, long_a_var),      # near-dup of 1/2 (J ≈ 0.82 on 3-shingles)
        (10, "tiny doc"),     # < 3 tokens → no shingles
        (11, "tiny  doc "),   # whitespace-normalized exact twin of 10
        (20, "a completely unrelated standalone document about volcanoes and tea"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r.doc_id: r for r in leakage_safe_split_on(df).collect()}
    assert set(rows) == {1, 2, 3, 10, 11, 20}

    # near-dup family {1,2,3}: one group, one split, size 3
    fam = {rows[i] for i in (1, 2, 3)}
    assert {r.group_id for r in fam} == {1}
    assert len({r.split for r in fam}) == 1
    assert all(r.group_size == 3 for r in fam)

    # short exact twins {10,11}: content-hash fallback groups them
    assert rows[10].group_id == rows[11].group_id == 10
    assert rows[10].split == rows[11].split
    assert rows[10].group_size == 2

    # singleton keeps its own id
    assert rows[20].group_id == 20 and rows[20].group_size == 1

    # split rule = representative's md5 first nibble ∈ {0,1} → eval
    for doc_id, rep_text in ((1, long_a), (10, "tiny doc"), (20, docs[5][1])):
        norm = " ".join(rep_text.split())
        h = hashlib.md5(norm.encode()).hexdigest()
        assert rows[doc_id].group_md5 == h
        assert rows[doc_id].split == ("eval" if h[0] in "01" else "train")


def test_lexical_vector_agreement_bridges_modalities(spark):
    """Planted near-dups must score high on BOTH signals: the
    verified-Jaccard pair (one word swapped in a 20-word doc) gets a
    feature-hashed-TF cosine near 1 (19/20 shared unit counts),
    while the schema carries NULL cosine only for zero-norm vectors
    (not planted here)."""
    from fin_trade_craft_spark.queries.dedup import QUERIES

    pdf = QUERIES["dedup_lexical_vector_agreement"](
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    assert len(pdf) > 0
    assert ((pdf.jaccard >= 0.5) & (pdf.jaccard <= 1.0)).all()
    assert pdf.tf_cosine.notna().all()
    # near-dup pairs share almost all tokens -> cosine strongly
    # positive; hash-collision noise can dent but not invert it
    assert pdf.tf_cosine.mean() >= 0.5, pdf.tf_cosine.describe()
    assert (pdf.tf_cosine <= 1.0 + 1e-9).all()


def test_simhash_bits_matches_definitional_fold(spark):
    """simhash_bits must stay bit-identical to the definitional
    per-token fold regardless of kernel internals: bit j votes ±1
    per token occurrence by the j-th md5 nibble (second salted md5
    for bits 33-64), set iff the sum is positive. Covers
    empty/whitespace-only text, NULL text (no row), repeated
    tokens, non-ASCII whitespace (must NOT split), and both md5
    regimes (16 and 64 bits). Added in r12 while evaluating a
    vectorized kernel (factorize + segmented reduceat) that was
    REVERTED on measurement (+20-30% stage CPU vs the Counter
    fold on sf0.1's short docs); the test outlives the attempt."""
    import hashlib
    import random
    import re
    import string
    from collections import Counter

    from fin_trade_craft_spark.operators.dedup import simhash_bits

    _HI = frozenset("89abcdef")
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def ref_sig(text, n_bits):
        toks = ws.sub(" ", text.strip(" ")).split(" ")
        sums = [0] * n_bits
        for tok, c in Counter(toks).items():
            nib = hashlib.md5(tok.encode()).hexdigest()
            if n_bits > 32:
                nib += hashlib.md5(b"b:" + tok.encode()).hexdigest()
            for j in range(n_bits):
                sums[j] += c if nib[j] in _HI else -c
        return "".join("1" if s > 0 else "0" for s in sums)

    rng = random.Random(12)
    vocab = ["".join(rng.choices(string.ascii_lowercase, k=rng.randint(1, 8))) for _ in range(300)]
    docs = [
        (0, ""),
        (1, "   "),
        (2, "\t\n\x0b\x0c\r"),
        (3, "a"),
        (4, "dup dup dup dup unique"),
        (5, "nbsp stays one token"),
        (6, " ".join(["tok"] * 997)),
        (7, None),
    ] + [(10 + i, " ".join(rng.choices(vocab, k=rng.randint(1, 120)))) for i in range(80)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for n_bits in (16, 64):
        got = {r.doc_id: r.simhash for r in simhash_bits(df, n_bits=n_bits).collect()}
        assert 7 not in got  # NULL text emits no row
        want = {did: ref_sig(t, n_bits) for did, t in docs if t is not None}
        assert got == want
