"""Property-based tests (hypothesis) for the core operator
semantics — SURVEY §5's differential-testing strategy applied to
randomly generated inputs rather than fixed fixtures.

Each property compares a Spark operator against a brute-force
python/pandas model on small generated datasets. Spark sessions are
expensive, so examples are kept small and deadlines disabled."""

from __future__ import annotations

import sys
from datetime import datetime, timedelta
from pathlib import Path

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from fin_trade_craft_spark.operators import rolling  # noqa: E402
from fin_trade_craft_spark.operators.asof import asof_join  # noqa: E402
from fin_trade_craft_spark.operators.ranks import pct_rank_avg_ties  # noqa: E402

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

series_strategy = st.lists(
    st.floats(min_value=-1000, max_value=1000, allow_nan=False).map(lambda v: round(v, 2)),
    min_size=1,
    max_size=40,
)


@SETTINGS
@given(vals=series_strategy, n=st.integers(min_value=1, max_value=10))
def test_rolling_mean_property(spark, vals, n):
    df = spark.createDataFrame([(1, i, v) for i, v in enumerate(vals)], "k int, i int, v double")
    w = rolling.rows_window("k", [F.col("i")])
    got = [r.m for r in df.select("i", rolling.rolling_mean(F.col("v"), w, n).alias("m")).orderBy("i").collect()]
    want = pd.Series(vals).rolling(n).mean().tolist()
    for g, x in zip(got, want):
        assert (g is None and x != x) or abs(g - x) < 1e-9, (vals, n)


@SETTINGS
@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False).map(lambda v: round(v, 1)),
        min_size=1,
        max_size=30,
    )
)
def test_pct_rank_avg_ties_property(spark, vals):
    df = spark.createDataFrame([(1, i, v) for i, v in enumerate(vals)], "g int, i int, v double")
    got = {
        r.i: r.p
        for r in df.select("i", pct_rank_avg_ties([F.col("g")], F.col("v")).alias("p")).collect()
    }
    want = pd.Series(vals).rank(pct=True)
    for i in range(len(vals)):
        assert abs(got[i] - want[i]) < 1e-12, (vals, i)


@SETTINGS
@given(
    left_ts=st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=15),
    right_ts=st.lists(st.integers(min_value=0, max_value=100), min_size=0, max_size=15),
    validity=st.integers(min_value=1, max_value=50),
)
def test_asof_join_property(spark, left_ts, right_ts, validity):
    """asof_join == brute-force 'latest right ≤ left within window,
    ties broken by larger rid, unmatched preserved'."""
    d0 = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, d0 + timedelta(hours=t)) for i, t in enumerate(left_ts)], "lid int, lt timestamp"
    )
    right = spark.createDataFrame(
        [(i, d0 + timedelta(hours=t)) for i, t in enumerate(right_ts)], "rid int, rt timestamp"
    ) if right_ts else spark.createDataFrame([], "rid int, rt timestamp")
    win = F.unix_micros(F.col("lt")) - F.unix_micros(F.col("rt")) <= validity * 3_600_000_000
    out = asof_join(
        left, right, on=[], left_time="lt", right_time="rt", left_key="lid",
        validity=win, tiebreak=[F.col("rid").desc()],
    )
    got = {r.lid: r.rid for r in out.collect()}
    for i, lt in enumerate(left_ts):
        cands = [(t, rid) for rid, t in enumerate(right_ts) if t <= lt and lt - t <= validity]
        want = max(cands, key=lambda c: (c[0], c[1]))[1] if cands else None
        assert got.get(i) == want, (left_ts, right_ts, validity, i)


@SETTINGS
@given(
    left_ts=st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=12),
    right_ts=st.lists(st.integers(min_value=0, max_value=100), min_size=0, max_size=12),
    validity=st.integers(min_value=1, max_value=50),
)
def test_asof_join_direction_property(spark, left_ts, right_ts, validity):
    """forward/nearest asof_join vs brute force. Forward: earliest
    right ≥ left within window, ties → smaller rid. Nearest:
    min |Δt| within a two-sided window, equidistant → backward
    (earlier rt), then smaller rid — pandas merge_asof semantics."""
    d0 = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, d0 + timedelta(hours=t)) for i, t in enumerate(left_ts)], "lid int, lt timestamp"
    )
    right = spark.createDataFrame(
        [(i, d0 + timedelta(hours=t)) for i, t in enumerate(right_ts)], "rid int, rt timestamp"
    ) if right_ts else spark.createDataFrame([], "rid int, rt timestamp")
    h = 3_600_000_000

    fwd_win = F.unix_micros(F.col("rt")) - F.unix_micros(F.col("lt")) <= validity * h
    out_f = asof_join(
        left, right, on=[], left_time="lt", right_time="rt", left_key="lid",
        validity=fwd_win, tiebreak=[F.col("rid").asc()], direction="forward",
    )
    got_f = {r.lid: r.rid for r in out_f.collect()}
    near_win = F.abs(F.unix_micros(F.col("lt")) - F.unix_micros(F.col("rt"))) <= validity * h
    out_n = asof_join(
        left, right, on=[], left_time="lt", right_time="rt", left_key="lid",
        validity=near_win, tiebreak=[F.col("rid").asc()], direction="nearest",
    )
    got_n = {r.lid: r.rid for r in out_n.collect()}
    for i, lt in enumerate(left_ts):
        fc = [(t, rid) for rid, t in enumerate(right_ts) if t >= lt and t - lt <= validity]
        want_f = min(fc, key=lambda c: (c[0], c[1]))[1] if fc else None
        assert got_f.get(i) == want_f, ("forward", left_ts, right_ts, validity, i)
        nc = [(abs(t - lt), t, rid) for rid, t in enumerate(right_ts) if abs(t - lt) <= validity]
        want_n = min(nc)[2] if nc else None
        assert got_n.get(i) == want_n, ("nearest", left_ts, right_ts, validity, i)


def test_asof_join_on_keys_and_shared_time_name(spark):
    """The advertised `on=[...]` path with BOTH time columns named
    `ts` (the natural as-of call): side-qualified resolution must
    join correctly, drop the right-side key copy, and leave the key
    selectable without AMBIGUOUS_REFERENCE."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from fin_trade_craft_spark.operators.asof import asof_join

    t = lambda s: datetime.fromisoformat(s)
    trades = spark.createDataFrame(
        [(1, 10, t("2024-01-01T10:00:05")), (2, 10, t("2024-01-01T10:00:00")),
         (3, 20, t("2024-01-01T09:00:00"))],
        "trade_id int, symbol_id int, ts timestamp",
    )
    quotes = spark.createDataFrame(
        [(10, t("2024-01-01T10:00:00"), 100.0), (10, t("2024-01-01T10:00:04"), 101.0),
         (10, t("2024-01-01T10:00:06"), 999.0), (20, t("2024-01-01T09:30:00"), 50.0)],
        "symbol_id int, ts timestamp, quote double",
    )
    out = asof_join(
        trades, quotes, on=["symbol_id"], left_time="ts", right_time="ts",
        left_key="trade_id",
    )
    # right-side symbol_id copy dropped -> unambiguous select
    got = {r.trade_id: r.quote for r in out.select("trade_id", "symbol_id", "quote").collect()}
    assert got == {1: 101.0, 2: 100.0, 3: None}  # latest quote at-or-before; no future quote


@SETTINGS
@given(
    left_ts=st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=12),
    right_ts=st.lists(st.integers(min_value=0, max_value=100), min_size=0, max_size=12),
    validity=st.integers(min_value=1, max_value=50),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
)
def test_asof_join_band_equivalence_property(spark, left_ts, right_ts, validity, direction):
    """r12 optimization: ``band_window_us`` (bucketed candidate
    pruning) must be result-IDENTICAL to the plain join for every
    direction, including rows exactly at the window boundary (the
    hour grid makes |Δt| == W exact). The hypothesis grid also
    produces bucket-edge collisions (ts at multiples of W)."""
    d0 = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, d0 + timedelta(hours=t)) for i, t in enumerate(left_ts)], "lid int, lt timestamp"
    )
    right = spark.createDataFrame(
        [(i, d0 + timedelta(hours=t)) for i, t in enumerate(right_ts)], "rid int, rt timestamp"
    ) if right_ts else spark.createDataFrame([], "rid int, rt timestamp")
    h = 3_600_000_000
    if direction == "backward":
        win = F.unix_micros(F.col("lt")) - F.unix_micros(F.col("rt")) <= validity * h
        tb = [F.col("rid").desc()]
    elif direction == "forward":
        win = F.unix_micros(F.col("rt")) - F.unix_micros(F.col("lt")) <= validity * h
        tb = [F.col("rid").asc()]
    else:
        win = F.abs(F.unix_micros(F.col("lt")) - F.unix_micros(F.col("rt"))) <= validity * h
        tb = [F.col("rid").asc()]
    kw = dict(on=[], left_time="lt", right_time="rt", left_key="lid",
              validity=win, tiebreak=tb, direction=direction)
    plain = asof_join(left, right, **kw)
    banded = asof_join(left, right, **kw, band_window_us=validity * h)
    got_p = {r.lid: r.rid for r in plain.collect()}
    got_b = {r.lid: r.rid for r in banded.collect()}
    assert got_b == got_p, (direction, left_ts, right_ts, validity)


@SETTINGS
@given(
    tokens=st.lists(st.integers(min_value=0, max_value=5), min_size=8, max_size=60),
    data=st.data(),
)
def test_duplicate_spans_property(spark, tmp_path_factory, tokens, data):
    """duplicate_spans vs a brute-force python model on random
    small-alphabet corpora (alphabet 6 forces real window
    collisions): same maximal spans, exactly."""
    from fin_trade_craft_spark.queries.text import DUPSPAN_K, duplicate_spans

    n_docs = data.draw(st.integers(min_value=1, max_value=3))
    docs = [tokens] + [
        data.draw(
            st.lists(st.integers(min_value=0, max_value=5), min_size=8, max_size=60)
        )
        for _ in range(n_docs - 1)
    ]
    texts = [(i, " ".join(f"t{t}" for t in toks)) for i, toks in enumerate(docs)]

    # brute-force model
    from collections import Counter

    grams = Counter()
    pos = {}
    for i, toks in enumerate(docs):
        pos[i] = []
        for p in range(len(toks) - DUPSPAN_K + 1):
            g = tuple(toks[p : p + DUPSPAN_K])
            grams[g] += 1
            pos[i].append((p + 1, g))
    want = set()
    for i, plist in pos.items():
        dup = [p for p, g in plist if grams[g] >= 2]
        run = []
        for p in dup:
            if run and p - run[-1] <= DUPSPAN_K:
                run.append(p)
            else:
                if run:
                    want.add((i, run[0], run[-1] + DUPSPAN_K - run[0], len(run)))
                run = [p]
        if run:
            want.add((i, run[0], run[-1] + DUPSPAN_K - run[0], len(run)))

    d = tmp_path_factory.mktemp("dupspan")
    spark.createDataFrame(texts, "doc_id long, text string").write.parquet(
        str(d / "documents.parquet")
    )
    got = {
        (r.doc_id, r.span_start, r.span_len, r.n_windows)
        for r in duplicate_spans(spark, str(d)).collect()
    }
    assert got == want, (docs, got, want)

    # the CUT step: duplicate_span_removal vs brute-force coverage cut
    import hashlib

    from fin_trade_craft_spark.queries.text import duplicate_span_removal

    spans_by_doc = {}
    for i, start, length, _n in want:
        spans_by_doc.setdefault(i, []).append((start, length))
    want_cut = {}
    for i, toks in enumerate(docs):
        covered = set()
        for start, length in spans_by_doc.get(i, []):
            covered.update(range(start, start + length))
        kept = [f"t{t}" for p, t in enumerate(toks, start=1) if p not in covered]
        want_cut[i] = (
            len(toks),
            len(kept),
            len(spans_by_doc.get(i, [])),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    got_cut = {
        r.doc_id: (r.n_tokens, r.n_kept, r.n_spans_cut, r.clean_md5)
        for r in duplicate_span_removal(spark, str(d)).collect()
    }
    assert got_cut == want_cut, (docs, got_cut, want_cut)


@SETTINGS
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20), st.integers(min_value=0, max_value=20)
        ),
        min_size=1,
        max_size=30,
    )
)
def test_zorder_key_locality_property(spark, pts):
    """Morton-key order property on random points: the key must be
    a bijection of the bit-interleave (verified against the
    hand-computed interleave for every point at 8-bit scale over
    the exact [0, 20]² domain is not exact — so instead verify the
    INVARIANT that sorting by zorder_key groups equal points
    together and distinct points with equal keys cannot exist when
    the domain is exactly representable)."""
    from fin_trade_craft_spark.operators.zorder import zorder_key

    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in pts], "x double, y double"
    )
    got = df.select("x", "y", zorder_key(df, ["x", "y"], bits_per_col=8)).collect()
    lo_x, hi_x = min(p[0] for p in pts), max(p[0] for p in pts)
    lo_y, hi_y = min(p[1] for p in pts), max(p[1] for p in pts)

    def scale(v, lo, hi):
        if hi == lo:
            return 0
        import math

        return min(255, max(0, math.floor((v - lo) / (hi - lo) * 255)))

    def morton(a, b):
        out = 0
        for i in range(8):
            out |= ((a >> i) & 1) << (2 * i + 1)
            out |= ((b >> i) & 1) << (2 * i)
        return out

    for r in got:
        want = morton(scale(r.x, lo_x, hi_x), scale(r.y, lo_y, hi_y))
        assert r["__zkey"] == want, (r.x, r.y, pts)


@SETTINGS
@given(
    vals=st.lists(st.sampled_from([10.0, 100.0, 300.0]), min_size=1, max_size=25),
)
def test_scd2_runs_property(spark, tmp_path_factory, vals):
    """scd2_build vs a python run-length model on random tier
    sequences: one SCD2 row per run, contiguous validity, exactly
    one current row per user."""
    from datetime import datetime, timedelta

    from fin_trade_craft_spark.queries.windows import scd2_build

    base = datetime(2024, 1, 1)
    rows = [
        (7, i, base + timedelta(days=i), v) for i, v in enumerate(vals)
    ]
    d = tmp_path_factory.mktemp("scd2")
    spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    ).write.parquet(str(d / "events.parquet"))
    got = sorted(
        (r.version, r.tier, str(r.effective_from), str(r.effective_to), r.is_current, r.n_days)
        for r in scd2_build(spark, str(d)).collect()
    )

    def tier(v):
        return "low" if v < 50 else ("mid" if v < 200 else "high")

    runs = []
    for i, v in enumerate(vals):
        t = tier(v)
        if runs and runs[-1][0] == t:
            runs[-1][1].append(i)
        else:
            runs.append([t, [i]])
    want = []
    for ver, (t, idxs) in enumerate(runs, start=1):
        frm = (base + timedelta(days=idxs[0])).date()
        is_last = ver == len(runs)
        to = None if is_last else (base + timedelta(days=runs[ver][1][0] - 1)).date()
        want.append((ver, t, str(frm), str(to), is_last, len(idxs)))
    assert got == sorted(want), (vals, got, want)


@SETTINGS
@given(
    present=st.lists(st.booleans(), min_size=2, max_size=20).filter(
        lambda bs: bs[0] and bs[-1] and sum(bs) >= 2
    ),
)
def test_linear_interpolation_property(spark, tmp_path_factory, present):
    """linear_interpolation_fill vs pandas interpolate(method='time')
    on random presence masks (first/last day always observed, so
    every gap is interior)."""
    from datetime import datetime, timedelta

    import pandas as pd

    from fin_trade_craft_spark.queries.windows import linear_interpolation_fill

    base = datetime(2024, 3, 1)
    rows = [
        (3, i, base + timedelta(days=i), float(100 + 7 * i))
        for i, p in enumerate(present)
        if p
    ]
    d = tmp_path_factory.mktemp("lerp")
    spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    ).write.parquet(str(d / "events.parquet"))
    got = {
        str(r.date): r.interp_value
        for r in linear_interpolation_fill(spark, str(d)).collect()
    }
    s = pd.Series(
        {pd.Timestamp(base + timedelta(days=i)): float(100 + 7 * i) for i, p in enumerate(present) if p}
    ).reindex(pd.date_range(base, base + timedelta(days=len(present) - 1), freq="D"))
    want = s.interpolate(method="time")
    assert len(got) == len(want)
    for ts, w in want.items():
        g = got[str(ts.date())]
        assert abs(g - w) < 1e-9, (present, ts, g, w)


@SETTINGS
@given(
    cuts=st.lists(
        st.integers(min_value=0, max_value=29), min_size=1, max_size=3, unique=True
    )
)
def test_incremental_rollup_random_splits_property(spark, cuts):
    """Merge ≡ recompute under ARBITRARY batch boundaries: split a
    small synthetic fact table at random day offsets, fold the
    batches through the algebraic state merge, and require the
    result to equal the one-shot aggregate bit-for-bit."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(days=i % 30), float(100 + (i * 37) % 500) / 7.0)
        for i in range(120)
    ]
    o = spark.createDataFrame(rows, "k long, d timestamp, amt double")
    dec = F.col("amt").cast("decimal(18,2)")

    def partial(df):
        return df.groupBy(F.date_trunc("day", "d").alias("day")).agg(
            F.sum(dec).alias("s"), F.count(F.lit(1)).alias("n")
        )

    bounds = sorted(set(cuts))
    edges = [base + timedelta(days=b) for b in bounds]
    preds = []
    lo = None
    for e in edges + [None]:
        if lo is None and e is not None:
            preds.append(F.col("d") < F.lit(e))
        elif e is not None:
            preds.append((F.col("d") >= F.lit(lo)) & (F.col("d") < F.lit(e)))
        else:
            preds.append(F.lit(True) if lo is None else (F.col("d") >= F.lit(lo)))
        lo = e
    acc = None
    for p in preds:
        b = partial(o.filter(p))
        acc = b if acc is None else (
            acc.unionByName(b)
            .groupBy("day")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        )
    got = {
        (r.day,): (float(r.s), r.n)
        for r in acc.select("day", F.col("s").cast("double").alias("s"), "n").collect()
    }
    want = {
        (r.day,): (float(r.s), r.n)
        for r in partial(o)
        .select("day", F.col("s").cast("double").alias("s"), "n")
        .collect()
    }
    assert got == want, (bounds,)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    vals=st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=60),
    k=st.integers(min_value=2, max_value=7),
)
def test_total_order_family_property(spark, vals, k):
    """Randomized differential: the distributed total-order family
    (global row_number / percent_rank / NTILE over heavily-tied
    random values) must equal Spark's single-partition windows
    exactly, for any size, tie structure, and tile count."""
    from pyspark.sql import Window

    from fin_trade_craft_spark.operators import total_order as TO

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    got_rn = {
        (r.id, r.rn)
        for r in TO.global_row_number(df, [F.col("v"), F.col("id")], "rn", pins=[]).collect()
    }
    want_rn = {
        (r.id, r.rn)
        for r in df.withColumn("rn", F.row_number().over(Window.orderBy("v", "id"))).collect()
    }
    assert got_rn == want_rn

    got_pr = {(r.id, r.pr) for r in TO.global_percent_rank(df, "v", "pr", pins=[]).collect()}
    want_pr = {
        (r.id, r.pr)
        for r in df.withColumn("pr", F.percent_rank().over(Window.orderBy("v"))).collect()
    }
    assert got_pr == want_pr

    got_t = {
        (r.id, r.t)
        for r in TO.global_ntile(df, k, [F.col("v"), F.col("id")], "t", pins=[]).collect()
    }
    want_t = {
        (r.id, r.t)
        for r in df.withColumn("t", F.ntile(k).over(Window.orderBy("v", "id"))).collect()
    }
    assert got_t == want_t
