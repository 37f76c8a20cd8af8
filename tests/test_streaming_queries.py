"""Differential tests: every registered streaming query (real
readStream → AvailableNow drain) vs its batch DuckDB oracle at
sf0.001 — the same per-family parametrized gate the batch query
modules have. Since r9 this includes the stateful zone query (its
de-stating proof made the output SQL-expressible), so the whole
streaming registry is oracle-diffed here."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.check_correctness import compare  # noqa: E402

from fin_trade_craft_spark.queries import streaming  # noqa: E402

from conftest import SF_SMOKE  # noqa: E402


@pytest.mark.parametrize("name", sorted(set(streaming.QUERIES) & set(streaming.ORACLES)))
def test_streaming_vs_oracle(spark, duck, name):
    sdf = streaming.QUERIES[name](spark, SF_SMOKE).toPandas()
    odf = duck.execute(streaming.ORACLES[name]).df()
    assert len(sdf) > 0, f"{name}: empty result"
    ok, msg = compare(sdf, odf)
    assert ok, f"{name}: {msg}"


def test_stage_dir_relative_sf_dir(tmp_path):
    """Regression (r9, found by the sf5 sweep): a RELATIVE sf_dir
    used to produce symlinks that dangle from inside the staging
    temp dir, and a file-source stream over dangling links yields an
    EMPTY stream instead of an error — a silent-zero-rows wrong
    result. _stage_dir must resolve sources to absolute paths and
    fail fast if staging yields no readable files."""
    import os

    rel = os.path.relpath(SF_SMOKE, os.getcwd())
    staged, n = streaming._stage_dir(rel, "events")
    files = sorted(Path(staged).glob("*.parquet"))
    assert n >= 1 and len(files) == n
    assert all(p.exists() and p.resolve().is_file() for p in files)

    with pytest.raises(FileNotFoundError):
        streaming._stage_dir(str(tmp_path), "events")


def test_time_ordered_staging_delivers_two_ordered_batches(spark):
    """r10 (r09 verdict task 4): the stateful zone query's stream
    must arrive as ≥2 REAL micro-batches whose time slices are
    disjoint and ordered — otherwise its oracle only ever exercises
    a single-batch fold. Drains the staged source through
    foreachBatch and pins (a) exactly n_batches batches, (b) every
    ts in batch k strictly before every ts in batch k+1, (c) no
    rows lost."""
    from pyspark.sql import functions as F

    ev = streaming._events_stream_time_ordered(spark, SF_SMOKE, n_batches=2)
    seen: list[tuple[int, int, int, int]] = []

    def fb(df, bid):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.unix_micros("ts")).alias("lo"),
            F.max(F.unix_micros("ts")).alias("hi"),
        ).collect()[0]
        seen.append((bid, r["n"], r["lo"], r["hi"]))

    streaming._await_drain(ev.writeStream.foreachBatch(fb), "time-ordered staging")
    assert len(seen) == 2, seen
    (b0, n0, lo0, hi0), (b1, n1, lo1, hi1) = sorted(seen)
    assert (b0, b1) == (0, 1)
    assert hi0 < lo1, f"batch slices overlap: {seen}"
    total = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert n0 + n1 == total and n0 > 0 and n1 > 0


def test_stage_ordered_writes_contiguous_ordered_files(spark, tmp_path, monkeypatch):
    """The one ordered-arrival stager: N files with strictly
    increasing pinned mtimes, file i holding the i-th contiguous key
    range, every row exactly once, no scratch dir left behind, and an
    input that stages nothing raises."""
    import tempfile

    df = spark.createDataFrame([(k, f"r{k}") for k in range(40)], "k long, v string")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stage = Path(streaming._stage_ordered(df, "k", 4))
    assert list(tmp_path.iterdir()) == [stage]  # scratch write dir removed
    files = sorted(stage.glob("*.parquet"))
    assert [p.name for p in files] == [f"batch_{i}.parquet" for i in range(4)]
    mtimes = [p.stat().st_mtime for p in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes
    keys = [sorted(r["k"] for r in spark.read.parquet(str(p)).collect()) for p in files]
    assert all(ks for ks in keys)
    assert all(a[-1] < b[0] for a, b in zip(keys, keys[1:])), keys
    assert all(ks == list(range(ks[0], ks[-1] + 1)) for ks in keys), keys
    assert sorted(k for ks in keys for k in ks) == list(range(40))

    with pytest.raises(FileNotFoundError):
        streaming._stage_ordered(df.filter("k < 0"), "k", 2)


def test_streaming_queries_leave_only_their_stores(spark, tmp_path, monkeypatch):
    """A drain removes the dirs it staged and its checkpoint once it
    returns; an ingest twin's store backs its lazy result, so it stays
    until the exit sweep removes it."""
    import tempfile

    from fin_trade_craft_spark.queries import corpus_build

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(corpus_build, "_RETIRED_STORES", [])  # sweep only this test's
    assert streaming.streaming_hourly_rollup(spark, SF_SMOKE).collect()
    assert list(tmp_path.iterdir()) == []
    assert streaming.streaming_semdedup_ingest(spark, SF_SMOKE).collect()
    left = list(tmp_path.iterdir())
    assert [p.name[: len("stream_semdedup_")] for p in left] == ["stream_semdedup_"]
    assert corpus_build._RETIRED_STORES == [str(left[0])]
    corpus_build._sweep_retired_stores()
    assert list(tmp_path.iterdir()) == []


def test_only_the_runner_starts_or_awaits_a_stream():
    """Every AvailableNow drain in the package goes through
    ``stream_agg.await_available_now``: the trigger and the wait
    appear nowhere else, so no drain can skip its timeout check."""
    import ast
    import re

    pkg = Path(__file__).resolve().parent.parent / "fin_trade_craft_spark"
    runner_file = pkg / "streaming" / "stream_agg.py"
    runner = next(
        n
        for n in ast.parse(runner_file.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "await_available_now"
    )
    # the bracketed letters keep this file out of its own search
    pat = re.compile(r"available[N]ow|await[T]ermination")
    hits = [
        (path, i)
        for path in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    outside = [
        f"{p.relative_to(pkg)}:{i}"
        for p, i in hits
        if p != runner_file or not runner.lineno <= i <= runner.end_lineno
    ]
    assert hits and not outside, outside
    # the runner itself holds both the trigger and the wait
    found = {m for p, i in hits for m in pat.findall(p.read_text().splitlines()[i - 1])}
    assert len(found) == 2, found
