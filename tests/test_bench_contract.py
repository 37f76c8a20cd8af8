"""The bench stdout contract its consumer depends on, and the attempt
loop every bench tool shares.

The consumer captures only the LAST 2,000 characters of bench.py's
stdout and ``json.loads`` the final line. A line carrying the
COMPLETE per-query map outgrows that window (2,705 bytes at 88
queries; the names alone are 1,999 bytes of JSON keys), and a
scalar-only line starves a per-query comparator. So the
line carries the fixed ``bench.HEADLINE`` subset of the map plus the
``cpus`` and ``steal_pct`` scalars within a 1,900-byte budget; the
complete maps stay in the ``BENCH_ATTEMPTS.json`` sidecar. These
tests pin that contract.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from conftest import SF_SMOKE


def _fake_run(names: list[str], sec: float):
    timings = {q: sec for q in names}
    attempts = {q: [sec + 0.5, sec] for q in names}
    return round(sum(timings.values()), 3), timings, attempts


def test_headline_line_fits_driver_tail_capture(tmp_path, monkeypatch):
    # Redirect the sidecar into tmp so the test never clobbers the
    # repo's real BENCH_ATTEMPTS.json.
    monkeypatch.setattr(bench.os.path, "dirname", lambda p: str(tmp_path))
    # the widest values the line can carry: every query at 999.99 s,
    # the largest total, core count and steal the scalars encode
    names = bench.HEADLINE + [f"query_{i:03d}" for i in range(200)]
    _, timings, attempts = _fake_run(names, 999.99)
    line = bench.headline_line(99999.999, 0.001, timings, attempts, 128, 100.0)
    assert "\n" not in line
    # The tail window is 2,000 chars; the line must fit with
    # headroom for the trailing newline / stray stderr.
    assert len(line.encode("utf-8")) <= 1900

    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_wall"
    assert parsed["value"] == 99999.999
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.001
    assert parsed["n_queries"] == len(names)
    assert parsed["cpus"] == 128
    assert parsed["steal_pct"] == 100.0

    # fixed membership, in HEADLINE order, whatever the timings
    assert list(parsed["queries"]) == bench.HEADLINE
    assert parsed["queries_omitted"] == len(names) - len(bench.HEADLINE)
    assert all(v == 999.99 for v in parsed["queries"].values())

    # The attempts map must NOT be on the headline line.
    assert "attempts" not in parsed

    # ... the COMPLETE maps live in the sidecar.
    sidecar = json.loads((tmp_path / "BENCH_ATTEMPTS.json").read_text())
    assert sidecar["queries"] == timings
    assert sidecar["attempts"] == attempts
    assert sidecar["sf"] == 0.001
    assert sidecar["cpus"] == 128


def test_headline_membership_is_fixed_and_real():
    names = bench.bench_query_names()
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert [q for q in names if q in bench.HEADLINE] == bench.HEADLINE
    # the cost-independent picks stay on the line: the benchmark's
    # construction-bound queries
    for q in ("fin_signals_pipeline", "corpus_build", "pairs_spread_zscore"):
        assert q in bench.HEADLINE


def test_headline_line_omits_cost_not_membership(tmp_path, monkeypatch):
    # a cheap HEADLINE query stays and an expensive other one is
    # omitted; a HEADLINE query the slate lacks is simply absent
    monkeypatch.setattr(bench.os.path, "dirname", lambda p: str(tmp_path))
    timings = {q: 0.01 for q in bench.HEADLINE[1:]}
    timings["order_fill_left_join"] = 500.0
    line = bench.headline_line(1.0, 0.1, timings, {}, 4, 0.26)
    parsed = json.loads(line)
    assert list(parsed["queries"]) == bench.HEADLINE[1:]
    assert parsed["queries_omitted"] == 1
    assert parsed["steal_pct"] == 0.3


def test_headline_line_survives_readonly_checkout(tmp_path, monkeypatch):
    # OSError writing the sidecar must not sink the headline record.
    def _boom(*a, **k):
        raise OSError("read-only filesystem")

    monkeypatch.setattr(bench, "open", _boom, raising=False)
    monkeypatch.setattr("builtins.open", _boom)
    total, timings, attempts = _fake_run(bench.bench_query_names(), 1.23)
    line = bench.headline_line(total, 0.1, timings, attempts, 4, 0.0)
    parsed = json.loads(line)
    assert parsed["value"] == total
    assert len(line.encode("utf-8")) <= 1900
    assert parsed["queries"]


def test_attempt_loop_records(spark):
    """The shared loop: a traced attempt splits its wall time into
    construction and execution with their jobs; an untraced one
    only times them."""
    traced = bench.run_attempts(spark, "pricing_summary", SF_SMOKE, 2, bench.Tracer(spark, True))
    assert len(traced) == 2
    for rec in traced:
        assert rec["build_s"] + rec["exec_s"] == pytest.approx(rec["wall_s"], abs=1e-9)
        assert rec["build_s"] > 0 and rec["exec_s"] > 0
        # not on the construction-jobs allowlist: building runs no job
        assert rec["build.jobs"] == 0
        assert rec["exec.jobs"] > 0
        j0, j1 = rec["job_range"]
        assert j1 - j0 == rec["exec.jobs"]
        assert rec["memo.cached_rdds"] >= 0 and "steal_pct" in rec

    untraced = bench.run_attempts(spark, "pricing_summary", SF_SMOKE, 1)
    assert len(untraced) == 1
    assert set(untraced[0]) == {"wall_s", "build_s", "exec_s"}
    # the attempts' job descriptions do not outlive the loop
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None
