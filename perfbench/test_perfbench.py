"""Fast tests of the benchmark itself, on generated sf 0.001 tables.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import datagen  # noqa: E402
import instrument  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    work = tmp_path_factory.mktemp("perfbench")
    run.prepare_env(work)
    sf_dir = datagen.write(str(work / "data"), 0.001, run.DATA_SEED)
    spark, _, _ = run.start_session(work, sf_dir)
    yield spark, sf_dir, work
    run.stop_session(spark)


def _ctx(spark, sf_dir, work, expected, capture=False):
    from argparse import Namespace

    args = Namespace(seed=1, trace=0, capture=capture)
    return run.Ctx(spark, args, sf_dir, str(work), expected)


def test_printed_metric_names_match_benchmark_json():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER

    # what summarize() emits, from synthetic traced runs of both shapes
    from types import SimpleNamespace

    layers = {"wall_s": 1.0, "build_s": 0.6, "exec_s": 0.4}
    io = {op: {"s": 0.1, "calls": 1} for op in run.IO_OPS}
    daily = {"stages": {st: 0.1 for st in workloads.DAILY_STAGES}, "work_symbols": 1,
             "io": io, "io_mb_written": 1.0, "io_files_written": 1}
    phase = lambda name: workloads.Op(name, s=1.0, layers=layers, detail=daily)  # noqa: E731
    query = lambda name: workloads.Op(name, s=1.0, layers=layers)  # noqa: E731
    memo = {"storage_mb": 0.0, "cached_rdds": 0}
    shapes = [
        ([phase("cold")], [phase("stale")]),
        ([query(q) for q in workloads.ITERATIVE_BUILD], []),
    ]
    for unit, extra in shapes:
        record = workloads.Run(unit=unit, extra=extra, record={"memo": memo, "unit_cpu_s": 1.0})
        for trace in (False, True):
            e2e, per_layer, _ = run.summarize(SimpleNamespace(trace=trace, run=record), (1.0, 0.5), 0.0, 1.0)
            assert set(e2e) == set(run.END_TO_END)
            if trace:
                assert set(per_layer) == set(run.PER_LAYER)


def test_stale_subset_is_seeded_tenth():
    symbols = list(range(1500))
    a = workloads.stale_subset(symbols, 1)
    assert len(a) == 150 and a == workloads.stale_subset(symbols, 1)
    assert a != workloads.stale_subset(symbols, 2)


def test_corrupted_expected_hash_is_a_failure(env, monkeypatch):
    spark, sf_dir, work = env
    monkeypatch.setattr(workloads, "ITERATIVE_BUILD", ["pairs_spread_zscore"])

    def checked(expected, capture=False):
        ctx = _ctx(spark, sf_dir, work, expected, capture)
        wl = workloads.iterative_build(ctx)
        ctx.run.unit = wl.unit()
        wl.check()
        return ctx, ctx.run.unit[0]

    ctx, op = checked({}, capture=True)
    assert op.error is None
    good = ctx.run.observed["queries"]["pairs_spread_zscore"]
    _, op = checked({"queries": {"pairs_spread_zscore": good}})
    assert op.error is None
    _, op = checked({"queries": {"pairs_spread_zscore": dict(good, hash="0:0")}})
    assert op.error and op.error.startswith("pairs_spread_zscore: hash")


def test_timing_table_io_is_transparent(env):
    from datetime import datetime, timezone

    from fin_trade_craft_spark.plans.daily_run import run_daily_market
    from fin_trade_craft_spark.sources.io import TableIO

    spark, sf_dir, work = env
    now = datetime(2024, 2, 1, tzinfo=timezone.utc)
    timing = instrument.timing_table_io(TableIO)(spark, str(work / "wh_timed"))
    plain = TableIO(spark, str(work / "wh_plain"))
    run_daily_market(spark, sf_dir, plain, now=now)
    run_daily_market(spark, sf_dir, timing, now=now)
    for table in workloads.DAILY_TABLES:
        assert instrument.content_hash(timing.read(table)) == instrument.content_hash(plain.read(table))
    assert timing.stats["upsert"]["calls"] > 0 and timing.bytes_written > 0
