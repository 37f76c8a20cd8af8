"""The benchmark workloads.

Each run times one *unit* in a fresh process, so the unit pays
first-touch compilation as a user's fresh process does, then checks
its outputs outside the timed window. A unit is a list of timed
operations; an operation is one query attempt (construct + noop-sink
write) or one daily-run phase. One unit per run is what the run budget
holds: set-up and the first unit already take 40-60 s on 4 cores.

- ``daily_market`` (sf 0.1): the unit is the initial build on an
  empty warehouse. A traced run then refreshes a seeded 10% of the
  symbols, backdated in the watermark ledger beforehand (untimed).
- ``iterative_build`` (sf 0.01): the unit is one cold pass over the
  construction-bound slate in a fixed order (the queries share session
  memos).
"""

from __future__ import annotations

import hashlib
import itertools
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from typing import Callable

from instrument import check_output, content_hash, dir_mb, memo_residency, timing_table_io, tree_cpu_s

ITERATIVE_BUILD = [
    "fin_signals_pipeline",
    "corpus_build",
    "pairs_spread_zscore",
]
DAILY_TABLES = [
    "raw/time_series_daily_adjusted",
    "transforms/time_series_daily_adjusted",
    "transforms/trading_signals",
    "transforms/daily_screener",
    "transforms/top25_chart_input",
]
DAILY_STAGES = ["ingest", "discovery", "indicators", "signals", "screener", "chart_input", "commit", "check"]
DAILY_PHASES = ["cold", "stale"]
STALE_SHARE = 0.10
DAY0 = datetime(2024, 2, 1, tzinfo=timezone.utc)


@dataclass
class Op:
    name: str
    s: float = 0.0
    layers: dict = field(default_factory=dict)
    error: str | None = None
    detail: dict = field(default_factory=dict)


@dataclass
class Run:
    unit: list[Op] = field(default_factory=list)  # the timed unit
    extra: list[Op] = field(default_factory=list)  # traced runs only
    record: dict = field(default_factory=dict)
    observed: dict = field(default_factory=dict)  # output hashes seen

    def ops(self) -> list[Op]:
        return self.unit + self.extra


@dataclass
class Workload:
    unit: Callable[[], list[Op]]
    extra: Callable[[], list[Op]]  # run after the unit in traced runs
    check: Callable[[], None]  # checks the outputs of the last operation


def stale_subset(symbols: list[int], seed: int) -> list[int]:
    """The seeded 10% of symbols a refresh backdates: ranked by a
    seeded hash of ``symbol_id``."""
    key = lambda s: hashlib.sha256(f"{seed}:{s}".encode()).hexdigest()  # noqa: E731
    k = max(1, round(STALE_SHARE * len(symbols)))
    return sorted(sorted(symbols, key=key)[:k])


def _timed(ctx, name: str, fn) -> tuple[Op, object]:
    op = Op(name)
    try:
        result, op.layers = ctx.tracer.op(fn)
        op.s = op.layers["wall_s"]
    except Exception as e:  # a failed operation is counted, not fatal
        op.error, result = f"{type(e).__name__}: {str(e)[:300]}", None
    return op, result


def _check(ctx, op: Op, kind: str, name: str, fn) -> None:
    """Hash ``fn()`` and compare it with the expected output; a
    mismatch or an exception fails ``op``."""
    try:
        got = content_hash(fn())
        ctx.run.observed.setdefault(kind, {})[name] = got
        bad = None if ctx.capture else check_output(got, ctx.expected.get(kind, {}).get(name))
    except Exception as e:
        bad = f"check failed: {type(e).__name__}: {str(e)[:300]}"
    if bad and op.error is None:
        op.error = f"{name}: {bad}"


# ------------------------------------------------------------ queries
def iterative_build(ctx) -> Workload:
    outputs: dict = {}  # the unit's DataFrames, hashed by check()

    def unit() -> list[Op]:
        ops = []
        for name in ITERATIVE_BUILD:
            tr = ctx.tracer

            def attempt(name=name, tr=tr):
                with tr.building():
                    df = ctx.queries[name](ctx.spark, ctx.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                return df

            op, outputs[name] = _timed(ctx, name, attempt)
            ops.append(op)
        return ops

    def check() -> None:
        for op in ctx.run.unit:
            if outputs.get(op.name) is not None:
                _check(ctx, op, "queries", op.name, lambda: outputs[op.name])

    return Workload(unit, list, check)


# --------------------------------------------------------------- daily
def daily_market(ctx) -> Workload:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from fin_trade_craft_spark.plans.daily_run import GROUP, T_FEATURES, run_daily_market
    from fin_trade_craft_spark.plans.watermarks import WatermarkLedger
    from fin_trade_craft_spark.sources.io import TableIO

    spark, wh = ctx.spark, f"{ctx.work_dir}/warehouse"
    symbols = sorted(
        set(pq.read_table(f"{ctx.sf_dir}/events.parquet", columns=["user_id"]).column(0).to_pylist())
    )
    stale = stale_subset(symbols, ctx.seed)
    ctx.run.record.update(n_symbols=len(symbols), stale_symbols=len(stale))
    timing_io = timing_table_io(TableIO)
    hours = itertools.count()  # every phase runs an hour after the last
    baseline: dict = {}

    def phase(name: str, want_work: int) -> Op:
        io = timing_io(spark, wh) if ctx.trace else TableIO(spark, wh)
        now = DAY0 + timedelta(hours=next(hours))
        with ctx.tracer.patched():
            op, rep = _timed(ctx, name, lambda: run_daily_market(spark, ctx.sf_dir, io, now=now))
        if rep is not None:
            counts = {r.table_name: r.n_rows for r in rep.consistency}
            op.detail = {
                "work_symbols": rep.work_symbols,
                "stages": {s.name: s.wall_sec for s in rep.stages},
                "counts": counts,
            }
            if ctx.trace:
                op.detail["io"] = {k: dict(v) for k, v in io.stats.items()}
                op.detail["io_mb_written"] = io.bytes_written / (1024.0 * 1024.0)
                op.detail["io_files_written"] = io.files_written
            if rep.work_symbols != want_work:
                op.error = f"work_symbols {rep.work_symbols} != {want_work}"
            elif baseline and counts != baseline:
                op.error = f"table counts {counts} != initial {baseline}"
        return op

    def build() -> list[Op]:
        ops = [phase("cold", len(symbols))]
        baseline.update(ops[0].detail.get("counts", {}))
        ctx.run.record["warehouse_mb"] = dir_mb(wh)
        return ops

    def refresh() -> list[Op]:
        try:  # backdate the seeded subset in the ledger (not timed)
            io = TableIO(spark, wh)
            ranges = (
                io.read(T_FEATURES)
                .filter(F.col("symbol_id").isin(stale))
                .groupBy("symbol_id")
                .agg(F.min("date").alias("first_date"), F.max("date").alias("last_date"))
            )
            WatermarkLedger(io).commit_success(GROUP, ranges, now=DAY0 - timedelta(days=365))
        except Exception as e:
            return [Op("stale", error=f"backdate failed: {type(e).__name__}: {e}")]
        return [phase("stale", len(stale))]

    def check() -> None:
        io, op = TableIO(spark, wh), ctx.run.ops()[-1]
        for table in DAILY_TABLES:
            _check(ctx, op, "daily", table, lambda: io.read(table))
        try:
            led = WatermarkLedger(io).read().filter(F.col("transform_group") == GROUP)
            row = led.agg(
                F.count(F.lit(1)).alias("n"),
                (F.min("last_successful_run") >= F.lit(DAY0)).alias("fresh"),
            ).collect()[0]
            bad = None if row["n"] == len(symbols) and row["fresh"] else (
                f"ledger: {row['n']} rows, every watermark since the build: {row['fresh']}")
        except Exception as e:
            bad = f"ledger check failed: {type(e).__name__}: {str(e)[:300]}"
        if bad and op.error is None:
            op.error = bad

    return Workload(build, refresh, check)


def run_workload(ctx, wl: Workload) -> None:
    """The timed unit, the memo residency it leaves, the traced-only
    operations, then the output check."""
    run = ctx.run
    cpu0 = tree_cpu_s(os.getpid())
    run.unit = wl.unit()
    run.record["unit_cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
    run.record["memo"] = memo_residency(ctx.spark)
    if ctx.trace:
        run.extra = wl.extra()
    wl.check()


# name -> (scale factor of its input tables, workload)
WORKLOADS = {
    "daily_market": (0.1, daily_market),
    "iterative_build": (0.01, iterative_build),
}
