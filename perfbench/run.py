"""Benchmark entry point.

    python3 perfbench/run.py --workload <daily_market|iterative_build>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. It generates the
seeded input tables at the workload's scale factor into
``perfbench/.data`` (once per checkout), starts one Spark session on
``local[4]`` in this fresh process, times one unit of the workload
(see ``workloads.py``), checks its outputs, prints a self-describing
record line and, as the last line of standard output, the result
object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the per-layer metrics. A unit
takes longer than ``--seconds`` at the 10 s the benchmark runs with,
so ``--seconds`` is only recorded. All
temporary output (Spark local dirs, temp dirs, the warehouse) goes under
``perfbench/.work`` and is removed at exit.

``--capture`` records the observed output hashes into
``perfbench/expected.json`` instead of checking them (run it only on
a commit whose outputs pass ``tools/check_correctness.py`` on the
generated tables).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

from workloads import DAILY_PHASES, DAILY_STAGES, ITERATIVE_BUILD  # noqa: E402

DATA_SEED = 42
CPUS = 4
END_TO_END = {"setup_s": "s", "unit_cpu_s": "s"}
# per-layer metrics of the traced unit
UNIT_LAYERS = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_job_s": "s",
    "queries.build_gap_s": "s",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.job_s": "s",
    "exec.gap_s": "s",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.peak_mem_mb": "MB",
}
IO_OPS = ["overwrite", "upsert", "read", "exists"]
PER_LAYER = {
    "unit.wall_s": "s",
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    **UNIT_LAYERS,
    **{f"queries.build_s.{q}": "s" for q in ITERATIVE_BUILD},
    **{f"exec.run_s.{q}": "s" for q in ITERATIVE_BUILD},
    **{f"plans.daily.{p}_s": "s" for p in DAILY_PHASES},
    **{f"plans.daily.{p}.{st}_s": "s" for p in DAILY_PHASES for st in DAILY_STAGES},
    "plans.daily.work_symbols": "count",
    **{f"sources.io.{op}_s": "s" for op in IO_OPS},
    **{f"sources.io.{op}_calls": "count" for op in IO_OPS},
    **{f"sources.io.{p}.bytes_written_mb": "MB" for p in DAILY_PHASES},
    **{f"sources.io.{p}.files_written": "count" for p in DAILY_PHASES},
    "sources.warehouse_mb": "MB",
    "memo.storage_mb": "MB",
    "memo.cached_rdds": "count",
    "host.cpus": "count",
    "host.steal_pct": "%",
}


class Ctx:
    """What a workload sees: the session, inputs, seed and tracer."""

    def __init__(self, spark, args, sf_dir, work_dir, expected):
        from fin_trade_craft_spark.queries import all_queries
        from instrument import Tracer
        from workloads import Run

        self.spark, self.sf_dir, self.work_dir = spark, sf_dir, work_dir
        self.seed, self.trace = args.seed, bool(args.trace)
        self.capture, self.expected = args.capture, expected
        self.queries = all_queries()
        self.run = Run()
        self.tracer = Tracer(spark, self.trace)


# ---------------------------------------------------------------- setup
def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and the package write inside the
    checkout, and let pandas-UDF workers import the package."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, str(ROOT))


def start_session(work: Path, sf_dir: str):
    """The set-up a user pays once per process: launch the JVM through
    the package's ``get_spark`` and warm it with a one-table scan.
    Returns (spark, get_spark seconds, warm-up seconds)."""
    from fin_trade_craft_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        },
    )
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -------------------------------------------------------------- records
def source_fingerprint() -> dict:
    h = hashlib.sha256()
    for p in sorted((ROOT / "fin_trade_craft_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    try:
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def unit_totals(unit) -> dict:
    """Construction and execution totals of one unit (summed over its
    operations)."""
    t: dict = {}
    for op in unit:
        for key, val in op.layers.items():
            t[key] = t.get(key, 0.0) + val
    g = lambda k: t.get(k, 0.0)  # noqa: E731
    out = {
        "queries.build_s": g("build_s"),
        "queries.build_jobs": g("build.jobs"),
        "queries.build_job_s": g("build.job_s"),
        "queries.build_gap_s": g("build_s") - g("build.job_s"),
        "exec.run_s": g("exec_s"),
        "exec.job_s": g("exec.job_s"),
        "exec.gap_s": g("exec_s") - g("exec.job_s"),
    }
    for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "input_mb",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "peak_mem_mb"):
        out[f"exec.{k}"] = g(f"exec.{k}")
    return out


def layer_metrics(run) -> dict:
    """Per-layer metrics of a traced run: the construction/execution
    split of the timed unit, per query and per daily phase. Metrics of
    the other workload's layers read 0."""
    out = unit_totals(run.unit)
    ok = {op.name: op for op in run.ops() if op.error is None}
    for q in ITERATIVE_BUILD:
        op = ok.get(q)
        out[f"queries.build_s.{q}"] = op.layers["build_s"] if op else 0.0
        out[f"exec.run_s.{q}"] = op.layers["exec_s"] if op else 0.0
    io_ops = {op: {"s": 0.0, "calls": 0.0} for op in IO_OPS}
    for p in DAILY_PHASES:
        op = ok.get(p)
        d = op.detail if op else {"stages": {}, "io_mb_written": 0.0, "io_files_written": 0, "io": {}}
        out[f"plans.daily.{p}_s"] = op.s if op else 0.0
        for st in DAILY_STAGES:
            out[f"plans.daily.{p}.{st}_s"] = d["stages"].get(st, 0.0)
        out[f"sources.io.{p}.bytes_written_mb"] = d["io_mb_written"]
        out[f"sources.io.{p}.files_written"] = d["io_files_written"]
        for name, stats in d["io"].items():  # summed over the phases
            for k in ("s", "calls"):
                io_ops[name][k] += stats[k]
    for op in IO_OPS:
        out[f"sources.io.{op}_s"] = io_ops[op]["s"]
        out[f"sources.io.{op}_calls"] = io_ops[op]["calls"]
    out["plans.daily.work_symbols"] = ok["stale"].detail["work_symbols"] if "stale" in ok else 0
    out["sources.warehouse_mb"] = run.record.get("warehouse_mb", 0.0)
    out["memo.storage_mb"] = run.record["memo"]["storage_mb"]
    out["memo.cached_rdds"] = run.record["memo"]["cached_rdds"]
    return out


def summarize(ctx, setup, steal, elapsed) -> tuple[dict, dict, dict]:
    """(end-to-end metrics, per-layer metrics, record) of one run.
    ``setup`` is (get_spark seconds, warm-up seconds)."""
    run = ctx.run
    e2e = {"setup_s": setup[0] + setup[1], "unit_cpu_s": run.record["unit_cpu_s"]}
    rec = dict(run.record)
    rec["ops"] = {
        o.name: {"s": round(o.s, 4)} | (
            {"stages": o.detail["stages"]} if "stages" in o.detail else {})
        for o in run.ops()
    }
    rec["errors"] = [f"{o.name}: {o.error}" for o in run.ops() if o.error]
    layers: dict = {}
    if ctx.trace:
        layers = layer_metrics(run)
        layers["unit.wall_s"] = sum(o.s for o in run.unit)
        rec["op_layers"] = {
            o.name: {k: round(v, 4) for k, v in o.layers.items()} | (
                {"io": o.detail["io"]} if "io" in o.detail else {})
            for o in run.ops()
        }
    layers["session.get_spark_s"], layers["session.warmup_s"] = setup
    layers["host.cpus"] = os.cpu_count() or 0
    layers["host.steal_pct"] = steal
    rec.update(setup=[round(v, 4) for v in setup], steal_pct=steal, cpus=os.cpu_count(), wall_s=elapsed)
    return e2e, layers, rec


# ----------------------------------------------------------------- main
def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data-seed", type=int, default=DATA_SEED,
                   help="seed of the generated tables (expected outputs exist for 42 and 43)")
    p.add_argument("--capture", action="store_true",
                   help="record observed output hashes into expected.json")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "fin_trade_craft_spark" / "__init__.py").is_file():
        print(f"perfbench: no fin_trade_craft_spark package under {ROOT}", file=sys.stderr)
        return 2
    import datagen
    from instrument import cpu_times, steal_pct
    from workloads import WORKLOADS, run_workload

    sf, make_workload = WORKLOADS[args.workload]
    inputs = f"sf{sf}-seed{args.data_seed}"
    work = BENCH / ".work" / f"run-{os.getpid()}"
    prepare_env(work)
    sf_dir = datagen.write(str(BENCH / ".data" / f"{inputs}-v{datagen.VERSION}"), sf, args.data_seed)
    exp_path = BENCH / "expected.json"
    expected_all = json.loads(exp_path.read_text()) if exp_path.is_file() else {}

    spark = None
    try:
        t_start, cpu0 = time.perf_counter(), cpu_times()
        spark, s_get, s_warm = start_session(work, sf_dir)
        ctx = Ctx(spark, args, sf_dir, str(work), expected_all.get(inputs, {}))
        run_workload(ctx, make_workload(ctx))
        steal = steal_pct(cpu0, cpu_times())
        e2e, layers, rec = summarize(ctx, (s_get, s_warm), steal, time.perf_counter() - t_start)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.capture:
        entry = expected_all.setdefault(inputs, {})
        for kind, outputs in ctx.run.observed.items():
            entry.setdefault(kind, {}).update(outputs)
        exp_path.write_text(json.dumps(expected_all, indent=1, sort_keys=True) + "\n")

    ops = ctx.run.ops()
    failed = sum(1 for o in ops if o.error)
    rec.update(
        workload=args.workload, seed=args.seed, data_seed=args.data_seed, sf=sf,
        seconds=args.seconds, trace=args.trace, error_rate=failed / max(1, len(ops)),
        **source_fingerprint(),
    )
    metrics = e2e if not args.trace else layers
    names = END_TO_END if not args.trace else PER_LAYER
    print(json.dumps({"record": rec}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": unit} for n, unit in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
