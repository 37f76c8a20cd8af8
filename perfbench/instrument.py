"""Measurement pieces the workloads share: the layer tracer (job and
stage attribution from Spark's own monitoring), the timing ``TableIO``
subclass, the order-independent output hash and the ``/proc/stat``
steal bracket.

Everything here times the package from the outside: it wraps public
functions and reads Spark's status API; it changes no package code.
"""

from __future__ import annotations

import json
import math
import os
import time
import urllib.request
from contextlib import contextmanager

MB = 1024.0 * 1024.0

# Functions the daily run calls into the query/domain layer. Wrapped
# (by module attribute) in traced runs so their construction time and
# jobs are split from the plan layer's execution.
DAILY_CONSTRUCTORS = [
    ("fin_trade_craft_spark.queries.fin_domain", "market_bars"),
    ("fin_trade_craft_spark.domain.indicators", "compute_indicators"),
    ("fin_trade_craft_spark.domain.trading_signals", "all_signals"),
    ("fin_trade_craft_spark.queries.reporting", "daily_screener"),
    ("fin_trade_craft_spark.queries.reporting", "top25_chart_input"),
    ("fin_trade_craft_spark.plans.pipeline", "consistency_check"),
]


# --------------------------------------------------------------- host
def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (empty off Linux)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by process ``root`` and
    its live descendants (the JVM, pandas-UDF workers), plus what their
    reaped children used. 0.0 off Linux."""
    procs = {}
    for d in os.listdir("/proc") if os.path.isdir("/proc") else []:
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    keep = {root}
    while more := {pid for pid, (ppid, _) in procs.items() if ppid in keep} - keep:
        keep |= more
    return sum(procs[pid][1] for pid in keep if pid in procs) / os.sysconf("SC_CLK_TCK")


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two
    ``cpu_times`` snapshots (field 8 of the cpu line)."""
    if len(before) < 8 or len(after) < 8:
        return 0.0
    total = sum(after) - sum(before)
    return 100.0 * (after[7] - before[7]) / total if total > 0 else 0.0


# ----------------------------------------------------------- output hash
def content_hash(df) -> dict:
    """Row count plus an order-independent content hash of ``df``:
    the sum of per-row xxhash64 values over the columns in name order
    (``processed_at``, the write wall clock, is left out). Computed
    by one Spark aggregate, outside any timed window."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    fields = sorted(
        (f for f in df.schema.fields if f.name != "processed_at"), key=lambda f: f.name
    )
    cols = [
        F.to_json(F.col(f"`{f.name}`")) if isinstance(f.dataType, MapType) else F.col(f"`{f.name}`")
        for f in fields
    ]
    h = F.xxhash64(*cols)
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.xxhash64(F.col("h"), F.lit(7)).cast("decimal(38,0)")).alias("s2"),
    ).collect()[0]
    return {
        "rows": int(row["n"]),
        "hash": f"{row['s1'] or 0}:{row['s2'] or 0}",
        "columns": [f.name for f in fields],
    }


def check_output(got: dict, expected: dict | None) -> str | None:
    """None when ``got`` matches ``expected``; else a one-line reason."""
    if expected is None:
        return "no expected output recorded"
    for key in ("rows", "columns", "hash"):
        if got.get(key) != expected.get(key):
            return f"{key}: got {got.get(key)!r}, expected {expected.get(key)!r}"
    return None


# ------------------------------------------------------------ tracing
class Tracer:
    """Splits each timed operation into a construction layer and an
    execution layer and attributes Spark jobs and stages to them.

    Jobs are attributed by job id: the driver submits jobs from one
    thread, so the ids a layer launches are exactly the ids allocated
    between its start and end (``DAGScheduler.numTotalJobs``). Job wall
    times and stage metrics come from the status REST API of the
    driver's own UI once the listener has caught up. A disabled tracer
    only times the layers (no wrapping, no REST reads)."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._build_ranges: list[tuple[int, int]] = []
        self._depth = 0
        self.build_s = 0.0
        base = spark.sparkContext.uiWebUrl if enabled else None
        if base:
            port = base.rsplit(":", 1)[1]
            app = spark.sparkContext.applicationId
            self._api = f"http://127.0.0.1:{port}/api/v1/applications/{app}"
        else:
            self._api = None

    def next_job_id(self) -> int:
        return int(self._dag.numTotalJobs())

    @contextmanager
    def building(self):
        """Mark a span of construction (query or domain constructor);
        a constructor called inside another counts once."""
        self._depth += 1
        j0, t0 = self.next_job_id(), time.perf_counter()
        try:
            yield
        finally:
            self._depth -= 1
            if self._depth == 0:
                self.build_s += time.perf_counter() - t0
                self._build_ranges.append((j0, self.next_job_id()))

    def wrap(self, fn):
        def wrapped(*args, **kwargs):
            with self.building():
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        return wrapped

    @contextmanager
    def patched(self, targets=DAILY_CONSTRUCTORS):
        """Wrap module-level constructors for the duration (traced
        runs only); callers that import them at call time see the
        wrapper."""
        import importlib

        saved = []
        if self.enabled:
            for mod_name, attr in targets:
                mod = importlib.import_module(mod_name)
                saved.append((mod, attr, getattr(mod, attr)))
                setattr(mod, attr, self.wrap(getattr(mod, attr)))
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def op(self, fn):
        """Time ``fn()`` as one operation. Returns (result, layers) where
        layers holds the wall time and, when enabled, the job/stage
        split of construction vs execution."""
        self.build_s, self._build_ranges = 0.0, []
        j0, t0, epoch0 = self.next_job_id(), time.perf_counter(), time.time()
        result = fn()
        wall = time.perf_counter() - t0
        j1 = self.next_job_id()
        layers = {"wall_s": wall, "build_s": self.build_s, "exec_s": wall - self.build_s}
        if self.enabled:
            build_ids = {j for a, b in self._build_ranges for j in range(a, b)}
            layers.update(self._job_split(range(j0, j1), build_ids, epoch0))
        return result, layers

    # -- Spark status API ------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._api}{path}", timeout=30) as r:
            return json.loads(r.read())

    def _job_split(self, ids: range, build_ids: set[int], since: float) -> dict:
        if not ids or self._api is None:
            return _layer_totals([], [], "build") | _layer_totals([], [], "exec")
        want = set(ids)
        jobs: dict[int, dict] = {}
        deadline = time.time() + 30
        while True:  # the listener bus lags the action that finished
            for j in self._get("/jobs"):
                if j["jobId"] in want and j.get("completionTime"):
                    jobs[j["jobId"]] = j
            if len(jobs) == len(want) or time.time() > deadline:
                break
            time.sleep(0.02)
        # a job lists stages it reuses from earlier jobs (skipped); only
        # stages that ran in this operation count
        stage_ids = {s for j in jobs.values() for s in j.get("stageIds", [])}
        stages = {}
        for s in self._get("/stages"):
            if (
                s["stageId"] in stage_ids
                and s.get("status") == "COMPLETE"
                and _ts(s["submissionTime"]) >= since - 0.002
            ):
                stages.setdefault(s["stageId"], s)
        seen: set[int] = set()
        out = {}
        for layer, pick in (("build", lambda j: j in build_ids), ("exec", lambda j: j not in build_ids)):
            mine = [jobs[j] for j in sorted(jobs) if pick(j)]
            st = []
            for j in mine:
                for s in j.get("stageIds", []):
                    if s in stages and s not in seen:
                        seen.add(s)
                        st.append(stages[s])
            out.update(_layer_totals(mine, st, layer))
        return out


def _ts(s: str) -> float:
    from datetime import datetime, timezone

    d = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=timezone.utc).timestamp()


def _layer_totals(jobs: list[dict], stages: list[dict], layer: str) -> dict:
    """Job count, wall time covered by jobs (union of intervals) and
    summed stage metrics for one layer."""
    spans = sorted((_ts(j["submissionTime"]), _ts(j["completionTime"])) for j in jobs)
    covered, end = 0.0, -math.inf
    for a, b in spans:
        if b > end:
            covered += b - max(a, end)
            end = b
    p = f"{layer}."
    return {
        p + "jobs": len(jobs),
        p + "job_s": covered,
        p + "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        p + "executor_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
        p + "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        p + "input_mb": sum(s.get("inputBytes", 0) for s in stages) / MB,
        p + "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in stages) / MB,
        p + "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / MB,
        p + "spill_mb": sum(s.get("diskBytesSpilled", 0) for s in stages) / MB,
        p + "peak_mem_mb": max([s.get("peakExecutionMemory", 0) for s in stages] or [0]) / MB,
    }


def memo_residency(spark) -> dict:
    """Executor storage held by cached/checkpointed RDDs right now
    (the session memos' footprint)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached = [i for i in infos if i.numCachedPartitions() > 0]
    return {
        "storage_mb": sum(i.memSize() + i.diskSize() for i in cached) / MB,
        "cached_rdds": len(cached),
    }


# ------------------------------------------------------ timing TableIO
def timing_table_io(base_cls):
    """A ``TableIO`` subclass that times its public read/write methods
    and measures what each write leaves on disk. Only the outermost
    call is counted (``upsert`` calls ``exists`` and ``overwrite``
    internally). Behaviour is otherwise the parent's."""

    class TimingTableIO(base_cls):
        OPS = ("overwrite", "upsert", "read", "exists")

        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            self._depth = 0
            self.reset()

        def reset(self) -> None:
            self.stats = {op: {"s": 0.0, "calls": 0} for op in self.OPS}
            self.bytes_written = 0
            self.files_written = 0

        def _timed(self, op, table, fn):
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn()
            finally:
                self._depth -= 1
                if self._depth == 0:
                    self.stats[op]["s"] += time.perf_counter() - t0
                    self.stats[op]["calls"] += 1
                    if op in ("overwrite", "upsert"):
                        n, b = _dir_size(self.path(table))
                        self.files_written += n
                        self.bytes_written += b

        def overwrite(self, df, table, partition_by=None):
            return self._timed("overwrite", table, lambda: super(TimingTableIO, self).overwrite(df, table, partition_by))

        def upsert(self, df, table, keys, partition_by=None):
            return self._timed("upsert", table, lambda: super(TimingTableIO, self).upsert(df, table, keys, partition_by))

        def read(self, table):
            return self._timed("read", table, lambda: super(TimingTableIO, self).read(table))

        def exists(self, table):
            return self._timed("exists", table, lambda: super(TimingTableIO, self).exists(table))

    return TimingTableIO


def _dir_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; every daily-run write
    rewrites its whole table, so this is what the write produced."""
    n = b = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(root, f))
    return n, b


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / MB
