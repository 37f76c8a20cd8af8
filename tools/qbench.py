"""Per-query instrument: ``bench.py``'s session, warm-up and attempt
loop for the named queries only, each attempt traced by perfbench's
``Tracer``. The A/B instrument for optimization work (a full bench
run takes minutes and carries cross-query memo state) and the scale
probe.

Usage: python tools/qbench.py <query> [query ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS   (default 32)
       QBENCH_ATTEMPTS    (default 2)

Prints, per attempt, one JSON record: ``wall_s`` split into
construction (``build_s``) and execution (``exec_s``); per layer the
Spark job count and job time, tasks, executor run and CPU time,
input, shuffle read and write, spill and peak execution memory
(``build.*``, ``exec.*``); ``memo.storage_mb`` and ``memo.cached_rdds``
after the attempt; the host steal over the attempt. After each
query's last attempt, one line per Spark job it ran (layer, wall,
tasks, the SQL execution it ran under and that execution's
description, then the job's own name) with one line per stage under
it. The last line sums up:
``{"sf_dir", "cpus", "queries": {name: min wall}, "attempts":
{name: [wall, ...]}}``.

Scale curve: point ``SPARK_GRAFT_SF_DIR`` at a replica
(``tools/gen_scale_testdata.py``). Attempt 1 is the cold run (it
builds the session memos: LSH signatures, semantic edges,
codebooks), attempt 2 the warm serving run; ``*.peak_mem_mb`` and
``*.spill_mb`` show when a partition stops fitting executor memory.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from bench import SF_DIR, open_session, run_attempts, warm_up  # noqa: E402
from instrument import MB, Tracer, _ts  # noqa: E402


def job_executions(tracer) -> dict[int, tuple[int, str]]:
    """Job id -> (SQL execution id, description) from the status REST
    API. Spark names the jobs AQE launches to materialize query stages
    after a ``CompletableFuture`` frame, whatever call built the plan;
    the execution they run under is described by the action that
    started it."""
    # the endpoint pages 20 executions by default
    execs = tracer._get("/sql?details=false&length=1000000")
    return {
        j: (e["id"], e.get("description", ""))
        for e in execs
        for key in ("successJobIds", "failedJobIds", "runningJobIds")
        for j in e.get(key, [])
    }


def job_lines(tracer, job_range) -> list[str]:
    """The jobs in ``job_range`` and their stages, from the status
    REST API. A job lists the stages it reuses from earlier jobs too;
    only stages submitted within the job are printed."""
    j0, j1 = job_range
    jobs = [j for j in tracer._get("/jobs") if j0 <= j["jobId"] < j1]
    execs = job_executions(tracer)
    stages: dict[int, dict] = {}
    for s in tracer._get("/stages"):
        if s.get("status") == "COMPLETE":
            stages.setdefault(s["stageId"], s)
    # the tracer's construction spans of its last operation
    build = {j for a, b in tracer._build_ranges for j in range(a, b)}
    lines = []
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        t0 = _ts(j["submissionTime"])
        wall = _ts(j["completionTime"]) - t0 if j.get("completionTime") else float("nan")
        layer = "build" if j["jobId"] in build else "exec"
        sql_id, desc = execs.get(j["jobId"], ("-", ""))
        # call sites are absolute paths; the checkout prefix says nothing
        desc, name = (t.replace(f"{ROOT}/", "") for t in (desc, j.get("name", "")))
        lines.append(
            f"job {j['jobId']:>5} {layer:<5} {wall:6.2f}s tasks={j.get('numCompletedTasks', 0):>4}"
            f"  sql={sql_id} {desc[:60]!r}  {name[:70]}"
        )
        for sid in sorted(j.get("stageIds", [])):
            s = stages.get(sid)
            if s is None or _ts(s["submissionTime"]) < t0 - 0.002:
                continue
            lines.append(
                f"    stage {sid:>5} tasks={s.get('numCompleteTasks', 0):>4}"
                f" run={s.get('executorRunTime', 0) / 1e3:6.2f}s"
                f" cpu={s.get('executorCpuTime', 0) / 1e9:6.2f}s"
                f" in={s.get('inputBytes', 0) / MB:7.2f}MB"
                f" sr={s.get('shuffleReadBytes', 0) / MB:7.2f}MB"
                f" sw={s.get('shuffleWriteBytes', 0) / MB:7.2f}MB"
                f" spill={s.get('diskBytesSpilled', 0) / MB:6.2f}MB"
                f" peak={s.get('peakExecutionMemory', 0) / MB:7.2f}MB"
            )
    return lines


def main() -> None:
    names = sys.argv[1:]
    n_att = int(os.environ.get("QBENCH_ATTEMPTS", "2"))
    spark = open_session("qbench")
    warm_up(spark, SF_DIR)
    tracer = Tracer(spark, True)
    cpus = spark.sparkContext.defaultParallelism

    attempts: dict[str, list[float]] = {}
    for name in names:
        records = run_attempts(spark, name, SF_DIR, n_att, tracer)
        for i, rec in enumerate(records, 1):
            rounded = {k: round(v, 3) if isinstance(v, float) else v for k, v in rec.items()}
            print(json.dumps({"query": name, "attempt": i, "sf_dir": SF_DIR, "cpus": cpus, **rounded}))
        print("\n".join(job_lines(tracer, records[-1]["job_range"])))
        attempts[name] = [round(r["wall_s"], 3) for r in records]
    print(json.dumps({
        "sf_dir": SF_DIR,
        "cpus": cpus,
        "queries": {q: min(a) for q, a in attempts.items()},
        "attempts": attempts,
    }))


if __name__ == "__main__":
    main()
