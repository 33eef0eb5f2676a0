"""Per-layer metrics from a Spark event log.

``load(event_dir)`` reads the (uncompressed, single-application) event
log into job, stage, task and SQL-execution rows; ``exec_metrics`` and
``module_task_s`` aggregate the tasks of the jobs submitted inside a
time window; ``collector_metrics`` attributes the collector's jobs to
artifacts by the output path in each SQL execution's physical plan.

Time fields are epoch milliseconds, as Spark writes them.
"""

from __future__ import annotations

import json
import os
import re
import statistics

_MB = float(1 << 20)
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
#: SQL metrics of the Python exec nodes (bytes crossing to / from the
#: Python workers)
_PYTHON_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


def load(event_dir: str) -> dict:
    jobs: dict[int, dict] = {}
    stages: dict[int, int] = {}  # stage -> submission time
    tasks: list[dict] = []
    sql: dict[int, dict] = {}
    for root, _dirs, files in os.walk(event_dir):
        for name in files:
            if "appstatus" in name or name.startswith("."):
                continue
            with open(os.path.join(root, name), encoding="utf-8") as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    _add(ev, jobs, stages, tasks, sql)
    stage_job = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            stage_job.setdefault(sid, jid)
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "sql": sql}


def _add(ev, jobs, stages, tasks, sql) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        execution = props.get("spark.sql.execution.root.id") or props.get(
            "spark.sql.execution.id"
        )
        jobs[ev["Job ID"]] = {
            "start": ev.get("Submission Time"),
            "end": None,
            "stages": ev.get("Stage IDs", []),
            "group": props.get("spark.jobGroup.id"),
            "execution": int(execution) if execution is not None else None,
        }
    elif kind == "SparkListenerJobEnd":
        if ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
    elif kind == "SparkListenerStageCompleted":
        si = ev["Stage Info"]
        stages[si["Stage ID"]] = si.get("Submission Time")
    elif kind == "SparkListenerTaskEnd":
        info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics", {})
        python = sum(
            int(a.get("Update") or 0)
            for a in info.get("Accumulables", [])
            if a.get("Name") in _PYTHON_ACCUMS
        )
        tasks.append(
            {
                "stage": ev.get("Stage ID"),
                "launch": info.get("Launch Time"),
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "input": m.get("Input Metrics", {}).get("Bytes Read", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "shuffle_write": m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                ),
                "spill": m.get("Disk Bytes Spilled", 0),
                "output": m.get("Output Metrics", {}).get("Bytes Written", 0),
                "python": python,
            }
        )
    elif kind == _SQL_START:
        sql[ev["executionId"]] = {
            "start": ev.get("time"),
            "end": None,
            "plan": ev.get("physicalPlanDescription", ""),
            "root": ev.get("rootExecutionId", ev["executionId"]),
        }
    elif kind == _SQL_END and ev.get("executionId") in sql:
        sql[ev["executionId"]]["end"] = ev.get("time")


def window_jobs(log: dict, lo_ms: float, hi_ms: float) -> set[int]:
    """Jobs submitted inside [lo_ms, hi_ms]."""
    return {
        jid
        for jid, j in log["jobs"].items()
        if j["start"] is not None and lo_ms <= j["start"] <= hi_ms
    }


def exec_metrics(log: dict, jobs: set[int], wall_s: float, cores: int) -> dict:
    """Executor-layer totals over the tasks of ``jobs``."""
    tasks = [t for t in log["tasks"] if t["job"] in jobs]
    stage_ids = {t["stage"] for t in tasks}
    wait_ms = 0.0
    for t in tasks:
        sub = log["stages"].get(t["stage"])
        if sub is not None and t["launch"] is not None:
            wait_ms += max(0, t["launch"] - sub)
    skew = 1.0
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    for runs in by_stage.values():
        med = statistics.median(runs)
        if len(runs) >= 4 and med > 0:
            skew = max(skew, max(runs) / med)
    run_s = sum(t["run_ms"] for t in tasks) / 1e3
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(stage_ids),
        "exec.tasks": len(tasks),
        "exec.sched_wait_s": wait_ms / 1e3,
        "exec.core_busy_ratio": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "exec.task_s": run_s,
        "exec.cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "exec.input_mb": sum(t["input"] for t in tasks) / _MB,
        "exec.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / _MB,
        "exec.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / _MB,
        "exec.spill_mb": sum(t["spill"] for t in tasks) / _MB,
        "exec.task_skew": skew,
        "exec.python_mb": sum(t["python"] for t in tasks) / _MB,
    }


def driver_outside_jobs_s(log: dict, jobs: set[int], lo_ms: float, hi_ms: float) -> float:
    """Wall time in [lo_ms, hi_ms] not covered by any of ``jobs``."""
    spans = sorted(
        (max(lo_ms, j["start"]), min(hi_ms, j["end"] or hi_ms))
        for jid, j in log["jobs"].items()
        if jid in jobs
    )
    busy, cur_lo, cur_hi = 0.0, None, None
    for a, b in spans:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return max(0.0, (hi_ms - lo_ms) - busy) / 1e3


def module_task_s(log: dict, job_module: dict[int, str]) -> dict[str, float]:
    """Executor run time summed by the module of each job's operator."""
    out: dict[str, float] = {}
    for t in log["tasks"]:
        mod = job_module.get(t["job"])
        if mod is not None:
            out[mod] = out.get(mod, 0.0) + t["run_ms"] / 1e3
    return out


def collector_metrics(
    log: dict, jobs: set[int], out_dir: str, artifacts: list[str]
) -> tuple[dict, dict[int, str]]:
    """Split the collector's jobs into artifact writes, re-read counts
    and frame-build jobs by the output path in each SQL plan; return
    the collector metrics and a job -> artifact map (build jobs go to
    the artifact written next)."""
    paths = {
        a: re.compile(re.escape(os.path.join(out_dir, a)) + r"(?![\w/])")
        for a in artifacts
    }
    kind: dict[int, tuple[str, str]] = {}  # execution -> (write|recount, artifact)
    for eid, ex in log["sql"].items():
        plan = ex["plan"]
        for a, rx in paths.items():
            if rx.search(plan):
                role = "write" if "InsertIntoHadoopFsRelationCommand" in plan else "recount"
                kind[eid] = (role, a)
                break
    spans = {"write": 0.0, "recount": 0.0}
    for eid, (role, _a) in kind.items():
        ex = log["sql"][eid]
        if ex["root"] == eid and ex["end"] is not None:
            spans[role] += (ex["end"] - ex["start"]) / 1e3
    writes = sorted(
        (log["sql"][eid]["start"], a) for eid, (r, a) in kind.items() if r == "write"
    )
    job_artifact: dict[int, str] = {}
    collector_jobs = 0
    for jid in jobs:
        j = log["jobs"][jid]
        hit = kind.get(j["execution"])
        if hit is not None:
            collector_jobs += 1
            job_artifact[jid] = hit[1]
            continue
        nxt = [a for start, a in writes if start >= j["start"]]
        if nxt:
            job_artifact[jid] = nxt[0]
    written = sum(
        t["output"]
        for t in log["tasks"]
        if t["job"] in jobs and kind.get(log["jobs"][t["job"]]["execution"], ("",))[0] == "write"
    )
    return (
        {
            "collector.write_s": spans["write"],
            "collector.recount_s": spans["recount"],
            "collector.jobs": collector_jobs,
            "collector.bytes_written": written,
        },
        job_artifact,
    )
