"""Repository benchmark: one closed-loop client against the engine.

    python3 catbench/run.py --workload collect|scale --seed N \
        --seconds S --trace 0|1

Workloads (NOTES.md says why each exists):

- ``collect``: ``collector.run_collection`` over a seeded sf0.01
  fixture into a fresh output directory, from a cold session; one
  operation is one artifact.
- ``scale``: the queries in ``SCALE``, prepared with
  ``registry.prepared_frame`` and executed to the noop sink on a seeded
  sf1 fixture (the ``tools/make_sf10x.py`` key-shift of a seeded sf0.1
  base), in a seed-permuted order per pass; one operation is one query.

Each run starts one Spark session sized from the machine, sets up
(session, registry, relation load, and on ``scale`` the prepare and warm
passes), repeats whole passes until ``--seconds`` have passed, then
checks every output against its registry DuckDB oracle with
``testing.compare_frames``. Everything it writes stays under
``.catbench/`` in the checkout.

Metric lines go to stdout first. The last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run enables the Spark event log and job groups
and writes its spans and per-job event-log rows to a sidecar under
``.catbench/trace/``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import random
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".catbench")

#: scale workload: the sf10 compute subset of bench.HEADLINE, minus
#: q_sessions (a ~1M-row result to check) and q_semdedup, q_nb_lang,
#: q_tpch_q21, q_autocorr and q_hashed_features (their warm and oracle
#: cost would push a run past its share of the benchmark's time
#: budget; see NOTES.md).
SCALE = ["q_pricing_summary", "q_distinct", "q_unsalted_join", "q_kmeans"]
#: untimed noop passes over SCALE before the timed passes
WARM_PASSES = 2
#: workload -> fixture scale factor
WORKLOADS = {"collect": 0.01, "scale": 1}
#: seeded fixtures kept on disk per workload; older seeds are evicted
KEEP_SEEDS = 4
#: memory caps, so a run leaves room for other work on a shared host:
#: driver JVM heap and DuckDB oracle, in GiB (smaller on small machines)
DRIVER_HEAP_GIB = 2
DUCK_MEM_GIB = 1

#: metric -> unit; BENCHMARK.json lists the same names
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s"}
PER_LAYER = {
    "session.start_s": "s",
    "session.driver_rss_mb": "MB",
    "registry.load_all_s": "s",
    "sources.relation_load_s": "s",
    "registry.build_s": "s",
    "collector.write_s": "s",
    "collector.recount_s": "s",
    "collector.jobs": "count",
    "collector.bytes_written": "bytes",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.sched_wait_s": "s",
    "exec.core_busy_ratio": "ratio",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.task_skew": "ratio",
    "exec.python_mb": "MB",
    "catalog.task_s": "s",
    "operators.task_s": "s",
    "llm.task_s": "s",
    "functions.task_s": "s",
    "streaming.task_s": "s",
    "trace.timed_wall_s": "s",
}
#: printed on the metric lines of every run, not gated (NOTES.md)
REPORTED = {
    "op_p25_s": "s",
    "op_p50_s": "s",
    "op_p75_s": "s",
    "op_p90_s": "s",
    "op_samples": "count",
    "failed_ratio": "ratio",
    "driver_rss_mb": "MB",
    "timed_s": "s",
}
MODULES = ["catalog", "operators", "llm", "functions", "streaming"]


class Spans:
    """In-memory spans (name, start, end, parent), written at the end."""

    def __init__(self) -> None:
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        row = {"id": len(self.rows), "name": name, **attrs}
        row["parent"] = self._stack[-1] if self._stack else None
        self.rows.append(row)
        self._stack.append(row["id"])
        row["start"] = time.time()
        try:
            yield row
        finally:
            row["end"] = time.time()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.rows if r["name"] == name)


def machine() -> dict:
    """Session size derived from this machine."""
    cpus = len(os.sched_getaffinity(0))  # what nproc prints
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    gib = 1 << 20
    return {
        "cpus": cpus,
        "mem_total_gib": round(mem_kib / gib, 1),
        "driver_heap": f"{max(1, min(DRIVER_HEAP_GIB, (mem_kib // 4) // gib))}g",
        "shuffle_partitions": 4 * cpus,
        "duck_mem": f"{max(1, min(DUCK_MEM_GIB, mem_kib // 8 // gib))}GB",
    }


def fixture(workload: str, seed: int) -> str:
    """The workload's seeded fixture dir, generated once per seed."""
    import datagen

    data = os.path.join(WORK, "data")
    sf = WORKLOADS[workload]
    seed_dir = os.path.join(data, f"{workload}-seed{seed}")
    out = os.path.join(seed_dir, f"sf{sf}")
    done = out + ".done"
    if not os.path.exists(done):
        shutil.rmtree(seed_dir, ignore_errors=True)
        if sf == 1:
            base = os.path.join(seed_dir, "base", "sf0.1")
            datagen.make_base(base, seed, 0.1)
            datagen.make_scaled(base, out, seed, 10)
            shutil.rmtree(os.path.dirname(base))
        else:
            datagen.make_base(out, seed, sf)
        open(done, "w").close()
    os.utime(seed_dir)
    mine = [os.path.join(data, d) for d in os.listdir(data) if d.startswith(f"{workload}-seed")]
    for old in sorted(mine, key=os.path.getmtime)[:-KEEP_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)
    return out


def vm_hwm_kib(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))


def start_session(args, mach: dict, scratch: str):
    from hive_metadata_collect_spark.session import configure
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName(f"catbench-{args.workload}")
        .master(f"local[{mach['cpus']}]")
        .config("spark.driver.memory", mach["driver_heap"])
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.driver.extraJavaOptions", os.environ["SPARK_LAUNCHER_OPTS"])
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
    )
    builder = configure(builder, shuffle_partitions=mach["shuffle_partitions"])
    if args.trace:
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", os.path.join(scratch, "events"))
            .config("spark.eventLog.compress", "false")
        )
    return builder.getOrCreate()


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF
    try:
        gateway.proc.wait(timeout=60)
    except Exception:
        gateway.proc.kill()
        gateway.proc.wait()


def run(args, scratch: str) -> dict:
    from hive_metadata_collect_spark import collector, registry, testing
    from hive_metadata_collect_spark.sources import fixtures
    from pyspark import SparkContext

    import bench

    mach = machine()
    sf_dir = fixture(args.workload, args.seed)
    os.makedirs(os.path.join(scratch, "spark-local"))
    os.makedirs(os.path.join(scratch, "events"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = scratch
    # keep the JVMs' temp files, including hsperfdata, inside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}"
    os.environ["SPARK_GRAFT_DUCK_MEM"] = mach["duck_mem"]
    spans = Spans()
    rng = random.Random(args.seed)
    ops: list[tuple[str, float, str | None]] = []  # (name, seconds, error)
    bad: dict[str, str] = {}  # output -> mismatch
    names = {key: bench.HEADLINE[key] for key in SCALE}
    collection = None

    def group(op: str, what: str) -> None:
        if args.trace:
            spark.sparkContext.setJobGroup(op, what)

    t_setup = time.perf_counter()
    with spans.span("session.start"):
        spark = start_session(args, mach, scratch)
    jvm_pid = SparkContext._gateway.proc.pid
    try:
        with spans.span("registry.load_all"):
            op_table = registry.load_all()
        with spans.span("sources.relation_load"):
            for table in fixtures.TABLES:
                fixtures.load_table(spark, sf_dir, table)
        if args.workload == "scale":
            order = list(names)
            rng.shuffle(order)
            for key in order:
                group(names[key], f"prepare {names[key]}")
                with spans.span("registry.prepare", op=names[key]):
                    registry.prepared_frame(spark, names[key], sf_dir)
            # the first executions of each plan pay codegen and JIT warm-up
            with spans.span("warm"):
                for _ in range(WARM_PASSES):
                    for key in order:
                        group(names[key], f"warm {names[key]}")
                        df = registry.prepared_frame(spark, names[key], sf_dir)
                        df.write.format("noop").mode("overwrite").save()
        gc.collect()
        spark._jvm.System.gc()
        setup_s = time.perf_counter() - t_setup

        t0 = time.perf_counter()
        with spans.span("timed") as timed:
            while not ops or time.perf_counter() - t0 < args.seconds:
                if args.workload == "collect":
                    out_dir = os.path.join(scratch, f"collection-{len(ops)}")
                    group("run_collection", "run_collection")
                    a, err = time.perf_counter(), None
                    try:
                        with spans.span("collector.run_collection", out_dir=out_dir):
                            manifest = collector.run_collection(spark, sf_dir, out_dir)
                    except Exception as exc:  # counted as failed
                        err = repr(exc)
                    ops.append(("run_collection", time.perf_counter() - a, err))
                    if collection is None:
                        collection = (out_dir, None if err else manifest)
                    continue
                order = list(names)
                rng.shuffle(order)
                for key in order:
                    group(names[key], names[key])
                    a, err = time.perf_counter(), None
                    try:
                        with spans.span("op", op=names[key]):
                            with spans.span("registry.build"):
                                df = registry.prepared_frame(spark, names[key], sf_dir)
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:  # counted as failed
                        err = repr(exc)
                    ops.append((key, time.perf_counter() - a, err))
        timed_s = time.perf_counter() - t0
        rss_mb = (vm_hwm_kib(jvm_pid) + vm_hwm_kib(os.getpid())) / 1024.0

        # correctness pass, outside the timed region
        group("check", "correctness pass")
        if args.workload == "collect":
            checks = {}
            if collection[1] is not None:
                for row in collection[1].collect():
                    checks[row["artifact"]] = (row["operator"], spark.read.parquet(row["path"]))
            bad.update({a: "not written" for a in set(collector.ARTIFACTS) - set(checks)})
        else:
            checks = {
                key: (op, registry.prepared_frame(spark, op, sf_dir)) for key, op in names.items()
            }
        con = testing.duck_connection(sf_dir)
        try:
            for key, (op, frame) in checks.items():
                try:
                    testing.compare_frames(frame, con, op_table[op].oracle)
                except Exception as exc:  # a mismatch or an oracle error
                    bad[key] = repr(exc)[:300]
        finally:
            con.close()
    finally:
        stop_session(spark)

    # one operation = one artifact on collect, one query on scale
    if args.workload == "collect":
        per_call = len(collector.ARTIFACTS)
        attempted = per_call * len(ops)
        failed = sum(per_call for _op, _s, err in ops if err)
        failed += len(bad) if collection[1] is not None else 0
    else:
        attempted = len(ops)
        failed = sum(1 for key, _s, err in ops if err or key in bad)
    lat = [s for _op, s, _err in ops]
    q = statistics.quantiles(lat, n=4) if len(lat) > 1 else [lat[0]] * 3
    reported = {
        "op_p25_s": q[0],
        "op_p50_s": statistics.median(lat),
        "op_p75_s": q[2],
        "op_samples": len(lat),
        "failed_ratio": failed / attempted,
        "driver_rss_mb": rss_mb,
        "timed_s": timed_s,
    }
    if len(lat) >= 100:  # at least 10 samples beyond p90
        reported["op_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    metrics = {"setup_s": setup_s, "ops_per_s": attempted / timed_s}
    errors = {op: err for op, _s, err in ops if err}
    errors.update(bad)
    side = {
        "workload": args.workload,
        "seed": args.seed,
        "sf_dir": os.path.relpath(sf_dir, ROOT),
        "machine": mach,
        "ops": [{"op": op, "s": s, "error": err} for op, s, err in ops],
        "errors": errors,
        "end_to_end": metrics,
        "reported": reported,
    }
    if args.trace:
        import eventlog

        log = eventlog.load(os.path.join(scratch, "events"))
        out_dir = collection[0] if collection else None
        metrics = per_layer(args, log, spans, timed, timed_s, mach, op_table, out_dir)
        metrics["session.driver_rss_mb"] = rss_mb
        side["per_layer"] = metrics
        side["spans"] = spans.rows
        side["event_log"] = event_rows(log)
    record(args, side, timed_s / len(ops))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "reported": reported,
        "errors": errors,
    }


def per_layer(args, log, spans, timed, timed_s, mach, op_table, out_dir) -> dict:
    """Per-layer metrics of the timed window from spans and event log."""
    import eventlog
    from hive_metadata_collect_spark import collector

    lo, hi = timed["start"] * 1e3, timed["end"] * 1e3
    jobs = eventlog.window_jobs(log, lo, hi)
    m = {
        "session.start_s": spans.total("session.start"),
        "registry.load_all_s": spans.total("registry.load_all"),
        "sources.relation_load_s": spans.total("sources.relation_load"),
        "trace.timed_wall_s": timed_s,
    }
    m.update(eventlog.exec_metrics(log, jobs, timed_s, mach["cpus"]))
    module_of = {name: op.fn.__module__.split(".")[1] for name, op in op_table.items()}
    if args.workload == "collect":
        cm, job_artifact = eventlog.collector_metrics(
            log, jobs, out_dir, list(collector.ARTIFACTS)
        )
        m.update(cm)
        m["registry.build_s"] = eventlog.driver_outside_jobs_s(log, jobs, lo, hi)
        job_op = {jid: collector.ARTIFACTS[a] for jid, a in job_artifact.items()}
    else:
        m.update(dict.fromkeys(["collector.write_s", "collector.recount_s"], 0.0))
        m.update(dict.fromkeys(["collector.jobs", "collector.bytes_written"], 0))
        m["registry.build_s"] = spans.total("registry.build")
        job_op = {jid: log["jobs"][jid]["group"] for jid in jobs}
    by_module = eventlog.module_task_s(
        log, {jid: module_of[op] for jid, op in job_op.items() if op in module_of}
    )
    for mod in MODULES:
        m[f"{mod}.task_s"] = by_module.get(mod, 0.0)
    return m


def event_rows(log: dict) -> list[dict]:
    """Per-job event-log rows for the sidecar."""
    rows = []
    for jid, j in sorted(log["jobs"].items()):
        tasks = [t for t in log["tasks"] if t["job"] == jid]
        rows.append(
            {
                "job": jid,
                "group": j["group"],
                "execution": j["execution"],
                "start_ms": j["start"],
                "end_ms": j["end"],
                "stages": len(j["stages"]),
                "tasks": len(tasks),
                "task_s": sum(t["run_ms"] for t in tasks) / 1e3,
                "input_mb": sum(t["input"] for t in tasks) / (1 << 20),
                "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / (1 << 20),
            }
        )
    return rows


def record(args, side: dict, s_per_op: float) -> None:
    """Write the run's sidecar and append its timed seconds per
    operation to the workload's log; a traced run also records its
    tracing overhead against the untraced runs in that log."""
    trace_dir = os.path.join(WORK, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    log_path = os.path.join(trace_dir, f"walls-{args.workload}.jsonl")
    untraced = []
    if os.path.exists(log_path):
        with open(log_path, encoding="utf-8") as f:
            untraced = [r["s_per_op"] for r in map(json.loads, f) if not r["trace"]]
    if args.trace and untraced:
        base = statistics.median(untraced)
        side["tracing_overhead"] = {
            "traced_s_per_op": s_per_op,
            "untraced_median_s_per_op": base,
            "untraced_runs": len(untraced),
            "ratio": s_per_op / base,
        }
    with open(log_path, "a", encoding="utf-8") as f:
        row = {"seed": args.seed, "trace": bool(args.trace), "s_per_op": s_per_op}
        f.write(json.dumps(row) + "\n")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(trace_dir, name), "w", encoding="utf-8") as f:
        json.dump(side, f, indent=1, default=str)


def main() -> int:
    p = argparse.ArgumentParser(description="catbench: the repository benchmark")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401
        import hive_metadata_collect_spark  # noqa: F401
    except ImportError as exc:
        print(f"catbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    scratch = os.path.join(WORK, "tmp", f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        out = run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    units = {**END_TO_END, **PER_LAYER, **REPORTED}
    for name, value in {**out.pop("metrics"), **out.pop("reported")}.items():
        print(f"{args.workload} {name} = {value:.6g} {units[name]}")
        out.setdefault("metrics", {})[name] = {"value": value, "unit": units[name]}
    for op, err in out.pop("errors").items():
        print(f"{args.workload} FAILED {op}: {err}")
    gated = END_TO_END if not args.trace else PER_LAYER
    out["metrics"] = {k: v for k, v in out["metrics"].items() if k in gated}
    sys.stdout.flush()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
