#!/usr/bin/env python3
"""Benchmark driver: one closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload star_queries --seed 7 --seconds 20 --trace 0

Run from the root of a checkout. The program is the package in that
checkout; its inputs are generated from ``--seed`` under
``.perfbench_work/`` (removed at exit). Every op's output is checked.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it records the
run settings, host and sample counts. See perfbench/README.md.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # setup_s runs from here to the first timed op

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import workloads  # noqa: E402  (perfbench/workloads.py)

JVM_GC = "-XX:+UseSerialGC"


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _mount_fs(path: str) -> str:
    best, fs = "", "unknown"
    with open("/proc/mounts", encoding="ascii") as fh:
        for line in fh:
            _, mnt, kind = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, fs = mnt, kind
    return fs


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and every process it
    started (Python workers) to exit; kill what outlives the grace."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    stragglers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    while stragglers and time.monotonic() < deadline:
        stragglers = [p for p in stragglers if _alive(p)]
        time.sleep(0.05)
    for p in stragglers:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def _host(spark) -> dict:
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = int(fh.readline().split()[1])
    import pyspark

    return {
        "nproc": _nproc(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "cpu": platform.processor() or platform.machine(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Half the CPUs run tasks; the rest are left to the driver, the JIT
    # compiler threads and the host, so a busy host slows a run less.
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, _nproc() // 2))
    # keep Spark's, the JVM's and Python's scratch files in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_SUBMIT_OPTS"),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
        # G1 grows the heap by GC pause times, so its peak RSS follows
        # the host's load; the serial collector sizes it by live data.
        JVM_GC,
    )))
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)  # only when no other run is using it


def _run(args, work: str) -> int:
    try:
        from novi_pdq_etl_project_prod_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2
    import tracing

    extra = None
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            # one plain JSON-lines file (Spark 4 defaults to rolling zstd)
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench_{args.workload}", extra_conf=extra)
    session_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
        wrap = tracing.wrap_layers(tracer) if tracer else contextlib.nullcontext()
        with wrap:
            res = _loop(spark, args, work, tracer)
        res["session_s"] = session_s
        res["host"] = _host(spark)
        res["hwm_mb"] = {
            "jvm": _vm_hwm_kb(spark.sparkContext._gateway.proc.pid) / 1024,
            "python": _vm_hwm_kb("self") / 1024,
        }
        res["peak_rss_mb"] = sum(res["hwm_mb"].values())
    finally:
        _stop_spark(spark)

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": res["host"],
        "settings": {
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "jvm_gc": JVM_GC, "peak_rss_mb": res["hwm_mb"],
            "get_spark": "defaults" + (" + event log" if args.trace else ""),
            "clients": 1, "loop": "closed",
            "session_s": res["session_s"], "inputs_and_oracle_s": res["init_s"],
            "warmup_ops": res["warmup"], "timed_ops": len(res["walls"]),
            "timed_wall_s": sum(res["walls"]),
            "op_walls_s": [round(w, 4) for w in res["walls"]],
            "flush_policy": (
                f"warehouse under the checkout on {_mount_fs(work)}; "
                "snapshot commits fsync as the program does"
            ),
        },
        "failures": res["failures"][:5],
    }
    correct = not res["failures"]
    if args.trace:
        metrics, problem = _layer_metrics(res, tracer, log_dir)
        record["trace"] = metrics.pop("_detail")
        if problem:
            correct = False
            record["failures"].append(problem)
    else:
        metrics = _end_to_end(res)
    print(json.dumps({"run": record}))
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _loop(spark, args, work: str, tracer) -> dict:
    """Set up the workload, run its warm-up ops, then run timed ops until
    ``--seconds`` of op wall have passed. Checks run between ops."""
    t0 = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
    res = {"walls": [], "rows": 0, "attempted": 0, "failed": 0, "failures": [],
           "warmup": wl.warmup}

    def one(timed: bool) -> bool:
        prepared = wl.prepare()
        if tracer:
            tracer.op = len(res["walls"]) if timed else None
        span = tracer.span("op") if tracer else contextlib.nullcontext()
        res["attempted"] += 1
        t = time.perf_counter()
        try:
            with span:
                out = wl.run(prepared)
        except Exception as exc:  # an op that raises is a failed op
            res["failed"] += 1
            res["failures"].append(f"{type(exc).__name__}: {exc}"[:500])
            return False
        wall = time.perf_counter() - t
        problem = wl.check(prepared, out)
        if problem:
            res["failed"] += 1
            res["failures"].append(problem[:500])
        if timed:
            res["walls"].append(wall)
            res["rows"] += wl.rows(prepared)
        return not problem

    res["init_s"] = time.perf_counter() - t0
    for _ in range(wl.warmup):
        if not one(timed=False):
            return res
    res["setup_s"] = time.perf_counter() - _T0
    spent = 0.0
    while spent < args.seconds:
        if not one(timed=True):
            break
        spent = sum(res["walls"])
    return res


def _end_to_end(res: dict) -> dict:
    walls = res["walls"]
    total = sum(walls)
    return {
        "setup_s": (res.get("setup_s", 0.0), "s"),
        "op_s_p50": (statistics.median(walls) if walls else 0.0, "s"),
        "ops_per_s": (len(walls) / total if total else 0.0, "1/s"),
        "rows_per_s": (res["rows"] / total if total else 0.0, "1/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def _layer_metrics(res, tracer, log_dir) -> tuple[dict, str | None]:
    """Per-layer metrics of a traced run, and the first op whose reported
    span times do not explain its wall (see tracing.accounting_problem)."""
    import tracing

    events = tracing.read_event_log(log_dir)
    ops = sorted({s.op for s in tracer.spans if s.op is not None})
    by_op = tracing.per_op(tracer.spans, tracing.attribute(events), ops)
    queries = workloads.ALL_QUERIES
    problem = next(
        (f"op {i}: {p}" for i, m in by_op.items()
         if (p := tracing.accounting_problem(m, queries))),
        None,
    )
    metrics = tracing.layer_metrics(by_op, queries, res["session_s"])
    metrics["_detail"] = {"ops": len(by_op), "per_op_counts": tracing.fingerprint(by_op)}
    return metrics, problem


if __name__ == "__main__":
    sys.exit(main())
