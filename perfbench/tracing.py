"""Traced runs: spans around the library's layer entry points, and Spark's
event log attributed to those spans.

A span is recorded around each call the benchmark wraps. Each span tags
the Spark jobs it triggers with ``sparkContext.setJobGroup``, so after
the run every job, stage and task in the event log maps back to the span
(and op) that caused it. Nothing in the program is edited: the wrappers
replace module attributes for the life of a :func:`wrap_layers` block.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "pb:"

#: Span-time metrics: metric -> (span name, "wall" or "self" time).
SPAN_TIMES = {
    "plans.pipeline.self_s": ("plans.pipeline", "self"),
    "sources.layers.raw_write_s": ("sources.layers.raw_write", "wall"),
    "sources.layers.staging_write_s": ("sources.layers.staging_write", "wall"),
    "sources.layers.fact_write_s": ("sources.layers.fact_write", "wall"),
    "sources.layers.dim_snapshot_s": ("sources.layers.dim_snapshot", "wall"),
    "operators.quality.gates_s": ("operators.quality.gates", "wall"),
    "cache.release_s": ("cache.release", "wall"),
}
#: Event-log metrics -> unit.
EVENT_COUNTS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "scan.records_read": "count", "scan.bytes_read": "bytes",
    "sources.layers.records_written": "count", "sources.layers.bytes_written": "bytes",
    "sources.layers.files_written": "count",
    "shuffle.records_written": "count", "shuffle.bytes_written": "bytes",
    "spill.bytes": "bytes", "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
}
EVENT_TIMES = (
    "spark.driver_gap_s", "shuffle.fetch_wait_s", "compute.task_run_s",
    "compute.task_cpu_s", "compute.gc_s",
)
#: Counts that must repeat between two traced runs of one seed: exactly,
#: except the byte counts (see BYTES_TOLERANCE).
REPEATABLE = (
    "spark.jobs", "spark.stages", "spark.tasks",
    "scan.records_read", "scan.bytes_read",
    "sources.layers.records_written", "sources.layers.bytes_written",
    "sources.layers.files_written",
)
#: Share by which the byte counts of two traced runs may differ. The raw
#: layer stores each write's ``current_timestamp()`` as ``ingested_at``,
#: so the compressed size of the files a month writes, and reads back,
#: moves by a few bytes with the wall clock (2 of 324,575 bytes read in
#: one pair of pipeline runs).
BYTES_TOLERANCE = 1e-3

_ARROW_SENT = "data sent to Python workers"
_ARROW_RETURNED = "data returned from Python workers"
_FILES_WRITTEN = "number of written files"


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    name: str
    start: float
    end: float = 0.0
    value: int = 0


@dataclass
class Tracer:
    """Records spans in memory; each span tags its Spark jobs with a job
    group named after the span id."""

    sc: object
    spans: list[Span] = field(default_factory=list)
    op: int | None = None
    _stack: list[int] = field(default_factory=list)

    def _tag(self) -> None:
        if self._stack:
            sid = self._stack[-1]
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent, self.op, name, time.time())
        self.spans.append(s)
        self._stack.append(s.id)
        self._tag()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag()


_WRITE_SPANS = {
    "raw": "sources.layers.raw_write",
    "staging": "sources.layers.staging_write",
    "curated": "sources.layers.fact_write",
}


@contextlib.contextmanager
def wrap_layers(tracer: Tracer):
    """Wrap the public functions ``plans.pipeline`` calls for the life of
    the block. ``read_dsv`` counts toward the raw write, whose lazy plan
    it starts; the counts and reads the pipeline runs itself are its
    self time."""
    from novi_pdq_etl_project_prod_spark import cache
    from novi_pdq_etl_project_prod_spark.plans import pipeline

    def wrapped(fn, name_of):
        def call(*args, **kwargs):
            with tracer.span(name_of(args, kwargs)) as s:
                out = fn(*args, **kwargs)
                if isinstance(out, int):
                    s.value = out
                return out
        return call

    def fixed(name):
        return lambda args, kwargs: name

    def write_name(args, kwargs):
        layer = kwargs.get("layer", args[2] if len(args) > 2 else None)
        return _WRITE_SPANS[str(getattr(layer, "value", layer))]

    patches = [
        (pipeline, "run_monthly_pipeline", fixed("plans.pipeline")),
        (pipeline, "read_dsv", fixed("sources.layers.raw_write")),
        (pipeline, "write_month_idempotent", write_name),
        (pipeline, "overwrite_snapshot", fixed("sources.layers.dim_snapshot")),
        (pipeline, "assert_non_negative", fixed("operators.quality.gates")),
        (pipeline, "assert_unique_grain", fixed("operators.quality.gates")),
        (cache, "release", fixed("cache.release")),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
    for mod, attr, name_of in patches:
        setattr(mod, attr, wrapped(getattr(mod, attr), name_of))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the single application logged under ``log_dir``, in
    order (an uncompressed, non-rolling log)."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1 or not os.path.isfile(files[0]):
        raise RuntimeError(f"expected one event log file in {log_dir}, found {files}")
    with open(files[0], encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _plan_metric_names(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", ()):
        _plan_metric_names(child, out)


def attribute(events: list[dict]) -> dict[int, dict]:
    """Roll the event log up per span id (from the job group).

    Returns span id -> counters named as in :data:`EVENT_COUNTS` and
    :data:`EVENT_TIMES` (times in seconds), plus ``jobs_ms``: the
    (submit, complete) interval of each job, in epoch milliseconds.
    """
    stage_span: dict[int, int] = {}
    job_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    metric_names: dict[int, str] = {}
    per: dict[int, dict] = {}

    def bucket(sid: int) -> dict:
        if sid not in per:
            per[sid] = {k: 0 for k in EVENT_COUNTS} | {k: 0.0 for k in EVENT_TIMES}
            per[sid]["jobs_ms"] = []
        return per[sid]

    open_jobs: dict[int, int] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if not group.startswith(GROUP_PREFIX):
                continue
            sid = int(group[len(GROUP_PREFIX):])
            job_span[ev["Job ID"]] = sid
            for stage in ev["Stage IDs"]:
                stage_span.setdefault(stage, sid)
            exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            if exec_id is not None:
                exec_span.setdefault(int(exec_id), sid)
            b = bucket(sid)
            b["spark.jobs"] += 1
            open_jobs[ev["Job ID"]] = ev["Submission Time"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in open_jobs:
                b = bucket(job_span[ev["Job ID"]])
                b["jobs_ms"].append((open_jobs.pop(ev["Job ID"]), ev["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            sid = stage_span.get(ev["Stage Info"]["Stage ID"])
            if sid is not None:
                bucket(sid)["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev["Stage ID"])
            if sid is None:
                continue
            b = bucket(sid)
            b["spark.tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            b["compute.task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            b["compute.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            b["compute.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            b["spill.bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            inp = tm.get("Input Metrics") or {}
            b["scan.bytes_read"] += inp.get("Bytes Read", 0)
            b["scan.records_read"] += inp.get("Records Read", 0)
            out = tm.get("Output Metrics") or {}
            b["sources.layers.bytes_written"] += out.get("Bytes Written", 0)
            b["sources.layers.records_written"] += out.get("Records Written", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            b["shuffle.bytes_written"] += sw.get("Shuffle Bytes Written", 0)
            b["shuffle.records_written"] += sw.get("Shuffle Records Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            b["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                name = acc.get("Name") or metric_names.get(acc.get("ID"))
                if name == _ARROW_SENT:
                    b["arrow.bytes_to_python"] += int(acc.get("Update", 0))
                elif name == _ARROW_RETURNED:
                    b["arrow.bytes_from_python"] += int(acc.get("Update", 0))
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metric_names(ev.get("sparkPlanInfo") or {}, metric_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            sid = exec_span.get(ev["executionId"])
            if sid is None:
                continue
            for acc_id, value in ev["accumUpdates"]:
                if metric_names.get(acc_id) == _FILES_WRITTEN:
                    bucket(sid)["sources.layers.files_written"] += int(value)
    return per


# ---------------------------------------------------------------------------
# per-op roll-up
# ---------------------------------------------------------------------------


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its children cover."""
    own = {s.id: s.end - s.start for s in spans}
    for s in spans:
        if s.parent is not None:
            own[s.parent] -= s.end - s.start
    return own


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def per_op(spans: list[Span], per_span: dict[int, dict], ops: list[int]) -> dict[int, dict]:
    """Layer metrics for each op in ``ops``: wall and self time summed by
    span name, event-log counters summed over the op's spans, the op's
    wall, and the part of it with no Spark job running."""
    own = self_times(spans)
    out = {}
    for op in ops:
        mine = [s for s in spans if s.op == op]
        root = next(s for s in mine if s.parent is None)
        m: dict = {k: 0 for k in EVENT_COUNTS} | {k: 0.0 for k in EVENT_TIMES}
        m.update(op_s=root.end - root.start, wall_s={}, self_s={}, released=0)
        m["min_self_s"] = min(own[s.id] for s in mine)
        jobs = []
        for s in mine:
            m["wall_s"][s.name] = m["wall_s"].get(s.name, 0.0) + s.end - s.start
            m["self_s"][s.name] = m["self_s"].get(s.name, 0.0) + own[s.id]
            if s.name == "cache.release":
                m["released"] += s.value
            b = per_span.get(s.id)
            if b is not None:
                for k in (*EVENT_COUNTS, *EVENT_TIMES):
                    m[k] += b[k]
                jobs += b["jobs_ms"]
        lo, hi = int(root.start * 1000), int(root.end * 1000)
        busy = _union_ms([(max(a, lo), min(b, hi)) for a, b in jobs if b > lo and a < hi])
        m["spark.driver_gap_s"] = max(0, hi - lo - busy) / 1e3
        out[op] = m
    return out


def span_seconds(m: dict, queries: tuple[str, ...]) -> dict[str, float]:
    """The span-time metrics of one op, name -> seconds. A catalog
    query's time is its self time: the ``cache.release`` inside it is
    reported on its own."""
    out = {name: m[f"{kind}_s"].get(span, 0.0) for name, (span, kind) in SPAN_TIMES.items()}
    for q in queries:
        out[f"catalog.{q}_s"] = m["self_s"].get(f"catalog.{q}", 0.0)
    return out


def accounting_problem(m: dict, queries: tuple[str, ...]) -> str | None:
    """Check that one op's reported span times explain its wall: no span
    has negative self time, and the span-time metrics plus the op's own
    self time (the benchmark's loop between calls) add up to the op
    wall. The sum misses when reported spans nest (time counted twice)
    or when a span falls under no metric (time left out)."""
    if m["min_self_s"] < -1e-6:
        return f"a span has negative self time ({m['min_self_s']:.6f} s)"
    explained = m["self_s"].get("op", 0.0) + sum(span_seconds(m, queries).values())
    if abs(explained - m["op_s"]) > 1e-6:
        return f"span-time metrics sum to {explained:.6f} s, op wall {m['op_s']:.6f} s"
    return None


def layer_metrics(by_op: dict[int, dict], queries: tuple[str, ...], session_s: float) -> dict:
    """The per-layer metrics of a traced run: per-op means over the
    timed ops, as name -> (value, unit). ``queries`` are the catalog
    queries whose spans are reported."""
    def mean(values):
        values = list(values)
        return statistics.fmean(values) if values else 0.0

    ops = list(by_op.values())
    spans = [span_seconds(m, queries) for m in ops]
    out = {"session.start_s": (session_s, "s"),
           "trace.op_s": (mean(m["op_s"] for m in ops), "s")}
    for name in SPAN_TIMES:
        out[name] = (mean(t[name] for t in spans), "s")
    for name, unit in EVENT_COUNTS.items():
        out[name] = (mean(m[name] for m in ops), unit)
    for name in EVENT_TIMES:
        out[name] = (mean(m[name] for m in ops), "s")
    out["cache.released"] = (mean(m["released"] for m in ops), "count")
    for q in queries:
        out[f"catalog.{q}_s"] = (mean(t[f"catalog.{q}_s"] for t in spans), "s")
    return out


def fingerprint(ops: dict[int, dict]) -> list[dict]:
    """The counts of each op, in op order, that two traced runs of one
    seed must repeat."""
    return [{k: ops[i][k] for k in REPEATABLE} for i in sorted(ops)]


def count_diff(before: list[dict], after: list[dict]) -> str | None:
    """Compare two fingerprints of traced runs of one workload and seed,
    op by op over the ops both ran. Returns the first difference, or
    None when every count repeats."""

    def same(k: str, x: int, y: int) -> bool:
        if k.endswith("bytes_read") or k.endswith("bytes_written"):
            return abs(x - y) <= BYTES_TOLERANCE * max(x, y)
        return x == y

    for i, (a, b) in enumerate(zip(before, after)):
        diff = {k: (a[k], b[k]) for k in REPEATABLE if not same(k, a[k], b[k])}
        if diff:
            return f"op {i}: counts differ between the two traced runs: {diff}"
    return None
