"""Tests of the traced-run machinery: event-log attribution, span self
times, the time-accounting and repeat checks, and (slow) two traced runs
of one seed.

    python3 -m pytest perfbench/tests -q            # fast tests
    PERFBENCH_SLOW=1 python3 -m pytest perfbench/tests -q   # plus two real traced runs
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import tracing  # noqa: E402


def _job(job_id, group, stages, submit, done, exec_id=None):
    props = {"spark.jobGroup.id": group} if group else {}
    if exec_id is not None:
        props["spark.sql.execution.id"] = str(exec_id)
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": submit,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": done},
    ]


def _task(stage, run_ms=10, cpu_ns=5_000_000, read=(0, 0), written=(0, 0), acc=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": list(acc)},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 1,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": read[0], "Records Read": read[1]},
            "Output Metrics": {"Bytes Written": written[0], "Records Written": written[1]},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7, "Shuffle Records Written": 1},
            "Shuffle Read Metrics": {"Fetch Wait Time": 2},
        },
    }


def _stage_done(stage):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}}


def test_attribute_maps_jobs_stages_tasks_to_spans():
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 4,
         "sparkPlanInfo": {"metrics": [], "children": [
             {"metrics": [{"name": "number of written files", "accumulatorId": 90},
                          {"name": "data sent to Python workers", "accumulatorId": 91}],
              "children": []}]}},
        *_job(0, "pb:1", [0, 1], 1000, 1100, exec_id=4),
        _task(0, read=(100, 10)),
        _task(0, read=(50, 5)),
        _stage_done(0),
        _task(1, written=(300, 15), acc=[{"ID": 91, "Update": 64}]),
        _stage_done(1),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 4, "accumUpdates": [[90, 3]]},
        # untagged and foreign-group jobs are ignored
        *_job(1, None, [2], 1200, 1300),
        *_job(2, "other", [3], 1200, 1300),
        _task(2),
        *_job(3, "pb:2", [4, 0], 1400, 1450),  # stage 0 skipped: stays with span 1
        _task(4, acc=[{"ID": 7, "Name": "data returned from Python workers", "Update": 32}]),
        _stage_done(4),
    ]
    per = tracing.attribute(events)
    assert set(per) == {1, 2}
    one, two = per[1], per[2]
    assert (one["spark.jobs"], one["spark.stages"], one["spark.tasks"]) == (1, 2, 3)
    assert (one["scan.bytes_read"], one["scan.records_read"]) == (150, 15)
    assert (one["sources.layers.bytes_written"], one["sources.layers.records_written"]) == (300, 15)
    assert one["sources.layers.files_written"] == 3
    assert one["arrow.bytes_to_python"] == 64 and one["arrow.bytes_from_python"] == 0
    assert one["shuffle.bytes_written"] == 21
    assert one["compute.task_run_s"] == pytest.approx(0.03)
    assert one["compute.task_cpu_s"] == pytest.approx(0.015)
    assert one["shuffle.fetch_wait_s"] == pytest.approx(0.006)
    assert one["jobs_ms"] == [(1000, 1100)]
    assert (two["spark.jobs"], two["spark.stages"], two["spark.tasks"]) == (1, 1, 1)
    assert two["arrow.bytes_from_python"] == 32


def _spans():
    S = tracing.Span
    return [
        S(0, None, 0, "op", 1.000, 2.000),
        S(1, 0, 0, "plans.pipeline", 1.010, 1.990),
        S(2, 1, 0, "sources.layers.raw_write", 1.100, 1.300),
        S(3, 1, 0, "sources.layers.dim_snapshot", 1.400, 1.500),
        S(4, 1, 0, "cache.release", 1.900, 1.950, value=2),
        S(5, None, 1, "op", 3.000, 3.500),
    ]


def test_self_times_add_up_to_op_wall():
    spans = _spans()
    own = tracing.self_times(spans)
    assert own[1] == pytest.approx(0.98 - 0.2 - 0.1 - 0.05)
    for op in (0, 1):
        root = next(s for s in spans if s.op == op and s.parent is None)
        total = sum(own[s.id] for s in spans if s.op == op)
        assert total == pytest.approx(root.end - root.start)


def test_per_op_rollup_and_driver_gap():
    per_span = {2: {k: 0 for k in tracing.EVENT_COUNTS} | {k: 0.0 for k in tracing.EVENT_TIMES}}
    per_span[2].update({"spark.jobs": 2, "jobs_ms": [(1100, 1200), (1150, 1300)]})
    ops = tracing.per_op(_spans(), per_span, [0, 1])
    m = ops[0]
    assert m["op_s"] == pytest.approx(1.0)
    assert m["min_self_s"] == pytest.approx(0.02)  # the op's own time
    assert m["wall_s"]["sources.layers.raw_write"] == pytest.approx(0.2)
    assert m["self_s"]["plans.pipeline"] == pytest.approx(0.63)
    assert m["released"] == 2
    assert m["spark.jobs"] == 2
    assert m["spark.driver_gap_s"] == pytest.approx(0.8)  # 1000 ms minus 200 ms busy
    assert ops[1]["spark.driver_gap_s"] == pytest.approx(0.5)
    layers = tracing.layer_metrics(ops, ("a1_monthly_fact",), 7.0)
    assert layers["plans.pipeline.self_s"][0] == pytest.approx((0.63 + 0.0) / 2)
    assert layers["sources.layers.raw_write_s"][0] == pytest.approx(0.1)
    assert layers["catalog.a1_monthly_fact_s"] == (0.0, "s")
    assert layers["session.start_s"] == (7.0, "s")


def _op(spans):
    return tracing.per_op(spans, {}, [0])[0]


def test_accounting_accepts_spans_that_explain_the_op():
    assert tracing.accounting_problem(_op(_spans()), ()) is None
    S = tracing.Span
    catalog = [
        S(0, None, 0, "op", 1.0, 2.0),
        S(1, 0, 0, "catalog.a1_monthly_fact", 1.0, 1.5),
        S(2, 1, 0, "cache.release", 1.4, 1.5),
        S(3, 0, 0, "catalog.j1_star_join", 1.5, 2.0),
    ]
    m = _op(catalog)
    assert tracing.accounting_problem(m, ("a1_monthly_fact", "j1_star_join")) is None
    times = tracing.span_seconds(m, ("a1_monthly_fact", "j1_star_join"))
    assert times["catalog.a1_monthly_fact_s"] == pytest.approx(0.4)
    assert times["cache.release_s"] == pytest.approx(0.1)


def test_accounting_rejects_unreported_and_double_counted_time():
    S = tracing.Span
    spans = _spans()
    # a query whose span no metric reports leaves its time unexplained
    catalog = [S(0, None, 0, "op", 1.0, 2.0), S(1, 0, 0, "catalog.j1_star_join", 1.0, 1.8)]
    problem = tracing.accounting_problem(_op(catalog), ("a1_monthly_fact",))
    assert problem and "op wall" in problem
    # a reported wall-time span inside another counts its time twice
    nested = spans[:3] + [S(3, 2, 0, "sources.layers.dim_snapshot", 1.15, 1.25)] + spans[4:]
    problem = tracing.accounting_problem(_op(nested), ())
    assert problem and "op wall" in problem
    # a child that outlasts its parent leaves the parent negative self time
    overlong = spans[:2] + [S(2, 1, 0, "sources.layers.raw_write", 1.0, 2.0)] + spans[3:]
    problem = tracing.accounting_problem(_op(overlong), ())
    assert problem and "negative self time" in problem


def test_count_diff_names_the_first_changed_count():
    a = [{k: 1 for k in tracing.REPEATABLE}, {k: 2 for k in tracing.REPEATABLE}]
    assert tracing.count_diff(a, a) is None
    assert tracing.count_diff(a, a[:1]) is None  # ops both runs ran agree
    b = [dict(a[0]), dict(a[1], **{"spark.tasks": 3})]
    problem = tracing.count_diff(a, b)
    assert problem and "op 1" in problem and "spark.tasks" in problem


def test_count_diff_lets_byte_counts_move_by_the_tolerance_only():
    a = [{k: 100_000 for k in tracing.REPEATABLE}]
    near = [dict(a[0], **{"scan.bytes_read": 100_002, "sources.layers.bytes_written": 99_999})]
    assert tracing.count_diff(a, near) is None
    far = [dict(a[0], **{"sources.layers.bytes_written": 100_500})]
    problem = tracing.count_diff(a, far)
    assert problem and "sources.layers.bytes_written" in problem
    records = [dict(a[0], **{"scan.records_read": 100_001})]
    assert "scan.records_read" in tracing.count_diff(a, records)


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SLOW"), reason="starts Spark twice")
@pytest.mark.parametrize("workload", ["star_queries", "curation_spans", "pdq_monthly"])
def test_two_traced_runs_of_one_seed_repeat_counts(tmp_path, workload):
    """Two traced runs of one seed must repeat every per-op count; each
    run's own checks (outputs, time accounting) must pass."""
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", "1"]
    outs = []
    for _ in range(2):
        proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-2000:]
        lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
        run, res = json.loads(lines[-2])["run"], json.loads(lines[-1])
        assert res["correct"], run["failures"]
        outs.append((run, res))
    first, second = (r["trace"]["per_op_counts"] for r, _ in outs)
    assert first and second
    assert tracing.count_diff(first, second) is None
    arrow = outs[0][1]["metrics"]["arrow.bytes_to_python"]["value"]
    assert (arrow > 0) == (workload == "curation_spans")
