"""Tests of the seeded inputs and of BENCHMARK.json against the code."""

from __future__ import annotations

import filecmp
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _months(seed, out, n=3):
    feed = gen.MonthlyFeed(seed, str(out), leases=300)
    return [feed.write_next() for _ in range(n)]


def test_monthly_feed_same_seed_same_bytes(tmp_path):
    a = _months(5, tmp_path / "a")
    b = _months(5, tmp_path / "b")
    c = _months(6, tmp_path / "c")
    for (op_a, lease_a, exp_a), (op_b, lease_b, exp_b) in zip(a, b):
        assert filecmp.cmp(op_a, op_b, shallow=False)
        assert filecmp.cmp(lease_a, lease_b, shallow=False)
        assert exp_a == exp_b
    assert not filecmp.cmp(a[0][1], c[0][1], shallow=False)


def test_monthly_feed_plants_dirty_shapes_and_grows_dims(tmp_path):
    months = _months(5, tmp_path)
    with open(months[0][1], encoding="utf-8") as fh:
        header, *rows = fh.read().splitlines()
    assert header.startswith(" OPERATOR_NO ")
    cells = [r.split("}") for r in rows]
    assert any(c[1].strip().startswith("0") for c in cells)  # "08"-style districts
    assert any(c[0] in gen.NULL_TOKENS for c in cells)  # operator-0 sentinel
    assert any(c[7] in gen.NULL_TOKENS and c[5] for c in cells)  # year*100+month fallback
    assert any(c[7].startswith("199") for c in cells)  # pre-2000 rows
    grain = [(int(c[1]), c[3]) for c in cells if c[5] == "2019"]
    assert len(grain) > len(set(grain))  # duplicate lease grain rows
    exps = [m[2] for m in months]
    assert all(2 <= e.rollup_mismatches <= 5 for e in exps)
    assert exps[0].dims["dim_lease"] < exps[1].dims["dim_lease"] < exps[2].dims["dim_lease"]
    assert [e.yyyymm for e in exps] == [201901, 201902, 201903]


def test_star_and_documents_same_seed_same_bytes(tmp_path):
    for d in ("a", "b"):
        gen.write_star(str(tmp_path / d), 9, orders=200)
        gen.write_documents(str(tmp_path / d), 9, docs=50)
    for name in ("region", "nation", "customer", "orders", "lineitem", "documents"):
        f = f"{name}.parquet"
        assert filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False), f


def test_benchmark_json_matches_what_runs_report():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    reported = tracing.layer_metrics({}, workloads.ALL_QUERIES, 0.0)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [
        (k, u) for k, (_, u) in reported.items()
    ]
    assert [m["name"] for m in bench["end_to_end"]] == [
        "setup_s", "op_s_p50", "ops_per_s", "rows_per_s", "peak_rss_mb",
    ]
