"""One sharded sweep over the catalog: oracle parity and partitioning
invariance, run in a pool of worker processes sized from the host.

``conftest.py`` collects the parity and invariance names a test session
selected. When there are at least ``MIN_SELECTED`` of them, the
``sweep_reports`` fixture runs exactly those names through ``run_pool``:
one LPT-balanced share per worker process, each worker in its own
SparkSession, parity names first, then invariance names. The invariance
check mutates session conf, so shards are processes, not threads on the
shared session. Both checks compare values, not walls, so concurrent
shards are safe; bench timings stay serialized.

Worker usage: python -m tests.sweep <job.json> <out.json>
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import subprocess
import sys
import tempfile

from novi_pdq_etl_project_prod_spark.catalog import ORACLES, QUERIES
from novi_pdq_etl_project_prod_spark.session import get_spark
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_harness import compare_query

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GIB = 1 << 30
#: Below this many selected parity + invariance tests the pool costs
#: more than it saves (a JVM start per shard): run inline instead.
MIN_SELECTED = 24

#: (conf key, standard value, hostile value) of the invariance check
LAYOUT = [
    ("spark.sql.shuffle.partitions", "32", "7"),
    ("spark.sql.files.maxPartitionBytes", "8388608", "65536"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true", "false"),
]


def sizing(cpus: int, ram_bytes: int) -> tuple[str, int, int]:
    """(driver heap, shard count, Spark threads per shard) for a host.

    Every JVM (the test session's and each shard's) gets the same heap:
    a fifth of RAM, 1g to 8g. Each process is budgeted its heap plus
    2 GiB for the JVM's off-heap memory and the worker's Python and
    DuckDB side, and the main session plus the shards must fit in RAM.
    One shard per 4 CPUs, 2 to 8, and the shards split the CPUs.
    """
    ram_gib = ram_bytes / GIB
    heap = max(1, min(8, int(ram_gib // 5)))
    shards = max(2, min(8, cpus // 4, int(ram_gib // (heap + 2)) - 1))
    return f"{heap}g", shards, max(1, cpus // shards)


def host_sizing() -> tuple[str, int, int]:
    return sizing(
        len(os.sched_getaffinity(0)),
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
    )


def _query_weights() -> dict[str, float]:
    """Per-query cost estimates from the newest BENCH_LOCAL file (sf0.1
    walls are a fine RELATIVE proxy for fixture-scale check cost)."""
    files = sorted(
        glob.glob(os.path.join(REPO, "BENCH_LOCAL_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    for path in reversed(files):
        try:
            with open(path, encoding="utf-8") as fh:
                q = json.load(fh).get("queries") or {}
            if q:
                return {k: float(v) for k, v in q.items()}
        except (OSError, ValueError):
            continue
    return {}


def shard_assignment(names: list[str], n_shards: int) -> list[list[str]]:
    """Deterministic LPT (longest-processing-time) balancing: heaviest
    query first onto the currently-lightest shard, so the sweep's wall
    is bounded by the heaviest SHARD, not an unlucky round-robin slice.
    Queries without a timing get the median weight."""
    weights = _query_weights()
    med = sorted(weights.values())[len(weights) // 2] if weights else 1.0
    loads = [0.0] * n_shards
    shards: list[list[str]] = [[] for _ in range(n_shards)]
    for name in sorted(names, key=lambda n: (-weights.get(n, med), n)):
        i = loads.index(min(loads))
        loads[i] += weights.get(name, med)
        shards[i].append(name)
    return shards


def canon(v):
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else "f:" + v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return f"{type(v).__name__}:{v!r}"


def run_layout_comparison(spark, name: str, sf_dir: str) -> dict:
    """Run one query under the standard and the hostile layout and
    compare the collected rows; puts back the session conf it changed."""

    def _run():
        rows = QUERIES[name](spark, sf_dir).collect()
        return sorted(tuple(canon(v) for v in row) for row in rows)

    base = {k: spark.conf.get(k) for k, _, _ in LAYOUT}
    try:
        for k, std, _ in LAYOUT:
            spark.conf.set(k, std)
        a = _run()
        for k, _, hostile in LAYOUT:
            spark.conf.set(k, hostile)
        b = _run()
    finally:
        for k, v in base.items():
            spark.conf.set(k, v)
    return {
        "match": a == b,
        "detail": (
            ""
            if a == b
            else f"layout-dependent: {len(a)} rows std vs {len(b)} hostile"
        ),
    }


def check(spark, kind: str, name: str) -> dict:
    """The report of one ``parity`` or ``invariance`` check."""
    if kind == "parity":
        return compare_query(spark, QUERIES[name], ORACLES[name], SF_ORACLE)
    return run_layout_comparison(spark, name, SF_SMOKE)


def report(spark, reports: dict | None, kind: str, name: str) -> dict:
    """A test's report: from the pool's ``reports``, or checked inline
    on ``spark`` when the session ran no pool."""
    if reports is None:
        return check(spark, kind, name)
    return reports[kind][name]


def run_pool(selected: dict[str, list[str]]) -> dict[str, dict[str, dict]]:
    """Check ``selected`` ({kind: names}) in host-sized worker processes;
    returns {kind: {name: report}}."""
    _, n_shards, _ = host_sizing()
    shares = {kind: shard_assignment(names, n_shards) for kind, names in selected.items()}
    reports: dict[str, dict[str, dict]] = {kind: {} for kind in selected}
    with tempfile.TemporaryDirectory(prefix="sweep_") as tmp:
        procs = []
        for i in range(n_shards):
            job = {kind: share[i] for kind, share in shares.items()}
            job_path = os.path.join(tmp, f"job{i}.json")
            out = os.path.join(tmp, f"out{i}.json")
            with open(job_path, "w", encoding="utf-8") as fh:
                json.dump(job, fh)
            cmd = [sys.executable, "-m", "tests.sweep", job_path, out]
            procs.append((i, job, out, subprocess.Popen(cmd, cwd=REPO)))
        for i, job, out, p in procs:
            rc = p.wait()
            if rc != 0 or not os.path.exists(out):
                for kind, names in job.items():
                    for name in names:
                        reports[kind][name] = {
                            "match": False, "detail": f"shard {i} died rc={rc}"
                        }
                continue
            with open(out, encoding="utf-8") as fh:
                for kind, got in json.load(fh).items():
                    reports[kind].update(got)
    return reports


def main(job_path: str, out_path: str) -> None:
    with open(job_path, encoding="utf-8") as fh:
        job = json.load(fh)
    heap, _, threads = host_sizing()
    spark = get_spark(
        app_name="catalog_sweep_shard",
        master=f"local[{threads}]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": heap},
    )
    spark.sparkContext.setLogLevel("ERROR")
    reports: dict[str, dict[str, dict]] = {}
    for kind, names in job.items():
        reports[kind] = {}
        for name in names:
            try:
                reports[kind][name] = check(spark, kind, name)
            except Exception as e:  # noqa: BLE001 — recorded as a failure
                reports[kind][name] = {
                    "match": False,
                    "detail": f"worker exception {type(e).__name__}: {e}"[:500],
                }
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(reports, fh)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
