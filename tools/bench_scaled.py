"""×10-SF heavy-query bench — the r15 performance yardstick (VERDICT r14
item 2): at sf0.1 two thirds of the catalog measures the local per-stage
scheduling floor, not executor work (34/148 queries ran FASTER on 8 cores
than 32 in the driver's r14 scaling block), so optimization acceptance
for the heavy queries is judged HERE, at sf1-equivalent (~6M lineitem
rows / ~25k docs), where executor time dominates.

Usage:
    python tools/bench_scaled.py [--cpus 32[,8]] [--tag before|after]
                                 [--queries q1,q2,...]

- The ×10 replica is built once into $SPARK_GRAFT_SCALED_DIR (default
  /tmp/sf_x10_bench) with the artifact-free replication recipe
  (`scale_probe.replicate_full`: facts/events key-shifted, documents
  token-suffixed distinct, embeddings isometric) and reused across runs.
- Each cpu count runs in its own subprocess (fresh JVM, master
  local[cpus] — same `$SPARK_GRAFT_CPUS` discipline as bench.py), one
  warmup at sf0.01 per query, then 3 timed noop-sink runs; the MEDIAN is
  the judged number. Session state (caches, checkpoints) is cleared
  between runs exactly like bench.py methodology 3.
- Results merge into bench_scaled.json beside the replica (in
  $SPARK_GRAFT_SCALED_DIR) keyed by tag → cpus → query, so before/after
  pairs for the same box live in one file; the path is printed. The
  committed BENCH_SCALED_r15.json is the r15 board and is never written.

Timings must not overlap other Spark workloads — this tool serializes
everything it runs and should be the only job on the box while timing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

SCALED_DIR = os.environ.get("SPARK_GRAFT_SCALED_DIR", "/tmp/sf_x10_bench")
OUT_PATH = os.path.join(SCALED_DIR, "bench_scaled.json")
WARMUP_SF = "/root/testdata/sf0.01"
K = 10

#: The r14 heavy tail (driver bench ≥ ~3.5 s or top-10 of the ×10 sweep)
#: plus every query this round's optimization items touch.
DEFAULT_QUERIES = [
    "m76_ingest_spans",
    "m82_retracted_funnel",
    "m86_rewrite_excised",
    "m72_span_excision",
    "m53_copurchase_triangles",
    "m60_boilerplate_scrub",
    "m70_ingest_funnel",
    "d29_spearman",
    "m63_supplier_pagerank",
    "m42_curation_v2",
    "m88_hybrid_ann_persisted",
    "m43_pair_components",
    "m64_bpe_train",
    "m39_containment_pairs",
    "d38_winsorized_mean",
    "m9_simhash_near_dups",
    "w12_distributed_rank",
    "d35_monthly_drift",
    "d24_weighted_median",
    "d23_sample_quantiles",
    "d19_mad_outliers",
    "m54_zipf_coverage",
    "d27_ks_statistic",
    "d25_gini_spend",
]


def _ensure_replica() -> None:
    marker = os.path.join(SCALED_DIR, "_REPLICA_OK")
    if os.path.exists(marker):
        return
    from novi_pdq_etl_project_prod_spark.session import get_spark
    from tools.scale_probe import replicate_full

    os.makedirs(SCALED_DIR, exist_ok=True)
    spark = get_spark(app_name="bench_scaled_replicate")
    t0 = time.perf_counter()
    replicate_full(spark, SCALED_DIR, K)
    with open(marker, "w") as fh:
        fh.write(f"k={K} built in {time.perf_counter() - t0:.1f}s\n")
    print(f"replica x{K} built in {time.perf_counter() - t0:.1f}s", flush=True)
    spark.stop()


def _worker(cpus: int, names: list[str]) -> None:
    """Subprocess body: time ``names`` on a fresh local[cpus] JVM."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from novi_pdq_etl_project_prod_spark import cache
    from novi_pdq_etl_project_prod_spark.catalog import QUERIES
    from novi_pdq_etl_project_prod_spark.session import get_spark

    spark = get_spark(app_name=f"bench_scaled_{cpus}")
    spark.sparkContext.setLogLevel("ERROR")

    def run_once(name: str, sf_dir: str) -> float:
        spark.sparkContext.setJobDescription(f"scaled:{name}")
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        cache.clear_session_state(spark)
        return dt

    out = {}
    for name in names:
        try:
            run_once(name, WARMUP_SF)
        except Exception:
            pass
        runs = [round(run_once(name, SCALED_DIR), 3) for _ in range(3)]
        out[name] = {"runs": runs, "median": sorted(runs)[1]}
        print(json.dumps({"query": name, "cpus": cpus, **out[name]}), flush=True)
    print("WORKER_RESULT " + json.dumps(out), flush=True)


def main() -> None:
    if "--worker" in sys.argv:
        cpus = int(sys.argv[sys.argv.index("--worker") + 1])
        names = sys.argv[sys.argv.index("--worker") + 2].split(",")
        _worker(cpus, names)
        return

    args = sys.argv[1:]
    cpus_list = [32]
    tag = "run"
    names = list(DEFAULT_QUERIES)
    if "--cpus" in args:
        cpus_list = [int(c) for c in args[args.index("--cpus") + 1].split(",")]
    if "--tag" in args:
        tag = args[args.index("--tag") + 1]
    if "--queries" in args:
        names = args[args.index("--queries") + 1].split(",")

    _ensure_replica()

    doc = {}
    if os.path.exists(OUT_PATH):
        with open(OUT_PATH) as fh:
            doc = json.load(fh)
    doc.setdefault("k", K)
    doc.setdefault(
        "note",
        "x10 replica (~sf1: 6M lineitem / 25k docs) via "
        "scale_probe.replicate_full; median of 3 noop-sink runs per "
        "query, fresh JVM per cpu count, caches cleared between runs",
    )
    for cpus in cpus_list:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker",
             str(cpus), ",".join(names)],
            capture_output=True,
            text=True,
            timeout=7200,
        )
        result = None
        for line in reversed(proc.stdout.strip().splitlines()):
            if line.startswith("WORKER_RESULT "):
                result = json.loads(line[len("WORKER_RESULT "):])
                break
        if result is None:
            print(proc.stdout[-3000:])
            print(proc.stderr[-3000:])
            raise SystemExit(f"worker for cpus={cpus} failed")
        # MERGE per query (a subset re-run must not wipe the other
        # queries' rows for this tag/cpus)
        doc.setdefault(tag, {}).setdefault(str(cpus), {}).update(result)
        with open(OUT_PATH, "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
        total = round(sum(r["median"] for r in result.values()), 1)
        print(f"[{tag} cpus={cpus}] total median {total}s "
              f"over {len(result)} queries -> {OUT_PATH}", flush=True)


if __name__ == "__main__":
    main()
