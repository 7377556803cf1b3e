#!/usr/bin/env python3
"""Steadiness record: run the benchmark on several seeds per workload,
one run at a time, and summarize each end-to-end metric by its median,
quartiles and quartile spread (IQR / median).

    python3 perfbench/steady.py --runs 10 [--workload W ...] [--out perfbench/STEADINESS.json]

Run from the root of a checkout. Reads BENCHMARK.json for the command,
run length, workloads and bounds. Seeds are 1..runs. A metric passes
when its spread is below a third of its bound; ``setup_s`` is reported
but its spread is not judged. The report also projects the wall of
the judge's 4 + 22 x (workloads) runs from each workload's median run
wall.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def run_once(cmd: list[str], workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    t = time.monotonic()
    proc = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=900,
    )
    wall = time.monotonic() - t
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed ({proc.returncode}): {proc.stderr[-2000:]}")
    return json.loads(lines[-2])["run"], json.loads(lines[-1]), wall


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    args = ap.parse_args()

    with open("BENCHMARK.json", encoding="utf-8") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = args.workload or [w["name"] for w in bench["workloads"]]
    report = {"runs": args.runs, "seconds": bench["run_seconds"], "workloads": {}}
    ok = True
    for wl in names:
        per_metric: dict[str, list[float]] = {}
        walls, ops, failed = [], [], 0
        for seed in range(1, args.runs + 1):
            run, res, wall = run_once(bench["command"], wl, seed, bench["run_seconds"], 0)
            walls.append(wall)
            ops.append(run["settings"]["timed_ops"])
            failed += res["failed"] + (not res["correct"])
            for k, v in res["metrics"].items():
                per_metric.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {seed}: {wall:.1f}s ops={run['settings']['op_walls_s']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  file=sys.stderr, flush=True)
        summary = {k: summarize(v) for k, v in per_metric.items()}
        for k, s in summary.items():
            s["bound"] = bounds[k]
            s["steady"] = k == "setup_s" or s["spread"] < bounds[k] / 3
            ok &= s["steady"]
        ok &= failed == 0
        report["workloads"][wl] = {
            "metrics": summary, "failed_or_incorrect": failed,
            "timed_ops_per_run": ops, "run_wall_s": summarize(walls),
        }
        print(f"{wl}: " + " ".join(
            f"{k} med={s['median']:.4g} spread={s['spread']:.3f}" for k, s in summary.items()
        ), file=sys.stderr, flush=True)
    # the judge makes 4 + 22 x (workloads) runs within 3420 s
    run_walls = [w["run_wall_s"]["median"] for w in report["workloads"].values()]
    report["projected_judge_s"] = 22 * sum(run_walls) + 4 * max(run_walls)
    report["steady"] = ok
    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
