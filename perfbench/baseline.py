"""Record a baseline: run every workload over seeds 1..N and write the
median and quartiles of each end-to-end metric, plus the per-layer
figures of one traced run at seed 1, to a JSON file.

Run from the root of a checkout::

    python3 perfbench/baseline.py --runs 10 --out perfbench/baseline.json

Each end-to-end metric's spread (quartile distance over median) is
printed next to its bound from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from run import DRIVER_MEMORY


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed)]
    cmd += ["--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} failed ({p.returncode}):\n{p.stderr[-3000:]}")
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    return out


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "values": values,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = list(range(1, args.runs + 1))
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True).stdout.strip()
    except OSError:
        commit = ""
    report = {
        "commit": commit or "unknown",
        "cores": len(os.sched_getaffinity(0)),
        "driver_memory": DRIVER_MEMORY,
        "seconds": bench["run_seconds"],
        "seeds": seeds,
        "workloads": {},
    }
    for w in (w["name"] for w in bench["workloads"]):
        runs = []
        for seed in seeds:
            r = run_once(w, seed, bench["run_seconds"], 0)
            runs.append(r)
            print(f"{w} seed={seed} wall={r['wall_s']:.1f}s correct={r['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        entry = {
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "run_wall_s": summarize([r["wall_s"] for r in runs]),
            "end_to_end": {
                k: {"unit": runs[0]["metrics"][k]["unit"], **summarize([r["metrics"][k]["value"] for r in runs])}
                for k in runs[0]["metrics"]
            },
        }
        traced = run_once(w, seeds[0], bench["run_seconds"], 1)
        entry["per_layer"] = {k: {"unit": v["unit"], "value": v["value"]} for k, v in traced["metrics"].items()}
        report["workloads"][w] = entry
        for k, s in entry["end_to_end"].items():
            flag = "" if k == "setup_s" or s["spread"] <= bounds[k] / 3 else "  <-- above a third of the bound"
            print(f"{w:8s} {k:12s} median={s['median']:.5g} spread={s['spread']:.4f} bound={bounds[k]}{flag}")
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
