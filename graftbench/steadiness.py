#!/usr/bin/env python3
"""Run the benchmark on several seeds per workload and record how steady
each end-to-end metric is.

    python3 graftbench/steadiness.py --seeds 1 2 3 4 5 6 7 8 9 10 --out graftbench/steadiness.json

For each workload and metric it records the values, their median, and
the spread: the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median. The
result also names the machine's core count, the harness heap, the
Spark version and the bound of each metric from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} failed (exit {p.returncode})")
    info = [l for l in lines if l.startswith("# workload=")]
    return json.loads(lines[-1]), wall, info[0] if info else ""


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    record = {"seeds": a.seeds, "run_seconds": spec["run_seconds"], "nproc": os.cpu_count(),
              "workloads": {}}
    for w in workloads:
        runs = []
        for s in a.seeds:
            result, wall, info = run(w, s, spec["run_seconds"])
            if not result["correct"] or result["failed"]:
                raise SystemExit(f"{w} seed {s}: checks failed")
            runs.append({"seed": s, "wall_s": round(wall, 1),
                         "metrics": {k: v["value"] for k, v in result["metrics"].items()}})
            record["environment"] = info
            print(f"{w} seed={s} wall={wall:.0f}s " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        metrics = {}
        for name in bounds:
            values = [r["metrics"][name] for r in runs]
            sp = spread(values)
            metrics[name] = {"median": statistics.median(values), "spread": round(sp, 4),
                             "bound": bounds[name], "within_third_of_bound": sp < bounds[name] / 3,
                             "values": values}
            print(f"  {w} {name}: median={statistics.median(values):.4g} spread={sp:.3f} "
                  f"(bound {bounds[name]})", flush=True)
        record["workloads"][w] = {"metrics": metrics,
                                  "wall_s": [r["wall_s"] for r in runs]}
    with open(a.out, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
