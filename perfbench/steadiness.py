#!/usr/bin/env python3
"""Steadiness record: runs the benchmark on each workload with ten seeds,
untraced, plus two traced runs per workload, and writes the spread of every
end-to-end metric (quartile distance over median, as
statistics.quantiles(values, n=4) gives the quartiles), the host's 1-min
load average at the start of each run, and which per-layer counts differ
between the two traced runs. Run from the root of a checkout:

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1] [--workloads a,b] [--out FILE]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ["spark.jobs", "spark.stages", "spark.tasks", "codegen.compiles",
          "io.files_written", "shuffle.read_mb", "shuffle.write_mb", "io.write_mb",
          "stream.triggers", "stream.state_rows"]


def bench(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}\n{r.stdout[-2000:]}")
    info, ops = {}, {}
    for ln in lines[:-1]:
        parts = ln.split()
        if len(parts) >= 3 and parts[0] == workload:
            info[parts[1]] = parts[2]
        elif len(parts) == 7 and parts[:2] == ["#", "op"]:
            ops[parts[2]] = [float(x) for x in parts[6].split(",")]
        elif parts[:3] == ["#", "pass", "wall_s"]:
            info["pass_wall_s"] = [float(x) for x in parts[3].split(",")]
    info["ops"] = ops
    return json.loads(lines[-1]), info, time.monotonic() - t0


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads")
    ap.add_argument("--out", default=os.path.join(HERE, "STEADINESS.json"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for w in names:
        runs = []
        for i in range(a.runs):
            seed = a.first_seed + i
            res, info, took = bench(w, seed, spec["run_seconds"], 0)
            runs.append({"seed": seed, "load1_at_start": float(info.get("load1_at_start", "nan")),
                         "run_s": round(took, 1), "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         "pass_wall_s": info["pass_wall_s"], "op_samples_s": info["ops"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(w, seed, json.dumps(runs[-1]), flush=True)
        summary = {}
        for m in bounds:
            vals = [r["metrics"][m] for r in runs]
            s = spread(vals)
            summary[m] = {"median": statistics.median(vals), "spread": round(s, 4),
                          "bound": bounds[m], "spread_over_bound": round(s / bounds[m], 3)}
        traced = []
        for i in range(2):
            res, _, _ = bench(w, a.first_seed + i, spec["run_seconds"], 1)
            traced.append({k: v["value"] for k, v in res["metrics"].items()})
        repeat = {}
        for k in COUNTS:
            vals = [round(t.get(k, 0), 6) for t in traced]
            repeat[k] = {"values": vals, "repeats": len(set(vals)) <= 1}
        out["workloads"][w] = {"spread": summary, "counts_across_traced_runs": repeat,
                               "runs": runs}
        print(w, json.dumps(summary), flush=True)
    with open(a.out, "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
