#!/usr/bin/env python3
"""Alternating A/B pairs of perfbench runs: a parent checkout against a change.

    python3 tools/ab_pairs.py PARENT CHANGE --workloads query_mix,etl_load \\
        --seeds 11-20 --seconds 18 [--out pairs.jsonl]
    python3 tools/ab_pairs.py --report pairs.jsonl

For each workload and seed, runs `perfbench/run.py --trace 0` once in each
checkout, alternating which side goes first from one pair to the next. Each
run is appended to `--out` as one JSON line as soon as it ends. At the end,
for every (workload, end-to-end metric) it prints each side's median and
quartiles [q1, q3], the pairs the change won (ties count for neither side),
and the parent's quartile distance q3 - q1. A gain holds when the change
wins at least nine tenths of the pairs and the medians differ by more than
the parent's quartile distance. Metric names and their better direction
come from the change's BENCHMARK.json (with `--report`, this checkout's).
`--report` prints the same table from a saved file without running anything.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        raise SystemExit(f"{checkout}: {workload} seed {seed} failed (exit {p.returncode})")
    res = json.loads(lines[-1])
    # the ungated "<workload> <name> <value> <unit>" lines: op count, load
    extra = {}
    for l in p.stdout.splitlines():
        f = l.split()
        if len(f) >= 3 and f[0] == workload:
            try:
                extra[f[1]] = float(f[2])
            except ValueError:
                pass
    return {k: v["value"] for k, v in res["metrics"].items()}, extra


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


def report(records, better):
    pairs = {}
    for r in records:
        pairs.setdefault((r["workload"], r["seed"]), {})[r["side"]] = r["metrics"]
    workloads = sorted({w for w, _ in pairs})
    print("workload metric: parent median [q1, q3] | change median [q1, q3] | "
          "wins | parent q3-q1 | median diff")
    for w in workloads:
        full = [p for (pw, _), p in sorted(pairs.items()) if pw == w
                and "parent" in p and "change" in p]
        for m, direction in better.items():
            a = [p["parent"][m] for p in full if m in p["parent"]]
            b = [p["change"][m] for p in full if m in p["change"]]
            if not a or len(a) != len(b):
                continue
            sign = 1 if direction == "lower" else -1
            wins = sum(1 for x, y in zip(a, b) if sign * (y - x) < 0)
            (a1, a3), (b1, b3) = quartiles(a), quartiles(b)
            ma, mb = statistics.median(a), statistics.median(b)
            print(f"{w} {m}: {ma:.4g} [{a1:.4g}, {a3:.4g}] | {mb:.4g} [{b1:.4g}, {b3:.4g}] | "
                  f"{wins}/{len(a)} | {a3 - a1:.4g} | {mb - ma:+.4g} ({(mb - ma) / ma:+.1%})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workloads", default="query_mix,etl_load")
    ap.add_argument("--seeds", default="11-20", help="e.g. 11-20 or 3,5,7")
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--out", help="append each run here as a JSON line")
    ap.add_argument("--report", help="summarize a saved --out file and exit")
    a = ap.parse_args()
    bench_root = a.change or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(bench_root, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    if a.report:
        with open(a.report) as f:
            report([json.loads(l) for l in f if l.strip()], better)
        return
    if not (a.parent and a.change):
        ap.error("PARENT and CHANGE checkouts are required unless --report is given")
    records = []
    for w in a.workloads.split(","):
        for i, seed in enumerate(seeds_of(a.seeds)):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                checkout = a.parent if side == "parent" else a.change
                metrics, extra = run_once(checkout, w, seed, a.seconds)
                rec = {"workload": w, "seed": seed, "side": side,
                       "metrics": metrics, "ungated": extra}
                records.append(rec)
                print(f"# {w} seed {seed} {side}: " + " ".join(
                    f"{m}={rec['metrics'].get(m, float('nan')):.4g}" for m in better),
                    flush=True)
                if a.out:
                    with open(a.out, "a") as f:
                        f.write(json.dumps(rec) + "\n")
    report(records, better)


if __name__ == "__main__":
    main()
