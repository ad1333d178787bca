#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds graft and the JVM driver
(perfbench/build.py), generates the seeded inputs (perfbench/gen.py), runs
the workload's ops in a closed loop from one client thread on a local[4]
Spark session, checks every op's rows against DuckDB running the op's
oracle SQL, and prints every metric by name with its unit. The last line
of standard output is one JSON object: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. A traced run also writes its span file
under .bench_work/traces/.

Workloads, their ops and which layer metric should move which end-to-end
metric are in perfbench/workloads.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
TIME_LIMIT_S = 170
CORES = 4  # the driver's local[4] session
GEN_REPEATS = 3
JVM_OPTS = [
    "-Xms4g", "-Xmx4g", "-Xss8m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def tail(values):
    """Highest percentile with at least ten samples beyond it: (value, pct)."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100
    return v[n - 11], (100 * (n - 10)) // n


def tree_digest(path):
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def generate(inputs, seed):
    """Generate the inputs GEN_REPEATS times; return the median time.
    Every repeat must give byte-identical files."""
    times, digests = [], set()
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        gen.generate(inputs, seed)
        times.append(time.perf_counter() - t0)
        digests.add(tree_digest(inputs))
    if len(digests) != 1:
        raise SystemExit("gen: the same seed gave different input files")
    return statistics.median(times)


def run_jvm(classpath, args, work, deadline):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
           "perfbench.Driver", "--work", work, "--out", out] + args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("driver: timed out")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"driver: exit code {rc}")
    with open(out) as f:
        return json.load(f)


def check(inputs, work, oracle):
    """Compare each op's check-pass rows with DuckDB running its oracle SQL,
    by the tools/check.py rule: columns sorted by name, same row count, the
    same values row by row (nulls equal). Returns {op: problem}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in sorted(os.listdir(inputs)):
        name = t[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(inputs, t)}/*.parquet')")
    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            exp = con.sql(sql).df()
            got = pd.read_parquet(os.path.join(work, "check_out", name))
        except Exception as e:  # noqa: BLE001 - every failure is a result
            bad[name] = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        exp = exp.reindex(sorted(exp.columns), axis=1)
        got = got.reindex(sorted(got.columns), axis=1)
        if list(exp.columns) != list(got.columns):
            bad[name] = f"columns: oracle={list(exp.columns)} spark={list(got.columns)}"
        elif len(exp) != len(got):
            bad[name] = f"rows: oracle={len(exp)} spark={len(got)}"
        else:
            for c in exp.columns:
                e, g = exp[c], got[c]
                try:
                    eq = (e == g) | (e.isna() & g.isna())
                    ok = bool(eq.all())
                except Exception as ex:  # noqa: BLE001
                    bad[name] = f"compare {c}: {ex}"
                    break
                if not ok:
                    i = (~eq).idxmax()
                    bad[name] = f"value {c} row {i}: oracle={e[i]!r} spark={g[i]!r}"
                    break
    return bad


def self_times(spans_path, n_passes):
    """Per-layer self time (span minus the part its children cover), summed
    per layer and divided by the number of traced passes."""
    spans = [json.loads(x) for x in open(spans_path)]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        cov, cur = 0, lo
        for a, b in sorted((max(a, lo), min(b, hi)) for a, b in kids.get(s["id"], [])):
            a = max(a, cur)
            if b > a:
                cov += b - a
                cur = b
        out[s["layer"]] = out.get(s["layer"], 0) + (hi - lo - cov)
    return {k: v / 1e6 / n_passes for k, v in out.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + TIME_LIMIT_S
    load1 = os.getloadavg()[0]

    spec = load_workloads()
    wl = {w["name"]: w for w in spec["workloads"]}
    if a.workload not in wl:
        raise SystemExit(f"unknown workload {a.workload}")
    ops = wl[a.workload]["ops"]

    classpath = build.build()
    deadline = max(deadline, time.monotonic() + 150)  # a first build gets its own time

    work = os.path.join(WORK, "run")
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    inputs = os.path.join(work, "inputs")
    gen_s = generate(inputs, a.seed)

    r = run_jvm(classpath, ["--ops", ",".join(ops), "--inputs", inputs,
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                work, deadline)
    bad = dict(r["check_errors"])
    bad.update(check(inputs, work, r["oracle"]))
    unchecked = sorted(set(ops) - set(r["oracle"]) - set(bad))

    warm = [p["wall_s"] for p in r["passes"] if p["pass"] < 0]
    timed = [o for o in r["ops"] if not o["traced"] and o["pass"] >= 0]
    traced = [o for o in r["ops"] if o["traced"]]
    failed_ops = [o for o in r["ops"] if o["error"]]
    attempted = len(r["ops"]) + len(ops)
    failed = len(failed_ops) + len(bad)
    ok_times = [o["t_s"] for o in timed if not o["error"]]
    walls = [p["wall_s"] for p in r["passes"] if not p["traced"] and p["pass"] >= 0]
    op_tail, tail_pct = tail(ok_times)
    by_op = {}
    for o in timed:
        if not o["error"]:
            by_op.setdefault(o["name"], []).append(o["t_s"])
    # each op's median, combined over the workload's ops by geometric mean:
    # the pooled median of a mix of ops this different lands on whichever
    # op sits at the middle rank, and jumps when two ops swap places
    op_gm = math.exp(statistics.fmean(math.log(statistics.median(v)) for v in by_op.values()))
    setup_s = gen_s + r["jvm_to_main_s"] + r["session_s"] + r["check_s"] + sum(warm)

    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(walls), "s"),
        "op_p50_gm_s": (op_gm, "s"),
        "ok_rate": ((attempted - failed) / attempted, "frac"),
        "retained_heap_mb": (r["retained_heap_mb"], "MB"),
    }
    info = {
        "seed": (a.seed, ""), "load1_at_start": (load1, ""),
        "error_rate": (failed / attempted, "frac"),
        "op_p50_s": (statistics.median(ok_times), "s"),
        "op_tail_s": (op_tail, "s"), "op_tail_pct": (tail_pct, "pct"),
        "ops_timed": (len(timed), "count"),
        "passes": (len(walls), "count"), "gen_s": (gen_s, "s"),
        "jvm_to_main_s": (r["jvm_to_main_s"], "s"), "session_s": (r["session_s"], "s"),
        "check_s": (r["check_s"], "s"), "warmup_s": (sum(warm), "s"),
    }
    for name, problem in sorted(bad.items()):
        print(f"# wrong or failed in check: {name}: {problem}")
    for o in failed_ops[:5]:
        print(f"# failed in pass {o['pass']}: {o['name']}: {o['error']}")
    if unchecked:
        print(f"# no oracle, checked for running only: {','.join(unchecked)}")
    for name in ops:
        if by_op.get(name):
            print(f"# op {name} median_s {statistics.median(by_op[name]):.4f} "
                  f"samples_s {','.join(f'{t:.4f}' for t in by_op[name])}")
    print(f"# pass wall_s {','.join(f'{w:.4f}' for w in walls)}")

    metrics = {}
    if a.trace == 0:
        for k, (v, u) in list(e2e.items()) + list(info.items()):
            print(f"{a.workload} {k} {v} {u}".rstrip())
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        n = len([p for p in r["passes"] if p["traced"]])
        per = {m["name"]: m for m in spec_per_layer()}
        sums = {}
        for o in traced:
            for k, v in o.items():
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    sums[k] = sums.get(k, 0) + v
        vals = {k: sums.get(k, 0) / n for k in per}
        vals["tasks.empty_frac"] = sums.get("tasks.empty", 0) / max(1, sums.get("spark.tasks", 0))
        busy = sums.get("t_s", 0) * CORES
        vals["tasks.busy_frac"] = sums.get("tasks.run_s", 0) / busy if busy else 0
        trig = [t for o in traced for t in o["trigger_ms"]]
        vals["stream.trigger_p50_ms"] = statistics.median(trig) if trig else 0
        vals["stream.trigger_tail_ms"] = tail(trig)[0] if trig else 0
        spans_dir = os.path.join(WORK, "traces")
        os.makedirs(spans_dir, exist_ok=True)
        spans = os.path.join(spans_dir, f"{a.workload}-seed{a.seed}.spans.jsonl")
        shutil.move(os.path.join(work, "spans.jsonl"), spans)
        for layer, v in self_times(spans, n).items():
            vals[f"self.{layer}_s"] = v
        tw = [p["wall_s"] for p in r["passes"] if p["traced"]]
        vals["trace.overhead_s"] = statistics.median(tw) - statistics.median(walls)
        print(f"# spans: {os.path.relpath(spans, ROOT)} ({n} traced passes, "
              f"{len(walls)} untraced)")
        for k, (v, u) in info.items():
            print(f"{a.workload} {k} {v} {u}".rstrip())
        for k, m in per.items():
            print(f"{a.workload} {k} {vals.get(k, 0)} {m['unit']}")
        metrics = {k: {"value": vals.get(k, 0), "unit": m["unit"]} for k, m in per.items()}

    print(json.dumps({"correct": not bad and not failed_ops, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def spec_per_layer():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer"]


if __name__ == "__main__":
    main()
