#!/usr/bin/env python3
"""Self-tests of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/selftest.py                    # all tests
    python3 perfbench/selftest.py --record-evidence  # also re-record
                                                     # evidence/count_vs_noop.json

  gen          the same seed gives byte-identical input files; another
               seed gives other files holding the same rows
  isolation    a short benchmark run leaves the checkout unchanged outside
               .bench_work/.bench_build, and leaves no Spark, Hadoop or JVM
               files in the system temp directory
  pin          a timed op's last action is the noop write of every column
               of its result, and its timer stops after the op's last job
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(run.WORK, "selftest")
PIN_OP = "geo_wkt_roundtrip"
EVIDENCE_OPS = ["dedup_minhash_lsh", "geo_wkt_roundtrip"]


def test_gen():
    a, b, c = (os.path.join(SCRATCH, x) for x in ("a", "b", "c"))
    gen.generate(a, 7)
    gen.generate(b, 7)
    gen.generate(c, 8)
    assert run.tree_digest(a) == run.tree_digest(b), "same seed, different bytes"
    assert run.tree_digest(a) != run.tree_digest(c), "seed changes nothing"
    import duckdb
    con = duckdb.connect()
    for t in os.listdir(a):
        q = "SELECT * FROM read_parquet('{}/*.parquet') ORDER BY ALL"
        assert con.sql(q.format(os.path.join(a, t))).fetchall() == \
            con.sql(q.format(os.path.join(c, t))).fetchall(), f"{t}: rows differ by seed"


def snapshot():
    skip = {".bench_work", ".bench_build", ".git"}
    out = {}
    for d, dirs, files in os.walk(ROOT):
        if os.path.relpath(d, ROOT) == ".":
            dirs[:] = [x for x in dirs if x not in skip]
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, ROOT)] = (st.st_size, st.st_mtime_ns)
    return out


def temp_entries():
    tmp = tempfile.gettempdir()
    marks = ("spark", "blockmgr", "hsperfdata", "hadoop", "graft")
    return {x for x in os.listdir(tmp) if any(m in x for m in marks)}


def test_isolation():
    before, tmp_before = snapshot(), temp_entries()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "etl_load",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    assert r.returncode == 0, f"benchmark run failed:\n{r.stdout[-2000:]}"
    after = snapshot()
    changed = sorted(k for k in set(before) | set(after) if before.get(k) != after.get(k))
    assert not changed, f"run changed the checkout: {changed[:10]}"
    new_tmp = temp_entries() - tmp_before
    assert not new_tmp, f"run wrote to the system temp dir: {sorted(new_tmp)}"


def driver(mode, ops):
    work = os.path.join(SCRATCH, mode)
    os.makedirs(work, exist_ok=True)
    inputs = os.path.join(work, "inputs")
    gen.generate(inputs, 1)
    return run.run_jvm(build.build(), ["--mode", mode, "--ops", ",".join(ops),
                                       "--inputs", inputs], work, float("inf"))


def test_pin():
    r = driver("pin", [PIN_OP])
    assert r["last_write_table"] is not None and "noop" in r["last_write_table"].lower(), \
        f"last write of the op is not the noop sink: {r['last_write_table']}"
    assert r["last_write_columns"] == r["columns"], \
        f"noop write covered {r['last_write_columns']} of {r['columns']}"
    assert r["jobs"] >= 1 and r["last_job_end_ms"] <= r["timer_stop_ms"] + 1, \
        "a job of the op ended after the timer stopped"


def record_evidence():
    r = driver("evidence", EVIDENCE_OPS)
    path = os.path.join(HERE, "evidence", "count_vs_noop.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rec = {"what": "one op timed with count() and with the noop write, warm, min of 3 "
                   "each, local[4], 4-core host, inputs of gen.py seed 1",
           "ops": r["evidence"]}
    with open(path, "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps(rec, indent=1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--record-evidence", action="store_true")
    a = ap.parse_args()
    tests = [test_gen, test_isolation, test_pin]
    failed = 0
    for t in tests:
        try:
            t()
            print(f"ok   {t.__name__}")
        except AssertionError as e:
            failed += 1
            print(f"FAIL {t.__name__}: {e}")
    if a.record_evidence:
        record_evidence()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
