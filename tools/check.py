#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: compare Verify output
parquet against DuckDB oracle results (sorted columns, exact values)."""
import json, sys, glob, os
import duckdb
import pandas as pd

# --only PREFIX compares only the oracle entries whose name starts with
# PREFIX (e.g. after `Verify <sf> <out> 'stream_*'`) and counts N/N over them
only = None
if "--only" in sys.argv:
    i = sys.argv.index("--only")
    if i + 1 >= len(sys.argv):
        sys.exit("--only needs a name prefix")
    only = sys.argv[i + 1]
    del sys.argv[i:i + 2]
    if "--record" in sys.argv:
        sys.exit("--record rewrites CORRECTNESS_LOCAL.json from the full oracle set; "
                 "it cannot run with --only")

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/target/verify_out"

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
all_oracle = set(oracle)
if only is not None:
    oracle = {k: v for k, v in oracle.items() if k.startswith(only)}
results = {}
for name, sql in sorted(oracle.items()):
    try:
        exp = con.sql(sql).df()
    except Exception as e:
        results[name] = f"ORACLE_FAIL: {e}"
        continue
    try:
        got = pd.read_parquet(f"{out_dir}/{name}")
    except Exception as e:
        results[name] = f"SPARK_MISSING: {e}"
        continue
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        results[name] = f"COLS: oracle={list(exp.columns)} spark={list(got.columns)}"
        continue
    if len(exp) != len(got):
        results[name] = f"ROWS: oracle={len(exp)} spark={len(got)}"
        continue
    bad = None
    for c in exp.columns:
        e, g = exp[c], got[c]
        try:
            if e.dtype != g.dtype:
                # allow equivalent dtypes (e.g. int32 vs Int32) but flag value diffs
                pass
            eq = (e == g) | (e.isna() & g.isna())
            if not eq.all():
                i = (~eq).idxmax()
                bad = f"VAL col={c} row={i}: oracle={e[i]!r} spark={g[i]!r} (n_bad={int((~eq).sum())})"
                break
        except Exception as ex:
            bad = f"CMPERR col={c}: {ex}"
            break
    # schema dtype report
    dt = [(c, str(exp[c].dtype), str(got[c].dtype)) for c in exp.columns
          if str(exp[c].dtype) != str(got[c].dtype)]
    if bad:
        results[name] = bad
    elif dt:
        results[name] = f"OK_VALUES_DTYPE_DIFF: {dt}"
    else:
        results[name] = "OK"

n_ok = sum(1 for v in results.values() if v == "OK")
for name, v in sorted(results.items()):
    mark = "✓" if v == "OK" else ("~" if v.startswith("OK_") else "✗")
    print(f"{mark} {name}: {v}")
# rows-only queries (no oracle)
for d in sorted(glob.glob(f"{out_dir}/*/")):
    name = os.path.basename(d.rstrip("/"))
    if name not in all_oracle and (only is None or name.startswith(only)):
        try:
            n = len(pd.read_parquet(d))
            print(f"· {name}: rows-only, {n} rows")
        except Exception as e:
            print(f"✗ {name}: rows-only UNREADABLE {e}")
print(f"\n{n_ok}/{len(oracle)} exact-match")

# --record: refresh CORRECTNESS_LOCAL.json from THIS run (only meaningful
# after a full, unfiltered Verify dump — a filtered run would understate)
if "--record" in sys.argv:
    rows_only = {}
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(d.rstrip("/"))
        if name not in oracle:
            try:
                rows_only[name] = f"{len(pd.read_parquet(d))} rows"
            except Exception as e:
                rows_only[name] = f"UNREADABLE {e}"
    rec = {
        "sf": sf_dir.rstrip("/").split("/")[-1].replace("sf", ""),
        "n_queries": len(oracle) + len(rows_only),
        "n_oracle": len(oracle),
        "n_hash_match": n_ok,
        "n_rows_only": len(rows_only),
        "queries": dict(sorted(results.items())),
        "rows_only": rows_only,
    }
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "CORRECTNESS_LOCAL.json")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1)
    print(f"recorded -> {path}")
