#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Reads outDir/<name>/ parquet (written by graft.Verify) and
outDir/oracle_sql.json, runs each oracle SQL in DuckDB against the
same sf tables, and compares: column names (sorted), row count, and
values (rows sorted, floats compared exactly after both sides'
rounding conventions — mirrors a hash compare). Each PASS/FAIL line
carries the seconds the DuckDB oracle took; the five slowest oracles
are listed at the end.

Usage: verify_local.py <sfDir> <outDir> [query ...]
"""
import sys, json, glob, math, time
import duckdb

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def canon(v):
    if v is None: return (0, "")
    if isinstance(v, float):
        if math.isnan(v): return (1, "nan")
        return (1, repr(v))
    if isinstance(v, bool): return (2, str(v))
    if isinstance(v, (int,)): return (1, repr(float(v))) if False else (3, str(v))
    return (4, str(v))

def frame_key(rows, names):
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort()
    return out

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    secs = {}
    for name in sorted(oracles):
        if only and name not in only: continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        t0 = None
        try:
            got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got_rows, got_names = got.fetchall(), [d[0] for d in got.description]
            t0 = time.monotonic()
            exp = con.sql(oracles[name])
            exp_rows, exp_names = exp.fetchall(), [d[0] for d in exp.description]
            secs[name] = time.monotonic() - t0
        except Exception as e:
            if t0 is not None: secs[name] = time.monotonic() - t0
            print(f"FAIL {name}: {e}{took(secs, name)}"); n_fail += 1; continue
        if sorted(got_names) != sorted(exp_names):
            print(f"FAIL {name}: columns {sorted(got_names)} != {sorted(exp_names)}"
                  f"{took(secs, name)}")
            n_fail += 1; continue
        if len(got_rows) != len(exp_rows):
            print(f"FAIL {name}: rows {len(got_rows)} != {len(exp_rows)}"
                  f"{took(secs, name)}")
            n_fail += 1; continue
        g, e = frame_key(got_rows, got_names), frame_key(exp_rows, exp_names)
        if g != e:
            bad = next(i for i in range(len(g)) if g[i] != e[i])
            print(f"FAIL {name}: value mismatch at sorted-row {bad}:{took(secs, name)}")
            print(f"  spark: {g[bad]}")
            print(f"  duck : {e[bad]}")
            n_fail += 1; continue
        print(f"PASS {name} ({len(got_rows)} rows, oracle {secs[name]:.2f}s)")
        n_pass += 1
    slow = sorted(secs, key=secs.get, reverse=True)[:5]
    print("slowest oracles: " + ", ".join(f"{n} {secs[n]:.2f}s" for n in slow))
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

def took(secs, name):
    return f" (oracle {secs[name]:.2f}s)" if name in secs else ""

main()
