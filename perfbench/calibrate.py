"""Maintainer tool: rebuilds the benchmark's golden file and its frozen
workload membership. Not part of a benchmark run.

    python3 perfbench/calibrate.py golden       # Verify + oracle + checksums
    python3 perfbench/calibrate.py membership   # traced pass over all queries
    python3 perfbench/calibrate.py sample       # redraw the pass samples

`golden` runs `graft.Verify` on the benchmark tables, requires
`tools/verify_local.py` (the DuckDB oracle compare) to pass on that
output, and writes golden.json from checksums of exactly that output.
Queries without an oracle (the seeded fits) keep their row count only.

`membership` makes one traced pass over every query except the registry
demos and assigns each to short_queries (action time below build + plan)
or heavy_fits (the rest), then rewrites the two lists in workloads.json.
Run it only when the query set changes: the lists are frozen so that
later timing changes do not move queries between workloads.

`sample` draws from each list the frozen subset one run executes: a full
pass over all ~240 queries takes minutes, while one run should take
well under a minute. Queries are ranked by calibration
wall time and taken at evenly spaced ranks, as many as fit the target,
so the sample keeps the list's spread of query costs.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

# Bench.DemoQueries: the multi-ingest registry demos, left out of both
# query workloads because ingest_batches drives the same lanes.
DEMO = {"q237", "q241", "q242", "q244", "q247", "q248", "q249"}
PASS_TARGET_S = 8.0


def list_queries():
    work = os.path.abspath(f"{build.BUILD}/work/list")
    os.makedirs(work, exist_ok=True)
    recs, _ = run.run_jvm({"mode": "list"}, work, 300)
    return {r["name"]: r["oracle"] for r in recs if "name" in r}


def non_demo(qs):
    return sorted(n for n in qs if n.split("_")[0] not in DEMO)


def golden():
    cp = build.ensure()
    data = os.path.abspath(run.tables_dir())
    out = os.path.abspath(f"{build.BUILD}/verify")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(run.THREADS))
    env.pop("SPARK_GRAFT_ONLY", None)
    subprocess.run(["java", "-Xmx4g"] + build.JDK_OPENS +
                   ["-Dspark.ui.enabled=false", "-cp", cp, "graft.Verify", data, out],
                   env=env, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    r = subprocess.run([sys.executable, "tools/verify_local.py", data, out],
                       stdout=subprocess.PIPE, text=True)
    summary = r.stdout.strip().splitlines()[-1]
    print(summary)
    if r.returncode != 0:
        print("\n".join(line for line in r.stdout.splitlines() if line.startswith("FAIL")))
        raise SystemExit("oracle compare failed; golden.json not written")
    qs = list_queries()
    names = sorted(n for n in qs if os.path.isdir(f"{out}/{n}"))
    work = os.path.abspath(f"{build.BUILD}/work/golden")
    os.makedirs(work, exist_ok=True)
    with open(f"{work}/ops.txt", "w") as f:
        f.write("\n".join(names) + "\n")
    recs, _ = run.run_jvm({"mode": "checksum-dirs", "ops": f"{work}/ops.txt", "dirs": out},
                          work, 900)
    entries = {r["name"]: {"rows": r["rows"], "hash": r["hash"]} if qs[r["name"]]
               else {"rows": r["rows"]} for r in recs if "name" in r}
    missing = sorted(set(qs) - set(entries))
    doc = {"scale": run.SCALE, "oracle": summary, "missing": missing, "queries": entries}
    with open(f"{HERE}/golden.json", "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"golden.json: {len(entries)} queries, missing {missing}")


def membership(seed=1):
    qs = non_demo(list_queries())
    _, recs, _ = run.run("short_queries", seed, True, queries=qs, timeout=1800)
    short, heavy, failed = [], [], []
    times = {}
    for o in run.by_type(recs, "op"):
        if not o["ok"]:
            failed.append(o["name"])
            continue
        b, p, a = (o["t"][1] - o["t"][0], o["t"][2] - o["t"][1], o["t"][3] - o["t"][2])
        times[o["name"]] = [round(b, 4), round(p, 4), round(a, 4)]
        (short if a < b + p else heavy).append(o["name"])
    if failed:
        print(f"failed in calibration (left unassigned): {failed}")
    path = f"{HERE}/workloads.json"
    with open(path) as f:
        wl = json.load(f)
    wl["workloads"]["short_queries"]["queries"] = sorted(short)
    wl["workloads"]["heavy_fits"]["queries"] = sorted(heavy)
    wl["calibration"] = {"seed": seed, "failed": failed,
                         "build_plan_action_s": times}
    write_sample(wl)
    print(f"short_queries {len(short)}, heavy_fits {len(heavy)}")


def evenly(ranked, m):
    return [ranked[int((i + 0.5) * len(ranked) / m)] for i in range(m)]


def write_sample(wl=None):
    path = f"{HERE}/workloads.json"
    if wl is None:
        with open(path) as f:
            wl = json.load(f)
    t = wl["calibration"]["build_plan_action_s"]
    for name in ("short_queries", "heavy_fits"):
        ranked = sorted(wl["workloads"][name]["queries"], key=lambda q: (sum(t[q]), q))
        m = max(k for k in range(1, len(ranked) + 1)
                if k == 1 or sum(sum(t[q]) for q in evenly(ranked, k)) <= PASS_TARGET_S)
        wl["workloads"][name]["pass"] = sorted(evenly(ranked, m))
        print(f"{name}: pass of {m} of {len(ranked)} queries")
    with open(path, "w") as f:
        json.dump(wl, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    if sys.argv[1] == "golden":
        golden()
    elif sys.argv[1] == "sample":
        write_sample()
    else:
        membership()
