"""Self-checks of the benchmark itself (not of the engine):

  1. per-query build + plan + action spans add up, within 1%, to the
     query wall time the harness reads from its own clock around the
     build call and the action;
  2. every metric prints with the name and unit BENCHMARK.json declares,
     traced and untraced, and no end-to-end metric reads 0;
  3. a query forced to throw is counted as failed, not timed as a success;
  4. the input generators are deterministic for a given seed;
  5. every non-demo query is in exactly one query workload;
  6. an ingest run crosses the compaction trigger at least twice per lane.

    python3 perfbench/selfcheck.py

Run from the repository root. It makes five benchmark runs, so it takes
a few minutes. Exits 1 if any check fails.
"""
import filecmp
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import calibrate  # noqa: E402
import gen_data  # noqa: E402
import run  # noqa: E402

FAILS = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        FAILS.append(what)


def declared(kind):
    with open("BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def metric_names(result, kind, label):
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    check(got == declared(kind), f"{label}: metrics and units match BENCHMARK.json {kind}")
    if kind == "end_to_end":
        zero = [k for k, v in result["metrics"].items() if not v["value"]]
        check(not zero, f"{label}: no end-to-end metric reads 0 {zero or ''}")


def spans_add_up(records):
    spans = run.by_type(records, "span")
    worst = 0.0
    n = 0
    for o in run.by_type(records, "op"):
        if o["kind"] != "query" or not o["ok"]:
            continue
        parts = sum(s["end"] - s["start"] for s in spans
                    if s["op"] == o["op"] and s["name"] in ("build", "plan", "action"))
        worst = max(worst, abs(o["wall"] - parts) / o["wall"])
        n += 1
    check(n > 0 and worst <= 0.01,
          f"build + plan + action within 1% of query wall ({n} queries, worst {worst:.4%})")


def generators_deterministic():
    tmp = tempfile.mkdtemp(dir=build.BUILD)
    try:
        tables = run.tables_dir()
        gen_data.tables(f"{tmp}/t", run.SCALE)
        same = all(filecmp.cmp(f"{tables}/{t}", f"{tmp}/t/{t}", shallow=False)
                   for t in os.listdir(f"{tmp}/t"))
        check(same, "tables are byte-identical across generations")
        n, size = run.INGEST["batches"], run.INGEST["batch_size"]
        for d, seed in (("a", 7), ("b", 7), ("c", 8)):
            gen_data.ingest_batches(tables, f"{tmp}/{d}", seed, n, size)
        files = sorted(os.listdir(f"{tmp}/a"))
        _, mismatch, errors = filecmp.cmpfiles(f"{tmp}/a", f"{tmp}/b", files, shallow=False)
        check(not mismatch and not errors, "same seed gives byte-identical ingest batches")
        _, differ, _ = filecmp.cmpfiles(f"{tmp}/a", f"{tmp}/c", files, shallow=False)
        check(bool(differ), "another seed gives other ingest batches")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    generators_deterministic()
    wl = run.workloads()["workloads"]
    short = wl["short_queries"]["queries"]
    sample = wl["short_queries"]["pass"]
    victim = sorted(sample)[0]
    res, recs, _ = run.run("short_queries", 1, True, force_fail=victim)
    metric_names(res, "per_layer", "short_queries traced")
    spans_add_up(recs)
    failed = [o["name"] for o in run.by_type(recs, "op") if not o["ok"]]
    check(res["attempted"] == len(sample) and failed == [victim] and res["failed"] == 1
          and not res["correct"],
          f"a forced throw in {victim} counts as failed ({res['failed']}/{res['attempted']})")
    for name in ("short_queries", "heavy_fits", "ingest_batches"):
        res, _, _ = run.run(name, 2, False)
        metric_names(res, "end_to_end", f"{name} untraced")
        check(res["correct"] and res["failed"] == 0, f"{name}: every output checks")
    heavy = wl["heavy_fits"]["queries"]
    everything = calibrate.non_demo(calibrate.list_queries())
    check(sorted(short + heavy) == everything,
          f"each of the {len(everything)} non-demo queries is in exactly one query workload")
    res, _, _ = run.run("ingest_batches", 3, True)
    n = res["metrics"]["registry.compactions"]["value"]
    check(n >= 2 * 4, f"ingest crosses the compaction trigger at least twice per lane ({n})")
    print("selfcheck:", "FAILED " + "; ".join(FAILS) if FAILS else "all passed")
    sys.exit(1 if FAILS else 0)


if __name__ == "__main__":
    main()
