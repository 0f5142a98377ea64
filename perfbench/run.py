"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness into `.bench_build/` (see build.py) and generates the fixed input
tables (gen_data.py); later runs reuse both. Each run then starts one
fresh JVM that sets the session up, makes one closed-loop pass over the
workload's operations in an order drawn from the seed, checks every
output, and exits. It prints a `wall` line (the pass's wall time), a
`host` line (steal and load over the run, the probe time before and
after the pass) and, last, one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`.

Workloads (membership and the layer map are in workloads.json):
  short_queries   queries whose action is cheaper than their build + plan
  heavy_fits      the remaining queries: fits and kernels
  ingest_batches  a seeded document stream through PipelineDriver.runIngest

A pass is fixed work, not a fixed time: `--seconds` is accepted so the
command keeps the common benchmark signature, and each workload is sized
so that a whole run takes 30 to 45 s on a 4-core host.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_data  # noqa: E402

SCALE = 0.01
# Spark threads (`local[THREADS]`; GraftSession also sizes shuffle
# partitions by it). Fixed rather than the host's core count, so that a
# run does the same work on every host. On a 4-core host, local[2] left
# the driver, JIT and GC threads room and measured both faster and
# steadier than local[4] (heavy_fits, five seeds: pass 8.9 s against
# 13.7 s; spread of the median operation time 8% against 27%).
THREADS = 2
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
INGEST = {"batches": 2, "batch_size": 20, "buckets": 4, "threshold": 0,
          "retries": [1]}


def tables_dir():
    """The fixed input tables, generated once per checkout."""
    d = f"{build.BUILD}/data/tables_sf{SCALE}"
    if not os.path.exists(f"{d}/_done"):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.tables(d, SCALE)
        open(f"{d}/_done", "w").close()
    return d


def workloads():
    with open(f"{HERE}/workloads.json") as f:
        return json.load(f)


def read_proc():
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return cpu, load1


def run_jvm(args, work, timeout):
    """Start the harness JVM, wait for it, and return (records, popen
    epoch seconds). Raises when it fails or runs out of time."""
    cp = build.ensure()
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC"]
           + build.JDK_OPENS
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={work}/tmp",
              f"-Djava.io.tmpdir={work}/tmp",
              f"-Dderby.system.home={work}",
              "-cp", cp, "perfbench.Harness"]
           + [f"{k}={v}" for k, v in args.items()]
           + [f"out={work}/records.jsonl", f"cpus={THREADS}"])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    t0 = time.time()
    with open(f"{work}/jvm.log", "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                           timeout=timeout, cwd=work)
    if r.returncode != 0:
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-3000:])
        raise RuntimeError(f"harness exited with {r.returncode}")
    with open(f"{work}/records.jsonl") as f:
        records = [json.loads(line) for line in f if line.strip()]
    # runIngest announces each automatic compaction on stdout
    with open(f"{work}/jvm.log") as f:
        records.append({"type": "log", "compactions":
                        sum("[ingest] auto-compact" in line for line in f)})
    return records, t0


def pct(xs, q):
    """The q-quantile by linear interpolation (q in [0, 1])."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def by_type(records, t):
    return [r for r in records if r["type"] == t]


def cold_setup_s(records, popen_epoch):
    """Process launch until the warm-up has ended: JVM start, class
    loading, session and warm-up."""
    return by_type(records, "setup")[0]["end_epoch_ms"] / 1000.0 - popen_epoch


def end_to_end(records, popen_epoch):
    p = by_type(records, "pass")[0]
    counts = by_type(records, "counts")
    return {
        "setup_s": (cold_setup_s(records, popen_epoch), "s"),
        "cpu_s": (p["cpu_s"], "s"),
        "task_cpu_s": (sum(c["cpu_ns"] for c in counts) / 1e9, "s"),
    }


def self_times(records):
    """Self time per span name: duration minus the part its children cover."""
    spans = by_type(records, "span")
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out = {}
    for s in spans:
        out[s["name"]] = (out.get(s["name"], 0.0) + s["end"] - s["start"]
                          - child.get(s["id"], 0.0))
    return out


def per_layer(records, popen_epoch, host, text_bytes):
    ops = by_type(records, "op")
    p = by_type(records, "pass")[0]
    counts = {c["key"]: c for c in by_type(records, "counts")}

    def phase(name, field):
        return sum(c[field] for k, c in counts.items() if k.endswith(":" + name))

    def phase_keys(name):
        return [k for k in counts if k.endswith(":" + name)]

    setup = by_type(records, "setup")[0]
    cold = cold_setup_s(records, popen_epoch)
    io = (by_type(records, "io") or [{"calls": 1, "jobs": 0, "ms": [0.0]}])[0]
    queries = [o for o in ops if o["kind"] == "query" and o["ok"]]
    build_t = [o["t"][1] - o["t"][0] for o in queries]
    plan_t = [o["t"][2] - o["t"][1] for o in queries]
    act_t = [o["t"][3] - o["t"][2] for o in queries]
    wall = sum(o["end"] - o["start"] for o in queries)
    tasks = phase("action", "tasks")
    run_s = phase("action", "run_ms") / 1000.0
    cpu_s = phase("action", "cpu_ns") / 1e9
    caches = by_type(records, "cache")
    batches = [o for o in ops if o["kind"] == "batch"]
    retries = [o for o in ops if o["kind"] == "retry"]
    n_batch = max(1, len(batches))
    regs = by_type(records, "registry")
    compactions = by_type(records, "log")[0]["compactions"]
    lanes_last = {}
    for r in regs:
        lanes_last[r["lane"]] = r["bytes"]
    disk = sum(r["bytes"] for r in by_type(records, "registry_disk") if r["batch"] == -1)
    selfs = self_times(records)
    front = selfs.get("build", 0.0) + selfs.get("plan", 0.0)
    back = selfs.get("action", 0.0)
    first = [o for o in ops if o["kind"] != "retry" and o["ok"]]
    suite = p["end"] - p["start"]
    mb = 1048576.0
    m = {
        "session.jvm_s": (cold - setup["session_s"] - setup["warmup_s"], "s"),
        "session.start_s": (setup["session_s"], "s"),
        "session.warmup_s": (setup["warmup_s"], "s"),
        "io.resolve_ms": (statistics.median(io["ms"]), "ms"),
        "io.resolve_jobs": (io["jobs"] / io["calls"], "jobs/call"),
        "queries.build_s": (sum(build_t), "s"),
        "queries.build_jobs": (phase("build", "jobs"), "count"),
        "queries.build_share": (sum(build_t) / wall if wall else 0.0, "ratio"),
        "plan.s": (sum(plan_t), "s"),
        "plan.p90_ms": (pct(plan_t, 0.9) * 1000, "ms"),
        "exec.s": (sum(act_t), "s"),
        "exec.jobs": (phase("action", "jobs"), "count"),
        "exec.stages": (phase("action", "stages"), "count"),
        "exec.tasks": (tasks, "count"),
        "exec.small_task_frac": (phase("action", "small_tasks") / tasks if tasks else 0.0,
                                 "ratio"),
        "exec.run_s": (run_s, "s"),
        "exec.cpu_s": (cpu_s, "s"),
        "exec.cpu_frac": (cpu_s / run_s if run_s else 0.0, "ratio"),
        "exec.gc_s": (phase("action", "gc_ms") / 1000.0, "s"),
        "exec.shuffle_read_mb": (phase("action", "shuffle_read") / mb, "MB"),
        "exec.shuffle_write_mb": (phase("action", "shuffle_write") / mb, "MB"),
        "exec.spill_mb": (phase("action", "spill") / mb, "MB"),
        "exec.peak_mem_mb": (max([counts[k]["peak_mem"] for k in phase_keys("action")],
                                 default=0) / mb, "MB"),
        "exec.failed_tasks": (phase("action", "failed_tasks"), "count"),
        "cache.rdds": (p["rdds"], "count"),
        "cache.mb": (max([c["mb"] for c in caches], default=0.0), "MB"),
        "cache.retained_mb": (p["retained_mb"], "MB"),
        "heap.peak_mb": (p["heap_peak_mb"], "MB"),
        "heap.live_peak_mb": (p["heap_live_peak_mb"], "MB"),
        "pipeline.batch_s": (pct([o["t"][1] - o["t"][0] for o in batches], 0.5), "s"),
        "pipeline.retry_s": (pct([o["t"][1] - o["t"][0] for o in retries], 0.5), "s"),
        "pipeline.jobs_per_batch": (phase("batch", "jobs") / n_batch, "jobs"),
        "pipeline.tasks_per_batch": (phase("batch", "tasks") / n_batch, "tasks"),
        "pipeline.survivor_frac": (sum(o.get("survivors", 0) for o in batches)
                                   / max(1, sum(o.get("rows", 0) for o in batches)),
                                   "ratio"),
        "pipeline.docs_per_s": (sum(o.get("rows", 0) for o in batches) / suite, "docs/s"),
        "registry.max_files_per_bucket": (max([r["max_files_per_bucket"] for r in regs],
                                              default=0), "count"),
        "registry.compactions": (compactions, "count"),
        "registry.live_mb": (sum(lanes_last.values()) / mb, "MB"),
        "registry.disk_mb": (disk / mb, "MB"),
        "registry.bytes_per_input_byte": (disk / text_bytes if text_bytes else 0.0, "ratio"),
        "split.front_share": (front / (front + back) if front + back else 0.0, "ratio"),
        "ops.p50_s": (pct([o["end"] - o["start"] for o in first], 0.5), "s"),
        "ops.p90_s": (pct([o["end"] - o["start"] for o in first], 0.9), "s"),
        "ops.task_s": (sum(c["run_ms"] for c in counts.values()) / 1000.0, "s"),
        "ops.failed_frac": (sum(not o["ok"] for o in ops) / max(1, len(ops)), "ratio"),
        "host.steal_frac": (host["steal_frac"], "ratio"),
        "host.load1": ((host["load1_start"] + host["load1_end"]) / 2, "load"),
        "host.probe_s": ((host["probe_before_s"] + host["probe_after_s"]) / 2, "s"),
        "trace.suite_s": (suite, "s"),
        "trace.hook_s": (p["hook_s"], "s"),
    }
    return m


def host_figures(before, after, records):
    """Steal share of the host's CPU time over the run, the load at its
    start and end, and the probe time before and after the pass."""
    (c0, l0), (c1, l1) = before, after
    d = [b - a for a, b in zip(c0, c1)]
    total = sum(d[:8]) or 1
    steal = d[7] if len(d) > 7 else 0
    probe = {r["when"]: r["s"] for r in by_type(records, "probe")}
    return {"steal_frac": steal / total, "load1_start": l0, "load1_end": l1,
            "probe_before_s": probe["before"], "probe_after_s": probe["after"]}


def prepare_ops(name, seed, work, queries):
    """Write the run's inputs into `work`; return the harness arguments."""
    if name == "ingest_batches":
        man = gen_data.ingest_batches(tables_dir(), f"{work}/ingest", seed,
                                      INGEST["batches"], INGEST["batch_size"])
        return {"ingest": f"{work}/ingest", "work": work,
                "buckets": INGEST["buckets"], "threshold": INGEST["threshold"],
                "retries": ",".join(map(str, INGEST["retries"]))}, man
    names = sorted(queries)
    random.Random(seed).shuffle(names)
    with open(f"{work}/ops.txt", "w") as f:
        f.write("\n".join(names) + "\n")
    return {"ops": f"{work}/ops.txt", "golden": f"{HERE}/golden.json"}, None


def run(name, seed, trace, force_fail=None, queries=None, timeout=RUN_TIMEOUT_S):
    """One benchmark run; returns (result dict, records, host figures).
    `queries` overrides the workload's frozen list (calibration only)."""
    if queries is None:
        wl = workloads()["workloads"]
        if name not in wl:
            raise SystemExit(f"unknown workload {name!r}; choose from {sorted(wl)}")
        queries = wl[name].get("pass")
    build.ensure()
    data = tables_dir()
    work = os.path.abspath(f"{build.BUILD}/work/{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    start = time.time()
    try:
        args, manifest = prepare_ops(name, seed, work, queries)
        args.update({"mode": "pass", "workload": name, "trace": int(trace),
                     "data": os.path.abspath(data)})
        if force_fail:
            args["fail"] = force_fail
        before = read_proc()
        records, popen_epoch = run_jvm(args, work, timeout - (time.time() - start))
        host = host_figures(before, read_proc(), records)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    text_bytes = sum(b["text_bytes"] for b in manifest["batches"]) if manifest else 0
    ops = by_type(records, "op")
    failed = [o for o in ops if not o["ok"]]
    metrics = per_layer(records, popen_epoch, host, text_bytes) if trace else \
        end_to_end(records, popen_epoch)
    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, records, host


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    result, records, host = run(a.workload, a.seed, a.trace)
    for o in by_type(records, "op"):
        if not o["ok"]:
            print(f"FAILED {o['name']} ({o['kind']}): {o['err']}")
    p = by_type(records, "pass")[0]
    print("wall", json.dumps({"suite_s": p["end"] - p["start"]}))
    print("host", json.dumps(host))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
