"""Link-graph benchmark: one run of one workload.

    python3 perfbench/run.py --workload contract_sf01 --seed 1 --seconds 30 --trace 0

Run from the repository root. Builds the engine and the benchmark's JVM
program (build.py), forks a fresh local[4] JVM with a fixed pre-touched heap that
sets up the seeded inputs and runs the workload's timed section once
through the engine's public API, checks every result with the
engine-independent checker (check.py), and prints one JSON object as the
last line of standard output. With --trace 0 it reports the end-to-end
metrics; with --trace 1 the per-layer span counters, and it writes the
span file under <build dir>/traces/. See NOTES.md.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import build  # noqa: E402
import check  # noqa: E402

HEAP = {"contract_sf01": "4g", "powerlaw_1m": "5g"}
JVM_TIMEOUT_S = 150

SPANS = ["graph.fold_dict", "graph.adjacency", "sources.repo_graph", "engine.pagerank", "engine.risk",
         "engine.resume", "algo.cc", "algo.lpa", "algo.triangles", "algo.clustering", "analytics.metrics",
         "analytics.high_risk"]
COUNTERS = [("wall_s", "s"), ("driver_s", "s"), ("task_s", "s"), ("stages", "count"), ("shuffle_mb", "MB"),
            ("spill_mb", "MB"), ("gc_s", "s"), ("skew", "ratio")]
ENGINE_SPANS = ["engine.pagerank", "engine.risk", "engine.resume"]
BUILD_SPANS = ["graph.fold_dict", "graph.adjacency", "sources.repo_graph"]
# Counts that must repeat exactly for a given workload and seed.
REPEAT_KEYS = ["n", "m", "blocks", "edge_fingerprint", "repo_n", "repo_m", "repo_blocks",
               "repo_edge_fingerprint", "pagerank_supersteps", "pagerank_call_supersteps", "checkpoint_supersteps",
               "checkpoint_supersteps_per_job"] + \
              [f"{s}.supersteps" for s in ENGINE_SPANS]

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def run_jvm(cp, args, out, trace_file):
    cmd = ["java", f"-Xms{HEAP[args.workload]}", f"-Xmx{HEAP[args.workload]}", "-XX:+AlwaysPreTouch",
           "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", ":".join(cp), "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--trace", str(args.trace), "--out", out, "--trace-file", trace_file]
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=log, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM failed ({rc})")
    with open(os.path.join(out, "summary.json")) as f:
        return json.load(f)


def repeat_check(bdir, cp, args, summary):
    """Counts for one seed and build must repeat run to run; the first run records them."""
    counts = {k: summary["counts"][k] for k in REPEAT_KEYS if k in summary["counts"]}
    counts["input_checksums"] = summary["input_checksums"]
    build_id = "-".join(os.path.basename(p) for p in cp[:2])
    path = os.path.join(bdir, "counts", build_id, f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if not os.path.exists(path):
        with open(path + f".{os.getpid()}", "w") as f:
            json.dump(counts, f, sort_keys=True)
        os.replace(path + f".{os.getpid()}", path)
        return []
    with open(path) as f:
        before = json.load(f)
    return [k for k in sorted(set(before) | set(counts)) if before.get(k) != counts.get(k)]


def end_to_end(summary):
    wall = summary["span_wall_s"]
    counts = summary["counts"]
    pagerank_s = summary["metrics"]["pagerank_s"]
    return {
        "setup_s": (statistics.median(summary["setup_s"]), "s"),
        "build_s": (sum(wall.get(s, 0.0) for s in BUILD_SPANS), "s"),
        "pagerank_s": (pagerank_s, "s"),
        "edges_per_s": (counts["m"] * counts["pagerank_supersteps"] / pagerank_s, "1/s"),
        "analytics_s": (summary["metrics"]["analytics_s"], "s"),
        "total_s": (summary["total_s"], "s"),
        "heap_peak_mb": (summary["heap_peak_mb"], "MB"),
    }


def per_layer(summary):
    spans = summary.get("spans", {})
    out = {}
    for s in SPANS:
        for c, unit in COUNTERS:
            out[f"{s}.{c}"] = (spans.get(s, {}).get(c, 0.0), unit)
    for s in ENGINE_SPANS:
        out[f"{s}.supersteps"] = (summary["counts"].get(f"{s}.supersteps", 0), "count")
        out[f"{s}.s_per_superstep"] = (summary["s_per_superstep"].get(s, 0.0), "s")
    out["trace.total_s"] = (summary["total_s"], "s")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(HEAP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: engine sources src/main/scala/graft not found")
    bdir = build.build_dir(root)
    cp = build.ensure_built(root)

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}-{int(time.time())}"
    out = os.path.join(bdir, "runs", run_id)
    trace_file = os.path.join(bdir, "traces", run_id + ".jsonl")
    os.makedirs(out)
    os.makedirs(os.path.dirname(trace_file), exist_ok=True)
    try:
        t0 = time.monotonic()
        summary = run_jvm(cp, args, out, trace_file)
        t1 = time.monotonic()
        counts = summary["counts"]
        report = check.check(args.workload, os.path.join(out, "input-2"), os.path.join(out, "res"), counts)
        if not summary["input_checksums_repeat"]:
            report.check("setup", "inputs identical across set-up rounds", False)
        drift = repeat_check(bdir, cp, args, summary)
        report.check("graph.fold_dict", "counts repeat for this seed", not drift, f"changed: {drift}")
        t2 = time.monotonic()
    finally:
        shutil.rmtree(out, ignore_errors=True)

    for op, name, ok, detail in report.results:
        print(f"{'ok  ' if ok else 'FAIL'} {op:22s} {name}" + ("" if ok else f"  ({detail})"))
    ops = set(SPANS) & set(summary["span_wall_s"])
    failed = len(report.failed_ops())
    host = {k: summary[k] for k in ("host_start", "host_end")}
    print(f"host {json.dumps(host)}  tracing={'on' if args.trace else 'off'} total_s={summary['total_s']:.3f}")
    print("counts " + json.dumps({k: counts[k] for k in ("n", "m", "blocks", "repo_n", "repo_m", "pagerank_supersteps")
                                  if k in counts}))
    print(f"jvm_s={t1 - t0:.1f} check_s={t2 - t1:.1f} setup_rounds_s={summary['setup_s']} "
          f"untimed_s={summary['untimed_s']}")
    print("pagerank_walls_s " + json.dumps([round(x, 3) for x in summary["pagerank_walls_s"]]))
    print("span wall_s " + json.dumps({k: round(v, 3) for k, v in summary["span_wall_s"].items()}))
    metrics = per_layer(summary) if args.trace else end_to_end(summary)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
