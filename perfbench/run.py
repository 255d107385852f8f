#!/usr/bin/env python3
"""Benchmark of the dvmax Spark engine: builds the program from source,
generates the workload's inputs from the seed, runs one workload in a single
Spark driver (local[4], 7g heap) for whole timed passes until --seconds have
passed, checks every output, and prints one JSON line of metrics as the last
line of stdout.

Usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads, metrics and the layer map are described in perfbench/README.md.
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
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build
import digest
import gen

# inputs per workload: tiles of the sf0.001 base, the duplicate share of the
# document corpus, and which customers (the pipeline's tickers) are kept
WORKLOADS = {
    "ticker_store": {"tiles": 1, "dup_pct": 0, "customer_every": 3},
    "curation": {"tiles": 2, "dup_pct": 45, "customer_every": 1},
}
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("peak_rss_mb", "MB")]
TEXT_BUILDERS = ["simhash64", "shingle_min_hash", "winnowing_fingerprint"]
BUILDERS = TEXT_BUILDERS + ["cosine", "dot", "pq_encode_codes", "pq_lut", "nearest_cells"]
PER_LAYER = [
    ("queries.build_s", "s"), ("plan.analysis_s", "s"), ("plan.optimization_s", "s"),
    ("plan.planning_s", "s"), ("plan.executions", "count"), ("plan.codegen_compiles", "count"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.stages_skipped", "count"),
    ("sched.tasks", "count"), ("sched.driver_gap_s", "s"), ("exec.task_run_s", "s"),
    ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"), ("exec.slot_busy_share", "ratio"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.shuffle_wait_s", "s"), ("exec.spill_mb", "MB"), ("exec.peak_task_mem_mb", "MB"),
    ("core.input_mb", "MB"), ("core.input_rows", "count"),
    ("core.rows_read_per_row_out", "ratio"), ("core.rdds_materialized", "count"),
    ("core.rdds_unpersisted", "count"), ("core.rdds_live_after", "count"),
    ("sinks.write_s", "s"), ("sinks.hash_s", "s"), ("sinks.bytes_written_mb", "MB"),
    ("sinks.files_written", "count"), ("sinks.store_bytes_per_row", "bytes"),
    ("sinks.store_write_amp", "ratio"),
] + [("functions.%s_rows_per_s" % b, "1/s") for b in BUILDERS] + [
    ("bench.consume_s", "s"), ("bench.trace_overhead_s", "s"), ("bench.failed_share", "ratio"),
]
JVM_TIMEOUT_S = 160


def jvm(cp, work, args):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed 1g young generation: with G1's adaptive sizing the eden a pass
    # fills, and with it the peak RSS, varied by +-30 % between runs
    cmd = build.java(cp, work, "7g", "perfbench.Harness", args)
    cmd.insert(2, "-Xmn1g")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        raise SystemExit("harness failed: %s" % rc)


def check(passes, warm, oracle, sizes):
    """Marks each timed step failed or not; returns (attempted, failed, reasons).
    Rows-only queries must digest the same in the warm-up and every timed pass."""
    rows_only = {}
    for p in warm + passes:
        for s in p["steps"]:
            if s["kind"] == "query" and s["name"] not in oracle:
                rows_only.setdefault(s["name"], set()).add(s["digest"])
    attempted, failed, reasons = 0, 0, []
    for p in passes:
        for s in p["steps"]:
            attempted += 1
            why = None
            if s["error"]:
                why = s["error"]
            elif s["jobs"] == 0:
                why = "launched no Spark job"
            elif s["kind"] == "query" and s["name"] in oracle:
                if s["digest"] != oracle[s["name"]]:
                    why = "digest %s != oracle %s" % (s["digest"], oracle[s["name"]])
            elif s["kind"] == "query":
                if len(rows_only[s["name"]]) != 1:
                    why = "rows-only digest differs between passes"
            elif s["kind"] == "builder":
                table = "documents" if s["name"] in TEXT_BUILDERS else "embeddings"
                want = sizes[table] * int(s["extra"]["times"])
                if s["rows"] != want:
                    why = "drained %d rows, expected %d" % (s["rows"], want)
            elif s["rows"] <= 0:
                why = "store step wrote no rows"
            if why:
                failed += 1
                reasons.append("pass %d %s: %s" % (p["index"], s["name"], why))
    return attempted, failed, reasons


def step_s(s):
    return s["build_s"] + s["consume_s"] + s["write_s"] + s["hash_s"]


def store_metric(passes, f):
    vals = []
    for p in passes:
        st = {s["name"]: s for s in p["steps"]}
        if "store_write" in st and "store_refresh" in st:
            vals.append(f(st))
    return statistics.median(vals) if vals else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiles", type=int, default=None,
                    help="override the workload's input size (the self-test uses 1)")
    a = ap.parse_args()
    cfg = dict(WORKLOADS[a.workload])
    if a.tiles is not None:
        cfg["tiles"] = a.tiles
    cp = build.ensure()
    # set-up is timed from here: compiling the program is not part of it
    t_start = time.time()
    work = os.path.join(build.OUT, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        sizes = gen.generate(inputs, a.seed, cfg["tiles"], cfg["dup_pct"], cfg["customer_every"])
        out = os.path.join(work, "result.json")
        spans = os.path.join(build.OUT, "traces", "%s-seed%d.json" % (a.workload, a.seed))
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        jvm(cp, work, ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--inputs", inputs,
                       "--work", work, "--out", out, "--spans", spans])
        res = json.load(open(out))
        setup_s = res["ready_epoch_us"] / 1e6 - t_start
        t_oracle = time.time()
        oracle = digest.oracle_digests(inputs, res["oracle_sql"], os.path.join(work, "tmp"))
        t_oracle = time.time() - t_oracle
        passes = res["passes"]
        attempted, failed, reasons = check(passes, res["warm"], oracle, sizes)
        for r in reasons:
            print("FAILED " + r)
        plain = [p for p in passes if not p["traced"]]
        if a.trace:
            traced = [p for p in passes if p["traced"]]
            metrics = {}
            for name, unit in PER_LAYER:
                vals = [p["layers"][name] for p in traced if name in p["layers"]]
                metrics[name] = {"value": statistics.median(vals) if vals else 0.0, "unit": unit}
            metrics["sinks.store_bytes_per_row"]["value"] = store_metric(
                traced, lambda st: st["store_write"]["extra"]["store_bytes"] / st["store_write"]["rows"])
            metrics["sinks.store_write_amp"]["value"] = store_metric(
                traced, lambda st: st["store_refresh"]["extra"]["written_bytes"]
                / st["store_refresh"]["extra"]["batch_bytes"])
            metrics["bench.trace_overhead_s"]["value"] = (
                statistics.median(p["pass_s"] for p in traced)
                - statistics.median(p["pass_s"] for p in plain))
            metrics["bench.failed_share"]["value"] = failed / attempted
            print("trace: " + os.path.relpath(spans, ROOT))
        else:
            values = {
                "setup_s": setup_s,
                "pass_s": statistics.median(p["pass_s"] for p in plain),
                "peak_rss_mb": statistics.median(p["rss_mb"] for p in plain),
            }
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
        names = [s["name"] for s in passes[0]["steps"]]
        print("step seconds, median of timed passes: " + " ".join(
            "%s=%.3f" % (n, statistics.median(step_s(p["steps"][i]) for p in passes))
            for i, n in enumerate(names)))
        print("passes: %d timed (%s), oracle %.1f s, inputs %s" % (
            len(passes), ", ".join("%.3f" % p["pass_s"] for p in passes), t_oracle,
            json.dumps(sizes, sort_keys=True)))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"), os.path.join(build.OUT, "last-jvm.log"))
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
