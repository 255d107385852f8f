#!/usr/bin/env python3
"""Self-test of the benchmark on the sf0.001 base (one tile per table).

Runs every workload of BENCHMARK.json once traced and once untraced, each
with the shortest window (two timed passes, three when traced), and asserts:
  - the run is correct and prints every metric BENCHMARK.json names for its
    mode, each with its unit;
  - in every traced pass the span self times add up to the pass wall time
    within TOLERANCE_S + TOLERANCE_SHARE * wall.

Usage: python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TOLERANCE_S = 0.005
TOLERANCE_SHARE = 0.001


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "0", "--trace", str(trace), "--tiles", "1"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise AssertionError("%s trace=%d exited %d: %s" % (
            workload, trace, p.returncode, p.stderr[-2000:]))
    return json.loads(lines[-1]), lines


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    errors = []
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            before = len(errors)
            try:
                res, lines = run(w, trace)
            except AssertionError as e:
                errors.append(str(e))
                continue
            if not res["correct"] or res["failed"]:
                errors.append("%s trace=%d: %d of %d steps failed" % (
                    w, trace, res["failed"], res["attempted"]))
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] \
                        or not isinstance(got.get("value"), (int, float)):
                    errors.append("%s trace=%d: metric %s missing or without unit %s: %s" % (
                        w, trace, m["name"], m["unit"], got))
            extra = set(res["metrics"]) - {m["name"] for m in spec[key]}
            if extra:
                errors.append("%s trace=%d: metrics not in BENCHMARK.json: %s" % (
                    w, trace, sorted(extra)))
            if trace:
                path = [ln.split(": ", 1)[1] for ln in lines if ln.startswith("trace: ")]
                doc = json.load(open(os.path.join(ROOT, path[0])))
                if not doc["passes"]:
                    errors.append("%s: no traced pass" % w)
                for p in doc["passes"]:
                    tol = TOLERANCE_S + TOLERANCE_SHARE * p["wall_s"]
                    if abs(p["self_sum_s"] - p["wall_s"]) > tol:
                        errors.append("%s: span self times sum to %.4f s, pass wall %.4f s" % (
                            w, p["self_sum_s"], p["wall_s"]))
                    if any(s["self_us"] < 0 for s in doc["spans"]):
                        errors.append("%s: negative span self time" % w)
            print("%s trace=%d %s" % (w, trace, "ok" if len(errors) == before else "FAILED"))
    for e in errors:
        print("FAIL " + e)
    print("selftest: %s" % ("FAILED" if errors else "passed"))
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
