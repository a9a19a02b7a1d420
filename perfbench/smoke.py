#!/usr/bin/env python3
"""Smoke check of the benchmark harness itself, on the sf0.001 inputs.

    python3 perfbench/smoke.py [WORKLOAD ...]

For each workload it makes one untraced and one traced run of a single pass
(`run.py --data sf0.001 --seconds 0`) and passes when:
  - every run exits 0 with correct=true and failed=0 (fail_frac = 0);
  - every metric BENCHMARK.json declares is printed, with its declared unit;
  - in the trace, every span lies inside its parent (within spantree.TOL_MS);
  - per timed query, the self times of everything under its construct and
    sink spans add up to the query's measured wall, and the harness's own
    work inside the query span (schema, reading the observation) stays
    within the same tolerance: max(QUERY_TOL_S, QUERY_TOL_FRAC x wall).
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import spantree  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

QUERY_TOL_S, QUERY_TOL_FRAC = 0.010, 0.02


def subtree_self(spans, children, sid):
    return spans[sid]["self"] + sum(subtree_self(spans, children, c) for c in children[sid])


def check_trace(path):
    with open(path) as f:
        t = json.load(f)
    spans = t["spans"]
    children = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] >= 0:
            children[s["parent"]].append(s["id"])
    errs = spantree.containment_errors(spans)
    walls = {(p["label"], q["name"]): q["wall_s"]
             for p in t["record"]["passes"] for q in p["queries"]}
    for s in spans:
        if s["kind"] != "query" or not (s["pass"] or "").startswith("p"):
            continue
        parts = [c for c in children[s["id"]] if spans[c]["kind"] in ("construct", "sink")]
        total = sum(subtree_self(spans, children, c) for c in parts)
        wall = walls[(s["pass"], s["name"])]
        tol = max(QUERY_TOL_S, QUERY_TOL_FRAC * wall)
        if abs(total - wall) > tol:
            errs.append(f"query {s['name']}: self times sum to {total:.4f} s, wall {wall:.4f} s")
        span_s = (s["end"] - s["start"]) / 1e3
        if span_s - wall > tol:
            errs.append(f"query {s['name']}: harness time outside construct and sink "
                        f"{span_s - wall:.4f} s")
    return errs


def run(workload, trace, declared):
    trace_out = os.path.join(build.OUT, "smoke", f"{workload}.json")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "0", "--trace", str(trace), "--data", "sf0.001",
           "--trace-out", trace_out]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = res.stdout.strip().splitlines()
    errs = []
    if res.returncode != 0 or not lines:
        return [f"run.py exited {res.returncode}"]
    out = json.loads(lines[-1])
    if not out["correct"] or out["failed"] != 0:
        errs.append(f"correct={out['correct']} failed={out['failed']}")
    want = declared["per_layer" if trace else "end_to_end"]
    for m in want:
        got = out["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"),
                                                                          (int, float)):
            errs.append(f"metric {m['name']} missing or without unit {m['unit']}: {got}")
    if trace:
        errs += check_trace(trace_out)
    return errs


def main(argv):
    with open(os.path.join(build.REPO, "BENCHMARK.json")) as f:
        declared = json.load(f)
    failures = 0
    for w in argv[1:] or sorted(WORKLOADS):
        for trace in (0, 1):
            errs = run(w, trace, declared)
            print(f"[smoke] {w} trace={trace}: {'ok' if not errs else 'FAILED'}")
            for e in errs[:20]:
                print(f"[smoke]   {e}")
            failures += bool(errs)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
