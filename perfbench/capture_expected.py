#!/usr/bin/env python3
"""Capture the expected outputs that run.py checks every query against.

    python3 perfbench/capture_expected.py [--data sf0.01] [WORKLOAD ...]

For each workload (default: all) it runs `run.py --record-checks` RUNS
times, each with another seed, and writes expected/<data>/<workload>.json.

A query's row count and content digest are stored only if they are the same
in every sample; a value that varies is stored as null, and the query is
listed under "relaxed" as held to what did repeat. A schema that varies, or
a query that fails, aborts the capture. Capture only from engine code whose
oracle check passes (graft.Verify followed by tools/selfcheck.py).
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Runs per workload; each contributes the warm-up and one timed pass.
RUNS = 2


def record(workload, data, seed, out):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "0", "--trace", "0", "--data", data,
           "--record-checks", out]
    print("[capture] " + " ".join(cmd[1:]), file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    with open(out) as f:
        return json.load(f)


def merge(samples):
    by_query = {}
    for q in samples:
        if not q["ok"]:
            sys.exit(f"[capture] {q['name']} failed: {q['error']}")
        by_query.setdefault(q["name"], []).append(q)
    queries, relaxed = {}, {}
    for name, qs in sorted(by_query.items()):
        schemas = {q["schema"] for q in qs}
        if len(schemas) != 1:
            sys.exit(f"[capture] {name}: schema varies across samples: {sorted(schemas)}")
        rows = {q["rows"] for q in qs}
        digests = {q["digest"] for q in qs}
        same_rows = len(rows) == 1
        e = {"schema": schemas.pop(), "samples": len(qs),
             "rows": rows.pop() if same_rows else None,
             "digest": digests.pop() if same_rows and len(digests) == 1 else None}
        queries[name] = e
        if e["rows"] is None:
            relaxed[name] = "schema only: row count varies"
        elif e["digest"] is None:
            relaxed[name] = "row count and schema only: content digest varies"
    return queries, relaxed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--data", default="sf0.01")
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    unknown = set(a.workloads) - set(WORKLOADS)
    if unknown:
        sys.exit(f"[capture] unknown workloads {sorted(unknown)}")
    os.makedirs(build.OUT, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=build.OUT) as tmp:
        for w in a.workloads or sorted(WORKLOADS):
            samples = [q for seed in range(1, RUNS + 1)
                       for q in record(w, a.data, seed, os.path.join(tmp, f"{w}{seed}.json"))]
            queries, relaxed = merge(samples)
            path = os.path.join(HERE, "expected", a.data, f"{w}.json")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                json.dump({"data": a.data, "workload": w, "relaxed": relaxed,
                           "queries": queries}, f, indent=1, sort_keys=True)
                f.write("\n")
            print(f"[capture] {path}: {len(queries)} queries, {len(relaxed)} relaxed "
                  f"({', '.join(sorted(relaxed)) or 'none'})", file=sys.stderr)


if __name__ == "__main__":
    main()
