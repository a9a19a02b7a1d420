#!/usr/bin/env python3
"""Compare two traced benchmark runs, layer by layer.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are trace files written by `run.py --trace 1` (see --trace-out)
or directories of them; files are matched by workload. For every workload
found on both sides it prints each per-layer metric -- including the
self_s.<layer> self times, a layer's span time minus its child spans -- as
base value, new value and new/base ratio, so a change can show in which
layer its saving landed. Metrics equal to 0 on both sides are left out.
"""
import json
import os
import sys


def load(path):
    files = [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".json")] \
        if os.path.isdir(path) else [path]
    runs = {}
    for f in files:
        with open(f) as fh:
            t = json.load(fh)
        if "fingerprint" in t and "metrics" in t:
            runs.setdefault(t["fingerprint"]["workload"], t)
    return runs


def fmt(v):
    return f"{v:.6g}" if isinstance(v, (int, float)) else "-"


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    base, new = load(argv[1]), load(argv[2])
    common = [w for w in base if w in new]
    if not common:
        print("no workload present in both traces", file=sys.stderr)
        return 1
    for w in common:
        b, n = base[w], new[w]
        bf, nf = b["fingerprint"], n["fingerprint"]
        print(f"== {w}: base {bf.get('git_commit') or bf.get('source_digest')} seed {bf['seed']}"
              f" | new {nf.get('git_commit') or nf.get('source_digest')} seed {nf['seed']}")
        if (bf["nproc"], bf["mem_total_kb"]) != (nf["nproc"], nf["mem_total_kb"]):
            print(f"   hosts differ: {bf['nproc']} cpus/{bf['mem_total_kb']} kB vs "
                  f"{nf['nproc']} cpus/{nf['mem_total_kb']} kB")
        print(f"   {'metric':<34} {'base':>14} {'new':>14} {'ratio':>8}")
        for k in b["metrics"]:
            bv, nv = b["metrics"][k], n["metrics"].get(k)
            if not bv and not nv:
                continue
            ratio = f"{nv / bv:.3f}" if bv and nv is not None else "-"
            print(f"   {k:<34} {fmt(bv):>14} {fmt(nv):>14} {ratio:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
