#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload, measured from outside
the engine.

    python3 perfbench/run.py --workload olap|pipeline --seed N --seconds S --trace 0|1

Run it from the repository root (or anywhere: paths are resolved from this
file). It builds the engine and the harness from source if the tree changed
(build.py), starts one fresh JVM with an empty layout root, Spark local dir
and working directory under .bench_build/perfbench/runs/, and deletes them
afterwards. The JVM (harness/graft/perfbench/Harness.scala) sets up the
workload, runs an untimed warm-up pass and then timed passes for --seconds
(workloads.py says which queries, layouts and inputs); --seed permutes
the query order of every pass and is never seen by the engine. Every query's row count, schema and content digest are compared with
expected/<data>/<workload>.json.

Output: one row of end-to-end metrics (or, with --trace 1, per-layer
metrics), a `perfbench-record` line with the host fingerprint, and as the
last line one JSON object {correct, attempted, failed, metrics}. The exit
code is 0 only if every output matched. With --trace 1 the span tree and
per-layer metrics are also written to --trace-out (default
.bench_build/perfbench/traces/<workload>-<seed>.json), the input of
compare.py.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import spantree  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

REPO = build.REPO
RUNS = os.path.join(build.OUT, "runs")
TRACES = os.path.join(build.OUT, "traces")
# Tuning and diagnostic switches of the engine; a benched run must use the
# defaults, so their presence is refused rather than silently inherited.
REFUSED = ("SPARK_GRAFT_ADVISORY_MB", "SPARK_GRAFT_COALESCE", "SPARK_GRAFT_STREAM_SHUFFLE",
           "SPARK_GRAFT_CC_SHUFFLE", "SPARK_GRAFT_BENCH_REPS")
# A run must end within 180 s; keep a margin for start-up and clean-up.
JVM_LIMIT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def refused_env():
    return sorted(k for k in os.environ
                  if k in REFUSED or (k.startswith("SPARK_GRAFT_") and k.endswith("_DIAG")))


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def driver_heap_gb():
    """SPARK_DRIVER_MEM as the project's test command derives it: half of
    MemTotal, clamped to 2..8 GiB."""
    return min(8, max(2, mem_total_kb() // 2097152))


def nproc():
    return len(os.sched_getaffinity(0))


def git_commit():
    """HEAD of the repository this benchmark sits in, or None outside git."""
    try:
        out = subprocess.run(["git", "-C", REPO, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or \
            os.path.realpath(lines[0]) != os.path.realpath(REPO):
        return None
    return lines[1]


def declared():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([(m["name"], m["unit"]) for m in b["end_to_end"]],
            [(m["name"], m["unit"]) for m in b["per_layer"]])


class PeakRss(threading.Thread):
    """Polls VmHWM (the kernel's peak resident set) of the JVM from outside."""

    def __init__(self, pid):
        super().__init__(daemon=True)
        self.pid, self.kb, self.stop = pid, 0, threading.Event()

    def run(self):
        path = f"/proc/{self.pid}/status"
        while not self.stop.is_set():
            try:
                with open(path) as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.kb = max(self.kb, int(line.split()[1]))
            except OSError:
                return
            self.stop.wait(0.05)


def run_jvm(classes, args, run_dir, log_path):
    for sub in ("layouts", "local", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    jars = os.path.join(build.spark_jars(), "*")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", f"-Xmx{driver_heap_gb()}g", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir}/layouts",
              f"-Dspark.local.dir={run_dir}/local",
              f"-Dspark.sql.warehouse.dir={run_dir}/work/spark-warehouse",
              "-Dderby.system.home=" + f"{run_dir}/work",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", f"{classes}:{jars}", "graft.perfbench.Harness"] + args)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = f"{run_dir}/local"
    spawn_ms = time.time() * 1e3
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=os.path.join(run_dir, "work"), env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        rss = PeakRss(p.pid)
        rss.start()
        try:
            rc = p.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, 9)
                p.wait()
            rss.stop.set()
            rss.join()
    return rc, spawn_ms, rss.kb


def check_outputs(rec, expected):
    """Failures per query sample: an error, or a row count, schema or digest
    that differs from the expected value."""
    bad = []
    for p in [rec["warmup"]] + rec["passes"]:
        for q in p["queries"]:
            e = expected.get(q["name"])
            why = None
            if not q["ok"]:
                why = q["error"]
            elif e is None:
                why = "no expected value"
            elif q["schema"] != e["schema"]:
                why = f"schema {q['schema']!r} != {e['schema']!r}"
            elif e["rows"] is not None and q["rows"] != e["rows"]:
                why = f"rows {q['rows']} != {e['rows']}"
            elif e["digest"] is not None and q["digest"] != e["digest"]:
                why = f"digest {q['digest']} != {e['digest']}"
            if why:
                bad.append((p["label"], q["name"], why))
    return bad


def end_to_end(rec, wl, spawn_ms, rss_kb, data_dir):
    fig = spantree.pass_figures(rec)
    walls = fig["walls"]
    src = sum(os.path.getsize(os.path.join(data_dir, f"{t}.parquet")) for t in wl["tables"])
    # a p90 is reported only where at least ten samples lie beyond it
    p90 = statistics.quantiles(walls, n=10)[8] if len(walls) >= 100 else None
    m = {
        "setup_s": (rec["setup_end_ms"] - spawn_ms) / 1e3,
        "pass_s": fig["pass_s"],
        "pass_cpu_s": fig["pass_cpu_s"],
        "query_p50_s": statistics.median(walls) if walls else float("nan"),
        "layout_amp": rec["layout_bytes"] / src,
    }
    info = {"query_samples": len(walls), "query_p90_s": p90, "passes": fig["passes"],
            "peak_rss_mb": rss_kb / 1024.0}
    return m, info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", help="input scale under perfbench/data (default: the workload's)")
    ap.add_argument("--trace-out", help="where --trace 1 writes the span tree")
    ap.add_argument("--record-checks", help="write the observed per-query checks here "
                    "instead of comparing them (used by capture_expected.py)")
    a = ap.parse_args()

    bad_env = refused_env()
    if bad_env:
        fail(f"refusing to run with engine tuning/diagnostic variables set: {', '.join(bad_env)}")
    wl = WORKLOADS[a.workload]
    data = a.data or wl["data"]
    data_dir = os.path.join(HERE, "data", data)
    if not os.path.isdir(data_dir):
        fail(f"no input data at {data_dir}")
    try:
        e2e_decl, layer_decl = declared()
    except (OSError, ValueError, KeyError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    expected = None
    if not a.record_checks:
        exp_path = os.path.join(HERE, "expected", data, f"{a.workload}.json")
        if not os.path.isfile(exp_path):
            fail(f"no expected outputs at {exp_path}")
        with open(exp_path) as f:
            expected = json.load(f)["queries"]
    try:
        classes = build.build()
    except RuntimeError as e:
        fail(f"build failed: {e}")

    run_dir = os.path.join(RUNS, f"{a.workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "record.json")
    log = os.path.join(run_dir, "jvm.log")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data_dir, "--out", out, "--cpus", str(nproc()),
            "--queries", ",".join(wl["queries"]), "--layouts", ",".join(wl["layouts"])]
    try:
        rc, spawn_ms, rss_kb = run_jvm(classes, args, run_dir, log)
        if rc != 0 or not os.path.isfile(out):
            with open(log, errors="replace") as f:
                tail = f.read()[-6000:]
            fail(f"harness JVM {'timed out' if rc is None else f'exited {rc}'}; log tail:\n{tail}")
        with open(out) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.record_checks:
        checks = [dict(q, label=p["label"]) for p in [rec["warmup"]] + rec["passes"]
                  for q in p["queries"]]
        with open(a.record_checks, "w") as f:
            json.dump(checks, f)
        bad = [(q["label"], q["name"], q["error"]) for q in checks if not q["ok"]]
    else:
        bad = check_outputs(rec, expected)
    timed = [q for p in rec["passes"] for q in p["queries"]]
    failed = sum(1 for lbl, _, _ in bad if lbl != "warmup")
    for lbl, name, why in bad:
        print(f"[perfbench] output check failed: {lbl} {name}: {why}", file=sys.stderr)

    fingerprint = {
        "nproc": nproc(), "mem_total_kb": mem_total_kb(), "heap_gb": driver_heap_gb(),
        "jdk": rec.get("java_version"), "spark": rec.get("spark_version"),
        "git_commit": git_commit(), "source_digest": build.source_digest()[:16],
        "workload": a.workload, "seed": a.seed, "data": data, "trace": a.trace,
    }
    if a.trace:
        tree = spantree.Tree(rec)
        values = spantree.per_layer(rec, tree)
        values["jvm.peak_rss_mb"] = rss_kb / 1024.0
        decl = layer_decl
        trace_out = a.trace_out or os.path.join(TRACES, f"{a.workload}-{a.seed}.json")
        os.makedirs(os.path.dirname(os.path.abspath(trace_out)), exist_ok=True)
        with open(trace_out, "w") as f:
            json.dump({"fingerprint": fingerprint, "metrics": values,
                       "spans": tree.spans, "record": {k: v for k, v in rec.items()
                                                       if k not in ("spans", "jobs", "stages",
                                                                    "catalyst", "stream_batches")}},
                      f)
        info = {"trace_out": os.path.relpath(trace_out, REPO)}
    else:
        values, info = end_to_end(rec, wl, spawn_ms, rss_kb, data_dir)
        decl = e2e_decl
    missing = [n for n, _ in decl if n not in values]
    if missing:
        fail(f"metrics declared in BENCHMARK.json but not computed: {missing}")
    info["fail_frac"] = failed / max(1, len(timed))
    metrics = {n: {"value": values[n], "unit": u} for n, u in decl}
    row = " | ".join(f"{n}={v['value']:.6g} {v['unit']}" for n, v in metrics.items())
    extra = f" | fail_frac={info['fail_frac']:.6g} ratio ({failed}/{len(timed)})"
    if not a.trace:
        p90 = info["query_p90_s"]
        extra += (f" | query_p90_s={p90:.6g} s" if p90 is not None else " | query_p90_s=n/a") + \
            f" (n={info['query_samples']} query samples, {info['passes']} passes)" + \
            f" | peak_rss_mb={info['peak_rss_mb']:.6g} MiB"
    print(f"{a.workload}: {row}{extra}")
    print("perfbench-record " + json.dumps({"host": fingerprint, "info": info,
                                            "metrics": metrics}))
    print(json.dumps({"correct": not bad, "attempted": len(timed), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if not bad else 1)


if __name__ == "__main__":
    main()
