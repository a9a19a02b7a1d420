#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/harness) from source with the Scala compiler that ships
in the Spark distribution ($SPARK_HOME/jars, else the jar directory
build.sbt names), into .bench_build/perfbench/classes-<digest>.

    python3 perfbench/build.py          # prints the classes directory

The digest covers every source and resource file, so an unchanged tree is
built once and a changed one is rebuilt. sbt is not used: it would add its
start-up time to every fresh checkout, and the compiler plus every library
the engine needs are already among the Spark jars.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(REPO, ".bench_build", "perfbench")
SOURCE_DIRS = ("src/main/scala", "perfbench/harness")
RESOURCES = "src/main/resources"


def spark_jars():
    """$SPARK_HOME/jars, else the unmanaged jar directory build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(REPO, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise RuntimeError(f"Spark jars not found at '{jars}' (set SPARK_HOME)")
    return jars


def _files(rel_dir, suffix=""):
    root = os.path.join(REPO, rel_dir)
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(suffix):
                yield os.path.relpath(os.path.join(d, n), REPO)


def inputs():
    """Every file the build reads, as sorted repo-relative paths."""
    files = [f for d in SOURCE_DIRS for f in _files(d, ".scala")]
    return sorted(files + list(_files(RESOURCES)))


def source_digest():
    h = hashlib.sha256()
    for rel in inputs():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(REPO, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Return the classes directory for the current tree, compiling it if needed."""
    if not os.path.isfile(os.path.join(REPO, "src/main/scala/graft/SparkEntry.scala")):
        raise RuntimeError("engine sources (src/main/scala) not found next to perfbench/")
    jars = spark_jars()
    digest = source_digest()[:16]
    target = os.path.join(OUT, f"classes-{digest}")
    if os.path.isfile(os.path.join(target, ".complete")):
        return target
    os.makedirs(OUT, exist_ok=True)
    tmp = f"{target}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    srcs = [os.path.join(REPO, f) for f in inputs() if f.endswith(".scala")]
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources into {target}", file=log)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("scalac failed:\n" + res.stdout[-4000:])
    for rel in _files(RESOURCES):
        dst = os.path.join(tmp, os.path.relpath(rel, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(os.path.join(REPO, rel), dst)
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(target, ignore_errors=True)
    os.rename(tmp, target)
    for old in os.listdir(OUT):
        if old.startswith("classes-") and os.path.join(OUT, old) != target:
            shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    return target


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
