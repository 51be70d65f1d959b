#!/usr/bin/env python3
"""Run one benchmark workload of the graft.index engine.

    python3 perfbench/run.py --workload serve-read --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (sbt, in
perfbench/), then runs the workload in a fresh JVM. The last line of
standard output is the JSON result; the run record (and, with --trace 1,
the span file) is written under perfbench/out/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main")
STAMP = os.path.join(HERE, "target", "perfbench-build.json")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("serve-read", "serve-fleet", "ingest-churn")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Spark on JDK 17 needs these outside spark-submit (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ENGINE, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(sources):
    """Compile with sbt unless the stamp says these sources are built."""
    try:
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp["sources"] == sources and all(os.path.exists(p) for p in stamp["classpath"]):
            return stamp["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-6000:])
        fail(f"sbt build failed with exit code {p.returncode}")
    lines = [l.strip() for l in p.stdout.splitlines() if os.pathsep in l and not l.startswith("[")]
    if not lines:
        sys.stderr.write(p.stdout[-3000:])
        fail("sbt printed no classpath")
    classpath = lines[-1].split(os.pathsep)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"sources": sources, "classpath": classpath}, fh)
    return classpath


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return ""
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return p.stdout.strip() if p.returncode == 0 else ""


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE, "scala", "graft", "index")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE)}; run from a full checkout")

    sources = source_hash()
    classpath = build(sources)
    work = os.path.join(OUT, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dperfbench.commit={git_commit()}", f"-Dperfbench.sources={sources}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--out", OUT, "--work", work]
    log_path = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.stderr.log")
    try:
        with open(log_path, "w") as log:
            child = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = child.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                child.kill()
                out, _ = child.communicate()
                print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s and was stopped", file=sys.stderr)
                sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if child.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        print(f"perfbench: run failed with exit code {child.returncode}", file=sys.stderr)
        sys.exit(1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result line", file=sys.stderr)
        sys.exit(1)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
