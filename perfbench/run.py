#!/usr/bin/env python3
"""Benchmark entry point: build the program and the harness, run one workload.

    python3 perfbench/run.py --workload exec_small --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --test             # the harness's own tests
    python3 perfbench/run.py --record-digests   # rewrite reference/query_digests.tsv

Run from the root of a checkout. The first run compiles the root sbt
project together with the harness (perfbench/harness) and caches the
classpath keyed by a hash of every source and build file; later runs
start the JVM directly. The last stdout line is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Scratch files go to perfbench/work, which is emptied at the start of
each run; reports and spans stay in perfbench/work/out.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HARNESS = os.path.join(BENCH, "harness")
WORK = os.path.join(BENCH, "work")
CP_FILE = os.path.join(HARNESS, "target", "bench-classpath.txt")
WORKLOADS = ("exec_small", "query_suite")
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit (the list the root build uses)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, from the program and the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    return [f for f in files if os.path.isfile(f)]


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt(*commands, capture=False):
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", *commands]
    return subprocess.run(cmd, cwd=HARNESS, env=sbt_env(), text=True,
                          stdout=subprocess.PIPE if capture else sys.stderr,
                          stderr=sys.stderr)


def classpath():
    """The harness classpath, building first when any source changed."""
    want = stamp()
    if os.path.isfile(CP_FILE):
        with open(CP_FILE) as f:
            have, cp = f.read().split("\n", 1)
        if have == want:
            return cp.strip()
    r = sbt("compile", "export Runtime/fullClasspath", capture=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout)
        fail("build failed", 3)
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CP_FILE), exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(want + "\n" + cp + "\n")
    return cp


def java(cp, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--bench-dir", BENCH, "--work", WORK, *args]
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    log_path = os.path.join(WORK, "out", "jvm-stderr.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; JVM log in {log_path}", 4)
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {proc.returncode}", 5)
    return out


def reset_work():
    if os.path.isdir(WORK):
        keep = os.path.join(WORK, "out")
        for e in os.listdir(WORK):
            p = os.path.join(WORK, e)
            if p != keep:
                shutil.rmtree(p) if os.path.isdir(p) and not os.path.islink(p) else os.remove(p)
    os.makedirs(WORK, exist_ok=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--test", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program sources here ({need} missing); run from a checkout of the repository")
    if a.test:
        sys.exit(sbt("test").returncode)

    t0 = time.time()
    cp = classpath()
    print(f"perfbench: classpath ready in {time.time() - t0:.1f} s", file=sys.stderr)
    reset_work()
    if a.record_digests:
        out = os.path.join(BENCH, "reference", "query_digests.tsv")
        java(cp, ["--record-digests", out])
        return
    if not a.workload:
        fail("--workload is required")
    out = java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace)])
    lines = [l for l in out.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if lines else {}
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("the harness printed no result")
    for l in lines[:-1]:
        print(l)
    # keep only reports and spans
    reset_work()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
