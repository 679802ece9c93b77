#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <serve|index|curate|gates> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) into perfbench/target; later runs
reuse that build while the sources are unchanged. The harness runs in one
JVM with a local[nproc] Spark session and writes only under perfbench/work.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
STAMP = os.path.join(HERE, "target", "perfbench-classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def wait(proc, timeout, what):
    """Collect a child's stdout; past `timeout`, kill its whole process
    group (the child started a session of its own) and fail."""
    try:
        out, _ = proc.communicate(timeout=timeout)
        return out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{what} exceeded {timeout} s")


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project",
                                                           "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser(
                       "~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    proc = subprocess.Popen(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    out = wait(proc, BUILD_TIMEOUT_S, "build")
    if proc.returncode != 0:
        sys.stderr.write(out)
        fail(f"build failed with exit code {proc.returncode}")
    cps = [ln for ln in out.splitlines()
           if "target/scala-2.13/classes" in ln and not ln.startswith("[")]
    if not cps:
        fail("build printed no classpath")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(digest + "\n" + cps[-1].strip())
    return cps[-1].strip()


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec, {m["name"]: m["unit"] for m in spec["end_to_end"]}, \
        {m["name"]: m["unit"] for m in spec["per_layer"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found next to "
             "perfbench/; run from the root of a full checkout")
    spec, e2e, layers = declared_metrics()
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    cp = build()

    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java"] + [x for p in ADD_OPENS for x in
                      ("--add-opens", p + "=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", f"-Dspark.local.dir={tmp}",
        "-cp", cp, "perfbench.Main", "--workload", a.workload,
        "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", WORK]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    out = wait(proc, RUN_TIMEOUT_S, "run")
    lines = out.splitlines()
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        fail(f"harness exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    want = layers if a.trace == "1" else e2e
    got = result["metrics"]
    if a.trace == "1":  # a traced run's end-to-end figures carry tracing cost
        for name in e2e:
            got.pop(name, None)
    extra = set(got) - set(want)
    if extra:
        fail(f"metrics not declared in BENCHMARK.json: {sorted(extra)}")
    missing = set(want) - set(got)
    if a.trace == "0" and missing:
        fail(f"end-to-end metrics not reported: {sorted(missing)}")
    # a per-layer metric of a layer this workload does not run is zero
    for name in sorted(missing):
        got[name] = {"value": 0, "unit": want[name]}
    for name, m in got.items():
        if m["unit"] != want[name]:
            fail(f"metric {name} has unit {m['unit']}, declared {want[name]}")
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"],
                      "metrics": {k: got[k] for k in want}}))


if __name__ == "__main__":
    main()
