#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload lambda_batch --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark driver from source with sbt (once per
source state), generates the input tables (once per generator state),
then runs one JVM that sets up, warms up and times closed-loop passes.
Everything it writes stays under perfbench/.work and the sbt target
directories. `--write-expected` records the current tree's results as the
workload's expected record instead of checking against it.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# the BENCHMARK.json workloads, then diagnostic ones (see README.md)
WORKLOADS = ["lambda_batch", "curation_x10", "lambda_all", "curation_x1"]
# datagen.py arguments: scale factor, documents, embeddings
DATA_ARGS = ["0.005", "500", "250"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def tree_digest(paths):
    """sha256 over the names and bytes of every file under `paths`."""
    h = hashlib.sha256()
    files = []
    for p in paths:
        if os.path.isfile(p):
            files.append(p)
        for d, _, names in os.walk(p):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_logged(cmd, cwd, env, log, timeout):
    """Run `cmd` in its own process group with output to `log`; kill the
    whole group on timeout. Returns the exit code, or None on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build():
    """Compile engine + driver when their sources changed; return the
    runtime classpath."""
    stamp = tree_digest([
        os.path.join(ROOT, "build.sbt"),
        os.path.join(ROOT, "project", "build.properties"),
        os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
        os.path.join(HERE, "project", "build.properties"),
        os.path.join(HERE, "src", "main")])
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    log = os.path.join(WORK, "build.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], HERE, env, log,
                    BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if "scala-2.13" in l and os.pathsep in l
          and not l.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {rc}); log in {log}")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def ensure_data():
    """Generate the base tables unless the generator and its arguments are
    unchanged; the STAMP names the generated bytes."""
    base = os.path.join(WORK, "data", "base")
    gen = os.path.join(HERE, "datagen.py")
    key = tree_digest([gen]) + " " + " ".join(DATA_ARGS)
    key_file = os.path.join(base, "KEY")
    if os.path.exists(key_file):
        with open(key_file) as f:
            if f.read() == key:
                return base
    tmp = base + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    subprocess.run([sys.executable, gen, tmp] + DATA_ARGS, check=True,
                   timeout=300)
    h = hashlib.sha256()
    for n in sorted(os.listdir(tmp)):
        with open(os.path.join(tmp, n), "rb") as f:
            h.update(n.encode() + hashlib.sha256(f.read()).digest())
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write("datagen-" + h.hexdigest()[:16])
    with open(os.path.join(tmp, "KEY"), "w") as f:
        f.write(key)
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "data", "x10"), ignore_errors=True)
    os.rename(tmp, base)
    return base


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-expected", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found beside the "
            "benchmark; run from a full checkout", 2)
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    data = ensure_data()
    run = os.path.join(WORK, "run")
    for d in ("tmp", "warehouse", "spark-local"):
        shutil.rmtree(os.path.join(run, d), ignore_errors=True)
        os.makedirs(os.path.join(run, d))
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    expected = os.path.join(HERE, "expected", f"{a.workload}.tsv")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # The JIT is the JVM's default. A fixed heap with the parallel collector
    # keeps peak RSS and pass times repeatable on a small host; G1's
    # adaptive heap sizing made them differ run to run.
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", run]
    cmd += ["--write-expected", expected] if a.write_expected \
        else ["--expected", expected] if os.path.exists(expected) else []
    log = os.path.join(WORK, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    out = log + ".out"
    t0 = time.time()
    with open(out, "w") as o, open(log, "w") as e:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=o, stderr=e,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"run exceeded {RUN_TIMEOUT_S} s; log in {log}")
    with open(out) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    if rc != 0 or not lines:
        with open(log) as f:
            sys.stderr.write("\n".join(f.read().splitlines()[-40:]) + "\n")
        die(f"run failed (exit {rc}) after {time.time() - t0:.0f} s; log in {log}")
    json.loads(lines[-1])  # the result line must parse
    print("\n".join(lines))


if __name__ == "__main__":
    main()
