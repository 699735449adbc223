#!/usr/bin/env python3
"""Run one benchmark workload in a fresh JVM and print its result.

    python3 perfbench/run.py --workload etl_pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline, as the repository's own build
does); later runs reuse that build while the sources are unchanged. The
last line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`; a line before it starting with `#`
carries diagnostics (the run's CPU steal share). With `--trace 1` the
per-span trace is written to `perfbench/out/trace-<workload>-<seed>.json`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
STAMP = os.path.join(HERE, "target", "perfbench-build.json")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("etl_pipeline", "lake_curation")
# One workload per JVM, heap fixed (-Xms = -Xmx), local[2]: two task threads
# leave the other cores to the driver, the JIT and the collector, so a core
# the host takes away for a while slows a run less.
HEAP = "3g"
CORES = min(2, os.cpu_count() or 1)
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build with sbt unless the last build saw the same sources."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a checkout of the repository")
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            built = json.load(f)
        if built.get("digest") == digest:
            return built["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def cpu_times():
    """(steal, total) jiffies from /proc/stat, or None where unavailable."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return vals[7] if len(vals) > 7 else 0, sum(vals[:8])
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    cp = classpath()
    tag = f"{a.workload}-{a.seed}-{'traced' if a.trace == '1' else 'plain'}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    log_path = os.path.join(OUT, f"{tag}.log")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--cores", str(CORES)]
    # Spark prefers these over spark.local.dir; keep every scratch file in the run's work dir.
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    before = cpu_times()
    cmd += ["--t0-ms", str(int(time.time() * 1000))]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                                    stdin=subprocess.DEVNULL, text=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s; log in {log_path}")
        after = cpu_times()
        if a.trace == "1" and os.path.exists(os.path.join(work, "trace.json")):
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(OUT, f"trace-{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"run exited {proc.returncode} without a result; log in {log_path}")
    if proc.returncode != 0:
        fail(f"run exited {proc.returncode}; log in {log_path}")
    if before and after and after[1] > before[1]:
        print(f"# steal_share={(after[0] - before[0]) / (after[1] - before[1]):.4f}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
