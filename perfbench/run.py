#!/usr/bin/env python3
"""graft benchmark: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a source checkout. The first run builds graft and
the benchmark driver from source with sbt (offline) into perfbench/target;
later runs reuse that build while the sources are unchanged. Each run
starts its own JVM, which generates its inputs from the seed, sets up,
measures for the given seconds, checks every result against its own
model, and prints one JSON result record as the last line of stdout.
Run records, span files and per-layer ledgers land in perfbench/_work.
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
WORK = os.path.join(HERE, "_work")
STAMP = os.path.join(HERE, "target", "perfbench-build.json")
WORKLOADS = ("oltp_point", "olap_lineage", "cdc_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (as in graft's build.sbt).
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
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
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


def build():
    """Compile graft and the driver unless the stamp matches the sources;
    return the runtime classpath."""
    digest = source_hash()
    try:
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("sources") == digest:
            return stamp["classpath"]
    except (OSError, ValueError):
        pass
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building graft and the benchmark driver", file=sys.stderr)
    try:
        out = subprocess.run(
            [sbt, "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-5000:])
        fail("build failed")
    classpath = lines[-1].strip()
    if not classpath.startswith("/") or ".jar" not in classpath:
        sys.stderr.write(out.stdout[-5000:])
        fail("build printed no classpath")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    tmp = STAMP + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"sources": digest, "classpath": classpath}, fh)
    os.replace(tmp, STAMP)
    return classpath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found under %s; run from a source checkout"
             % os.path.join(ROOT, "src", "main", "scala"))
    classpath = build()

    os.makedirs(WORK, exist_ok=True)
    for n in os.listdir(WORK):  # leftovers of an interrupted run
        if n.startswith("run-") or n == "tmp":
            shutil.rmtree(os.path.join(WORK, n), ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail("benchmark JVM exited with %d" % proc.returncode)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("last line is not a result record: " + lines[-1][:200])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result record")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
