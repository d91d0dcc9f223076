#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload <price_log|corpus_dedup>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) into perfbench/target; later runs
reuse the build while the sources are unchanged. The last line of stdout
is one JSON object: correct, attempted, failed and metrics (end-to-end
with --trace 0, per-layer with --trace 1). Exit status is non-zero when
an op failed, an answer was wrong, or the run could not be made.
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
TARGET = os.path.join(BENCH, "target")
BUILD_INFO = os.path.join(TARGET, "perfbench-build.json")
WORKLOADS = ("price_log", "corpus_dedup")
# A run must end within 180 s; leave room to stop the JVM and clean up.
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
HEAP = "3g"
# A fixed-size heap with the parallel collector, so that memory and GC
# work do not follow heap-resizing heuristics; a first metaspace limit
# high enough that class loading sets off no full GC; no perf-data file
# outside the checkout; and hot code compiled sooner than by default, so
# that a short warm-up reaches steady-state code and the timed loop does
# not drift with JIT compilation.
JVM_OPTS = [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:MetaspaceSize=256m",
    "-XX:-UsePerfData",
    "-XX:Tier3InvocationThreshold=100", "-XX:Tier3MinInvocationThreshold=50",
    "-XX:Tier3CompileThreshold=1000", "-XX:Tier4InvocationThreshold=2000",
    "-XX:Tier4MinInvocationThreshold=300", "-XX:Tier4CompileThreshold=3000",
]
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
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true"
        " -Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
        " -Dsbt.offline=true -Xmx2g")
    # keep sbt's own state (server socket, global settings) in the checkout
    env["SBT_OPTS"] = (opts + " -XX:-UsePerfData -Dsbt.server.autostart=false"
                       " -Dsbt.global.base=" + os.path.join(TARGET, "sbt-global"))
    return env


def build(stamp):
    """Compile with sbt; return the runtime classpath."""
    if os.path.exists(BUILD_INFO):
        with open(BUILD_INFO) as fh:
            info = json.load(fh)
        if info.get("stamp") == stamp:
            return info["classpath"]
    os.makedirs(TARGET, exist_ok=True)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    classpath = lines[-1].strip()
    with open(BUILD_INFO, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath,
                   "build_s": round(time.time() - t0, 1)}, fh)
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    return classpath


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    stamp = source_stamp()
    classpath = build(stamp)

    nproc = os.cpu_count() or 1
    work = os.path.join(BENCH, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    # Same IO policy on every side of a comparison: FastLocalFs (raw
    # local FS, no .crc checksum sidecars, no fsync on close).
    env["SPARK_GRAFT_FAST_LOCAL_FS"] = "1"
    env["SPARK_LOCAL_DIRS"] = tmp
    info = {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", "unset"),
        "heap": HEAP,
        "jvm_opts": " ".join(JVM_OPTS),
        "SPARK_GRAFT_FAST_LOCAL_FS": env["SPARK_GRAFT_FAST_LOCAL_FS"],
        "checksum": "off (FastLocalFs, no .crc sidecars)",
        "flush": "close without fsync (OS page cache)",
        "git_commit": git_commit(),
        "source_sha256": stamp,
        "trace": int(a.trace),
    }
    cmd = (["java"] + JVM_OPTS + [
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    for l in lines:
        if l.startswith("{"):
            obj = json.loads(l)
            if "perfbench_info" in obj:
                obj["perfbench_info"].update(info)
                l = json.dumps(obj)
            print(l)
            if "metrics" in obj:
                result = obj
    if result is None:
        fail(f"{a.workload} printed no result (exit {proc.returncode})")
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
