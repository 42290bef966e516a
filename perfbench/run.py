#!/usr/bin/env python3
"""Benchmark runner for the file-transfer pipeline (see perfbench/README.md).

Usage:
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the harness from source on first
use (sbt, offline; the build compiles ../src/main/scala together with
perfbench/src), then runs one JVM for one workload/seed and prints, as
its last stdout line, one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Exits non-zero without a result line if the build or the run fails.
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
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("ingest_local", "ingest_remote", "stream_dedup")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the harness build reads, in a stable order."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, stdout):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=subprocess.STDOUT if stdout else None,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    """Compiles the harness + program; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("program sources (src/main/scala) not found "
                           "next to perfbench/")
    want = stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    log("building harness (sbt compile)")
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        HERE, env, BUILD_TIMEOUT_S, subprocess.PIPE)
    text = out.decode("utf-8", "replace")
    lines = [l for l in text.splitlines() if l.strip()]
    if code != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(text[-4000:])
        raise RuntimeError(f"build failed (exit {code})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    # let the machine settle before the first run's timed windows: flush
    # the build's dirty pages, then wait (runs right after a build read
    # 10-20% slow without the wait)
    os.sync()
    time.sleep(15)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    result = os.path.join(run_dir, "result.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            "-Dsun.net.httpserver.nodelay=true",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-XX:ErrorFile=" + os.path.join(WORK, "hs_err_pid%p.log"),
            "-Dlog4j2.configurationFile="
            + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--work", run_dir, "--result", result])
    try:
        code, _ = run_group(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S, None)
        if code != 0 or not os.path.exists(result):
            raise RuntimeError(f"benchmark JVM failed (exit {code})")
        with open(result) as fh:
            line = fh.read().strip()
        json.loads(line)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(line, flush=True)


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # noqa: BLE001 - report and fail without a result
        log(f"error: {e}")
        sys.exit(2)
