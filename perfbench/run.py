#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds graft and the
benchmark from source with sbt (about a minute) and caches the classpath
under `.bench_build/`; later runs reuse it while the sources are unchanged.
Each run then starts one JVM (`perfbench.Main`) and relays its output: the
last line of standard output is the result as one JSON object. All
scratch data lives under `.bench_build/` and is removed when the run ends;
a traced run leaves its spans in `.bench_build/traces/`.
The exit code is non-zero if the build fails, the sources are missing, or
any operation or correctness check fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("log_ingest", "kv_serve", "ann_index")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as
# graft's own build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# The JIT's C1 tier only. A run's window lasts tens of seconds, too short
# for C2 to finish compiling Spark's planner and scheduler: on a 4-core
# guest the compiler threads spent 25-40 s of compile time in a 16 s
# `log_ingest` window and kept 3-4 cores busy. With them, a window measures
# how far the JIT got and how hard it competed with the program for the
# processors, and the same run on the same seed moved by 30 %. C1 finishes
# during the warm-up and leaves the cores to the program. Hot compute
# loops run slower than under C2, so a change that only speeds up code
# C2 would have optimized may read smaller here.
JIT = "-XX:TieredStopAtLevel=1"


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", HERE / "build.sbt",
             ROOT / "project" / "build.properties", HERE / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def build():
    """Compiles graft and the benchmark if their sources changed; returns
    the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no graft source tree at {ROOT}: run from the root of a checkout")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = digest.hexdigest()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "classpath.stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()

    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export perfbench/Runtime/fullClasspath"]
    print("[perfbench] building graft and the benchmark with sbt", file=sys.stderr)
    try:
        out = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                             stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    except FileNotFoundError:
        fail("sbt is not on PATH")
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed (sbt exit {out.returncode})")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")

    classpath = build()
    tmp = BUILD / f"tmp-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx2g", JIT, f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--root", str(BUILD / "runs")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    # a terminated runner still stops and reaps the JVM (see `finally`)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    if proc.returncode != 0:
        print(f"[perfbench] run failed with exit code {proc.returncode}", file=sys.stderr)
        sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
