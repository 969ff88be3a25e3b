#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the engine and
the benchmark with sbt (offline, from the local dependency caches) and
records the classpath; later runs reuse it while the sources are unchanged.
Each run then starts one JVM, which prints a report line and a result line;
this script relays the output and prints the result JSON last. Everything
the run writes stays under perfbench/work and the sbt target directories.

Exit codes: 0 with a result; non-zero, without a result, when the build or
the set-up fails (for instance outside a graft checkout).
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import threading
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / "work"
TARGET = BENCH / "target"
WORKLOADS = ("el_csv_ingest", "repl_fanout", "td_curation")
RESULT_PREFIX = "perfbench result "
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# A fixed, pre-touched heap: numbers compare across runs and hosts only at
# one heap size, and peak RSS then tracks native memory instead of the
# garbage collector's heap-growth decisions. No perf-data file, so the JVM
# writes nothing outside the checkout. C1 only: with the C2 tier, passes kept
# speeding up for 15 or more passes (30 s and more) while the optimising
# compiler worked through Spark's and graft's code on the same four cores,
# so a timing depended on how far compilation had got. C1 compiles within
# the first passes and the pass time is flat after them. C1 alone gets the
# 48m code cache of a JVM without tiers; Spark's generated classes filled
# that within 30 s, the JVM then stopped compiling, and a run could lose
# its SparkContext when no method-handle adapter could be made.
HEAP = "2g"
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn512m", "-XX:+AlwaysPreTouch",
             "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
             "-XX:ReservedCodeCacheSize=256m"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for base in (ROOT / "project", BENCH / "project"):
        files += sorted(base.glob("*.sbt")) + sorted(base.glob("*.properties"))
    for base in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt unless the recorded build matches the sources."""
    stamp = WORK / "build.stamp"
    cp_file, opts_file = TARGET / "bench.classpath", TARGET / "bench.jvmopts"
    digest = source_digest()
    if (stamp.is_file() and stamp.read_text() == digest
            and cp_file.is_file() and opts_file.is_file()):
        return cp_file.read_text().strip(), opts_file.read_text().split()
    print("perfbench: building (sbt)", file=sys.stderr, flush=True)
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
            cwd=BENCH, env=sbt_env(), stdin=subprocess.DEVNULL,
            stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode})")
    WORK.mkdir(parents=True, exist_ok=True)
    stamp.write_text(digest)
    return cp_file.read_text().strip(), opts_file.read_text().split()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    # a terminated run unwinds through the clean-up below, which stops sbt
    # or the JVM and waits for it, instead of leaving it running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not ((ROOT / "build.sbt").is_file()
            and (ROOT / "src" / "main" / "scala" / "graft").is_dir()):
        fail(f"{ROOT} is not a graft checkout (no build.sbt or engine sources)")
    classpath, jvm_opts = build()

    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}"] + jvm_opts +
           ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", str(WORK)])
    # Spark prefers SPARK_LOCAL_DIRS over its own conf for shuffle and
    # block files; keep them inside the checkout too
    env = dict(os.environ, SPARK_DRIVER_MEM=HEAP, SPARK_LOCAL_DIRS=str(tmp))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    # a hung JVM is killed, which also ends the read loop below
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith(RESULT_PREFIX):
                result = json.loads(line[len(RESULT_PREFIX):])
            else:
                sys.stdout.write(line)
    finally:
        if proc.poll() is None and result is None:
            proc.kill()
        proc.wait()
        watchdog.cancel()
    if proc.returncode != 0 or result is None:
        fail(f"run failed (exit {proc.returncode})")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
