#!/usr/bin/env python3
"""Extraction benchmark: one workload at one seed, printed as one JSON line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pdf_only --seed 1 --seconds 6 --trace 0

The first run builds the program and the benchmark from the checkout's
sources with sbt (offline) into `.bench_build/` and `target/` directories;
later runs reuse that build while the sources are unchanged. The JVM side
(`graft.perfbench.Main`) does the measuring; this script builds, launches it
with a fixed heap, keeps its logs and cleans up its work directory.
`--docs N` shrinks the workload's corpus stream, for the self-check only.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
LAUNCH = BUILD / "launch.txt"
STAMP = BUILD / "sources.sha256"
WORKLOADS = ("crawl_mix", "pdf_only", "html_only", "crawl_resume")
# a fixed heap: a growing one keeps the job's throughput moving long after
# the JIT has settled, most of all with the JVM pinned to one core; no
# perf-data file, which the JVM would otherwise write outside the checkout
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    """Everything the build reads from the checkout."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def sources_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def built(digest):
    """The last build is of these sources and its outputs are still there."""
    if not (LAUNCH.exists() and STAMP.exists() and STAMP.read_text() == digest):
        return False
    classpath = LAUNCH.read_text().split("\n")[1]
    return all(Path(p).exists() for p in classpath.split(os.pathsep))


def build():
    digest = sources_digest()
    if built(digest):
        return
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "-Dsbt.server.autostart=false",
           "writeLaunch"]
    log = BUILD / "build.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                                stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"build timed out; see {log}")
    if code != 0 or not LAUNCH.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail("build failed")
    STAMP.write_text(digest)


def run_jvm(args, work):
    opts, classpath = LAUNCH.read_text().split("\n")[:2]
    cmd = ["java", *opts.split("\x01"), *JVM_FLAGS, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", classpath, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work)]
    if args.docs:
        cmd += ["--docs", str(args.docs)]
    (work / "tmp").mkdir(parents=True)
    log = BUILD / "logs" / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    log.parent.mkdir(exist_ok=True)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run timed out; see {log}")
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--docs", type=int, default=0)
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("run from the root of a checkout of the program (no build.sbt or src/main here)")
    build()
    work = BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        lines = run_jvm(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
