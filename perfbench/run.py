#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the benchmark first when their sources changed (see
build.py), then starts one JVM for the run. Everything the run writes stays
under `.bench_build/` in the checkout: the classes, a scratch root that is
deleted when the run ends, and the full result record (host facts,
provenance, tails with their percentile and sample count) under
`.bench_build/records/`, plus a span sidecar for traced runs. Exits non-zero,
without a result line, when the build is impossible.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("etl_records", "dedup_corpus", "table_ingest", "table_reads")


def git_commit():
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a TERM unwinds like an exception: the build's compiler or training
    # JVM (subprocess.run) and the benchmark JVM (below) are stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        src_hash = build.build()
    except build.BuildError as e:
        sys.stderr.write("perfbench: %s\n" % e)
        return 2
    scratch = os.path.join(build.OUT, "runs", "%s-%d-%d" % (args.workload, args.seed,
                                                           os.getpid()))
    records = os.path.join(build.OUT, "records")
    # one start-up path: the build made the archive, and the JVM fails
    # rather than start without it
    cmd = [build.java_bin()] + build.jvm_options(os.path.join(scratch, "tmp")) + [
        "-Xshare:on", "-XX:SharedArchiveFile=" + build.CDS_ARCHIVE,
        "-XX:ActiveProcessorCount=%d" % cores(),
        "-cp", build.classpath(), "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scratch", scratch, "--records", records,
        "--commit", git_commit(), "--src-hash", src_hash]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env)
    try:
        code = proc.wait()
    except BaseException:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        raise
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return code


if __name__ == "__main__":
    t0 = time.time()
    rc = main(sys.argv[1:])
    sys.stderr.write("perfbench: exit %d after %.1f s\n" % (rc, time.time() - t0))
    sys.exit(rc)
