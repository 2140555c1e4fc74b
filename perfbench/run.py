#!/usr/bin/env python3
"""Runs one benchmark workload once and prints its report.

    python3 perfbench/run.py --workload point_query --seed 1 --seconds 6 --trace 0

Run from the root of a graft checkout. The first run compiles (build.py).
Each run holds an exclusive lock, so two runs never overlap, starts one JVM
with a fixed command line over the compiled classes, works in a fresh
scratch directory under .bench_scratch/ and removes it at exit.

Standard output: a host line (steal seconds and 1-min load), the JVM's
context line, and as the last line one JSON object with `correct`,
`attempted`, `failed` and `metrics`. A run that fails prints no result and
exits non-zero.
"""
import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 165


def steal_s():
    """host-wide CPU time stolen by the hypervisor so far, in seconds"""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return 0.0


def jvm_cmd(jar, archive, scratch, a):
    return (["java", "-XX:SharedArchiveFile=" + archive] + build.jvm_options(scratch)
            + ["-cp", build.classpath(jar), "graft.perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--dir", scratch])


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=build.WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if a.seconds < 1:
        p.error("--seconds must be at least 1")

    def stop(signum, frame):
        raise SystemExit(128 + signum)

    # from here on a SIGTERM unwinds, so the compiler or JVM child is
    # stopped and the scratch directory removed
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    os.makedirs(os.path.join(build.ROOT, ".bench_build"), exist_ok=True)
    lock = open(os.path.join(build.ROOT, ".bench_build", "perfbench.lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    jar, archive = build.ensure()

    scratch_root = os.path.join(build.ROOT, ".bench_scratch")
    os.makedirs(scratch_root, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=scratch_root)
    os.makedirs(os.path.join(scratch, "tmp"))
    proc = None
    try:
        steal0, load0 = steal_s(), load1()
        proc = subprocess.Popen(jvm_cmd(jar, archive, scratch, a), stdout=subprocess.PIPE,
                                text=True, start_new_session=True, cwd=scratch)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit("perfbench: run exceeded %d s" % JVM_TIMEOUT_S)
        lines = [ln for ln in out.splitlines() if ln.strip()]
        if proc.returncode != 0 or not lines:
            sys.exit("perfbench: JVM exited with %s" % proc.returncode)
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            sys.exit("perfbench: malformed result line")
        host = {"steal_s": round(steal_s() - steal0, 3), "load1_start": load0}
        print(json.dumps({"host": host}))
        for ln in lines[:-1]:
            print(ln)
        print(json.dumps(result))
    finally:
        if proc is not None and proc.poll() is None:
            for sig, wait in ((signal.SIGTERM, 10), (signal.SIGKILL, 30)):
                try:
                    os.killpg(proc.pid, sig)
                    proc.wait(timeout=wait)
                    break
                except (ProcessLookupError, subprocess.TimeoutExpired):
                    pass
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
