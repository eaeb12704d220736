#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (build.py),
then runs the workload in one JVM with Spark sized to the machine
(`local[nproc]`). Progress goes to stderr; the last line of stdout is one
JSON object with the keys correct, attempted, failed and metrics. Exits
nonzero without a result line when the build or the run fails, and
nonzero with a result line when an answer was wrong.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("serve", "ingest")
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # inplace: re-ingest changed memories without retracting their old
    # pairs first, which reproduces the engine's stale-pair defect
    ap.add_argument("--reingest", choices=("retract", "inplace"), default="retract")
    a = ap.parse_args()
    # a termination signal unwinds through the `finally` below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    try:
        java_opts = build.build()
    except SystemExit as e:
        sys.stderr.write("[perfbench] build failed: %s\n" % e)
        return 2
    cmd = ["java"] + java_opts
    cmd += ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", repr(a.seconds), "--trace", str(a.trace), "--reingest", a.reingest]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=build.jvm_env(), stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.stderr.write("[perfbench] run exceeded %d s\n" % RUN_TIMEOUT_S)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for l in (lines[:-1] if result is not None else lines):
        sys.stderr.write(l + "\n")
    if result is None:
        sys.stderr.write("[perfbench] no result (exit code %d)\n" % proc.returncode)
        return proc.returncode or 4
    print(json.dumps(result))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
