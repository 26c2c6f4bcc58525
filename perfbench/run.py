"""Benchmark entry point.

    python3 perfbench/run.py --workload cf_pipeline --seed 1 --seconds 20 --trace 0

Runs ``perfbench/harness.py`` in its own process group (it starts the
Spark JVM and Python workers), enforces the time limit, stops and waits
for every process of the group, deletes the run's scratch files and
relays the harness's output. The last stdout line is the result JSON;
without one (e.g. the engine package is missing) the exit code is 1.

A run measures one pass of fixed work over the workload's key list
(see perfbench/README.md); ``--seconds`` is accepted and recorded only.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
LIMIT_S = 170


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def _reap(child: subprocess.Popen) -> None:
    """Stop every process left in the child's group and wait until none
    remain (polling the child, so that it does not linger as a zombie)."""
    pgid = child.pid
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            child.poll()
            if not _group_alive(pgid):
                return
            time.sleep(0.05)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main() -> int:
    # A SIGTERM still reaps the harness's process group (see finally).
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    base = os.path.join(os.getcwd(), ".perfbench")
    run_dir = os.path.join(base, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    log_path = os.path.join(base, f"log-{a.workload}-seed{a.seed}-t{a.trace}.txt")
    cmd = [sys.executable, os.path.join(HERE, "harness.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--run-dir", run_dir]
    try:
        with open(log_path, "w") as log:
            child = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                     stdin=subprocess.DEVNULL, text=True,
                                     start_new_session=True)
            try:
                out, _ = child.communicate(timeout=LIMIT_S)
            except subprocess.TimeoutExpired:
                out = ""
                print(f"perfbench: run exceeded {LIMIT_S} s", file=sys.stderr)
            finally:
                _reap(child)
                child.wait()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        ok = child.returncode == 0 and set(result) == {
            "correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError):
        ok = False
    if not ok:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        print(f"perfbench: no result (harness exit {child.returncode}); "
              f"log: {log_path}", file=sys.stderr)
        return 1
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
