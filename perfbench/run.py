#!/usr/bin/env python3
"""Benchmark launcher: runs one workload in a fresh worker process.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Run from the repository root.  The worker (``perfbench/worker.py``) gets
the repository root on ``PYTHONPATH`` -- a ``sys.path`` insert alone
does not reach the Python-worker daemon Spark forks, so UDF tasks would
fail to import the package -- and ``SPARK_GRAFT_CPUS`` = min(2, visible
cores).  Everything the run writes (Spark scratch, stores, temp files)
lives under ``.perfbench_run/`` in the current directory and is removed
when the run ends; traced runs leave their spans there as JSON lines.

The last stdout line is the result object ``{"correct", "attempted",
"failed", "metrics"}``; the line before it carries diagnostics (sample
counts, host stamps).  Exit code 0 only when the worker printed a
result.
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

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
# Ceiling on cores and heap: requests are fixed-overhead bound (local[2]
# was as fast as local[4] for all but routed stats), and the host is shared.
MAX_CPUS = 2
DRIVER_MEMORY = "2g"
WORKER_TIMEOUT_S = 170


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "rhq_metrics_spark", "__init__.py")):
        print("perfbench: run from the repository root "
              "(rhq_metrics_spark/ not found)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_run", f"{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cpus = max(1, min(MAX_CPUS, os.cpu_count() or 1,
                      len(os.sched_getaffinity(0))))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PERFBENCH_T0": repr(time.time()),
        "PYTHONHASHSEED": "0",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
    })
    os.makedirs(env["TMPDIR"], exist_ok=True)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work]
    # own session: the JVM and the Python-worker daemon are descendants,
    # so one killpg reaches every process the run started
    proc = subprocess.Popen(cmd, env=env, cwd=root, stdout=subprocess.PIPE,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: worker timed out", file=sys.stderr)
        out = b""
    finally:
        _kill_group(proc)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    lines = out.decode(errors="replace").strip().splitlines()
    result = _last_result(lines)
    if proc.returncode != 0 or result is None:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        print(f"perfbench: worker failed (exit {proc.returncode})",
              file=sys.stderr)
        return 1
    for line in lines:
        print(line)
    return 0


def _last_result(lines):
    if not lines:
        return None
    try:
        obj = json.loads(lines[-1])
    except json.JSONDecodeError:
        return None
    keys = {"correct", "attempted", "failed", "metrics"}
    return obj if isinstance(obj, dict) and set(obj) == keys else None


def _kill_group(proc) -> None:
    """Stop every process of the worker's session and reap the worker."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 5
        while time.time() < deadline:
            proc.poll()  # reap the worker, or it lingers as a zombie
            if not _group_alive(proc.pid):
                break
            time.sleep(0.1)
        if not _group_alive(proc.pid):
            break
    proc.wait()


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


if __name__ == "__main__":
    sys.exit(main())
