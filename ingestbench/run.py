"""CDC ingest benchmark: capture decode, streaming backfill, binlog trickle.

Usage, from the root of a checkout:

    python3 ingestbench/run.py --workload capture_decode --seed 1 \\
        --seconds 12 --trace 0

Runs one workload in a child process of its own session, with a hard
time limit; on exit no process it started is left running, and its
scratch directory (under ``.ingestbench/`` in the checkout) is gone.
The last line of standard output is the JSON result (see ``main.py``).
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HARD_LIMIT_S = 170
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("capture_decode", "stream_backfill", "binlog_trickle")


def _group_alive(child: subprocess.Popen) -> bool:
    child.poll()  # reap the group leader, so that it is not a zombie
    try:
        os.killpg(child.pid, 0)
        return True
    except ProcessLookupError:
        return False


def _reap_group(child: subprocess.Popen) -> None:
    """Stop every process left in the child's process group and wait
    until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(child):
            return
        try:
            os.killpg(child.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5
        while _group_alive(child) and time.time() < deadline:
            time.sleep(0.05)


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the checker self-test (see selftest.py)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "informixcdc_spark",
                                       "__init__.py")):
        print(f"ingestbench: the informixcdc_spark package is not in {ROOT}; "
              "run from the root of a checkout of the repository",
              file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".ingestbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    spans = os.path.join(base, "spans",
                         f"{args.workload}-seed{args.seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env.update({
        "INGESTBENCH_T0": repr(t0),
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
                      if p]),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "tmp"),
        "SPARK_DRIVER_MEM": _driver_mem(),
        "PYTHONDONTWRITEBYTECODE": "1",
        # the same set and dict order of strings in every run
        "PYTHONHASHSEED": "0",
    })
    cmd = [sys.executable, os.path.join(HERE, "main.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--spans", spans] + (
               ["--selftest"] if args.selftest else [])
    # a SIGTERM to this process still stops the child's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = child.wait(timeout=max(1.0, HARD_LIMIT_S - (time.time() - t0)))
    except subprocess.TimeoutExpired:
        print(f"ingestbench: {args.workload} exceeded {HARD_LIMIT_S} s; "
              "stopped", file=sys.stderr)
        code = 3
    except KeyboardInterrupt:
        code = 130
    finally:
        _reap_group(child)
        child.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


def _driver_mem() -> str:
    """Driver heap that fits the host: a quarter of its memory, at most
    3 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh
                            if line.startswith("MemTotal:")).split()[1])
    return f"{max(512, min(3072, total_kb // 4096))}m"


if __name__ == "__main__":
    sys.exit(main())
