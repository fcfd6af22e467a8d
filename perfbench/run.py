"""Benchmark launcher: one workload, one fresh process, one result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It pins the session environment —
``SPARK_GRAFT_CPUS`` to this host's usable cores (so ``local[N]`` and
N shuffle partitions), ``PYTHONPATH`` to the repository root so Python
UDF workers import the engine, and every temp, spill and event-log
directory to ``.perfbench_work/`` under the root — then runs
``perfbench.workloads`` in a new session, relays its output,
and removes the scratch directory and any process left in the session.
The last stdout line is the result object.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_export", "kg_query", "analytics_mix")
#: The child must finish inside the 180 s a run is allowed.
CHILD_TIMEOUT_S = 165
REQUIRED = ("wd2duckdb_spark/__init__.py", "tools/gen_dump.py", "tools/check_correctness.py")


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``. PySpark's worker daemon moves
    to its own process group, so the session is what holds everything
    the child started."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, _ppid, _pgrp, session = stat[stat.rindex(")") + 2 :].split()[:4]
        if int(session) == sid and state != "Z":
            pids.append(int(name))
    return pids


def _reap(sid: int) -> None:
    """Kill whatever is left in the child's session and wait until
    none of it runs."""
    deadline = time.monotonic() + 10
    while (pids := _session_pids(sid)) and time.monotonic() < deadline:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = p.parse_args()

    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: not a repository checkout, missing {missing}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "PYTHONPATH": ROOT,
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    env.pop("OMP_NUM_THREADS", None)
    cmd = [
        sys.executable,
        "-m",
        "perfbench.workloads",
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", work,
    ] + (["--tiny"] if args.tiny else [])
    child = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True
    )
    try:
        out, _ = child.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        _reap(child.pid)
        child.communicate()
        print(f"perfbench: {args.workload} exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        _reap(child.pid)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if child.returncode != 0:
        sys.stderr.write(out)
        print(f"perfbench: {args.workload} exited {child.returncode}", file=sys.stderr)
        return 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
