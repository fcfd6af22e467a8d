"""Per-label task counters from an uncompressed Spark event log.

The traced run labels every layer call with its own job group and
records the call's wall-clock window. Each completed task is charged to
the label of the job that ran its stage: the job's ``spark.jobGroup.id``
when it carries a known label, else the recorded window that contains
the job's submission time (jobs started from helper threads, such as
ingest's sink pool or broadcast exchanges, do not inherit the caller's
job group).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

COUNTERS = (
    "tasks",
    "run_ms",
    "cpu_ms",
    "gc_ms",
    "spill_bytes",
    "input_bytes",
    "shuffle_write_bytes",
)


def find_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {names}")
    return os.path.join(log_dir, names[0])


def _label_for(props: dict, submitted_ms: float, windows) -> str | None:
    group = props.get("spark.jobGroup.id")
    labels = {w[0] for w in windows}
    if group in labels:
        return group
    for label, t0, t1 in windows:
        if t0 <= submitted_ms <= t1:
            return label
    return None


def task_counters(
    log_path: str, windows: list[tuple[str, float, float]]
) -> dict[str, dict[str, float]]:
    """label → summed task counters (see ``COUNTERS``).

    ``windows`` holds ``(label, start_ms, end_ms)`` in epoch
    milliseconds, the clock Spark stamps job submission with.
    """
    stage_label: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    with open(log_path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                label = _label_for(
                    ev.get("Properties") or {}, ev["Submission Time"], windows
                )
                if label is not None:
                    for sid in ev["Stage IDs"]:
                        stage_label[sid] = label
            elif kind == "SparkListenerTaskEnd":
                label = stage_label.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if label is None or not m:
                    continue
                c = out[label]
                sw = m.get("Shuffle Write Metrics") or {}
                c["tasks"] += 1
                c["run_ms"] += m.get("Executor Run Time", 0)
                c["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                c["gc_ms"] += m.get("JVM GC Time", 0)
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return dict(out)
