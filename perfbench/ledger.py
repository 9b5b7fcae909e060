"""Per-job-group ledger over a Spark event log.

Every Spark job the traced run starts carries a job group
(``sc.setJobGroup``) naming the cycle and layer, e.g. ``c2.parse``.
The event log records, per task, the metrics Spark collected; this
module sums them per group and checks that the group sums equal the
whole-log totals, which holds only when no work ran untagged.

    python3 perfbench/ledger.py <event-log-dir>   # prints one JSON object
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

MB = 2**20

# summed task metrics: name -> (path into "Task Metrics", scale)
_SUMS = {
    "task_s": (("Executor Run Time",), 1e-3),
    "cpu_s": (("Executor CPU Time",), 1e-9),
    "gc_s": (("JVM GC Time",), 1e-3),
    "shuffle_write_mb": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1 / MB),
    "shuffle_read_remote_mb": (("Shuffle Read Metrics", "Remote Bytes Read"), 1 / MB),
    "shuffle_read_local_mb": (("Shuffle Read Metrics", "Local Bytes Read"), 1 / MB),
    "spill_mb": (("Disk Bytes Spilled",), 1 / MB),
    "input_mb": (("Input Metrics", "Bytes Read"), 1 / MB),
    "output_mb": (("Output Metrics", "Bytes Written"), 1 / MB),
}


class LedgerError(AssertionError):
    """The log holds work that no job group accounts for."""


def _dig(d: dict, path: tuple[str, ...]) -> float:
    for key in path:
        d = d.get(key, {}) if isinstance(d, dict) else {}
    return d if isinstance(d, (int, float)) else 0


def read_events(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        if name.endswith(".inprogress"):
            raise LedgerError(f"event log {name} was not closed (SparkContext still running?)")
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            for line in f:
                yield json.loads(line)


def build(log_dir: str) -> dict:
    """Return ``{"groups": {group: metrics}, "totals": metrics}``.

    A group's metrics are the ``_SUMS`` keys plus ``shuffle_read_mb``,
    ``jobs``, ``tasks`` and ``task_skew`` (max / median task run time in
    the group's stage with the most summed run time). Raises
    :class:`LedgerError` if any task ran outside a job group or if the
    group sums do not add up to the whole-log totals."""
    stage_group: dict[int, str | None] = {}
    jobs: dict[str | None, int] = defaultdict(int)
    stage_times: dict[int, list[float]] = defaultdict(list)
    sums: dict[str | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    totals: dict[str, float] = defaultdict(float)
    untagged: list[str] = []
    for ev in read_events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            jobs[group] += 1
            if group is None:
                untagged.append(props.get("callSite.short", f"job {ev['Job ID']}"))
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            group = stage_group.get(ev["Stage ID"])
            acc = sums[group]
            acc["tasks"] += 1
            totals["tasks"] += 1
            for name, (path, scale) in _SUMS.items():
                v = _dig(tm, path) * scale
                acc[name] += v
                totals[name] += v
            stage_times[ev["Stage ID"]].append(_dig(tm, ("Executor Run Time",)) * 1e-3)
    if None in sums or None in jobs:
        raise LedgerError(
            f"untagged work: {int(sums[None]['tasks'])} tasks in {jobs.get(None, 0)} jobs "
            f"started at {untagged}"
        )
    for name in ("tasks", *_SUMS):
        grouped = sum(acc[name] for acc in sums.values())
        if abs(grouped - totals[name]) > 1e-6 * max(1.0, abs(totals[name])):
            raise LedgerError(f"group sums of {name} = {grouped}, whole log = {totals[name]}")

    groups: dict[str, dict[str, float]] = {}
    for group in set(sums) | set(jobs):
        acc = {name: sums[group][name] if group in sums else 0.0 for name in ("tasks", *_SUMS)}
        acc["jobs"] = jobs.get(group, 0)
        own = [s for s, g in stage_group.items() if g == group and stage_times.get(s)]
        if own:
            big = max(own, key=lambda s: sum(stage_times[s]))
            med = statistics.median(stage_times[big])
            acc["task_skew"] = max(stage_times[big]) / med if med > 0 else 1.0
        else:
            acc["task_skew"] = 1.0
        groups[group] = _with_shuffle_read(acc)
    totals = _with_shuffle_read(dict(totals))
    totals["jobs"] = sum(jobs.values())
    return {"groups": groups, "totals": totals}


def _with_shuffle_read(acc: dict) -> dict:
    acc["shuffle_read_mb"] = acc["shuffle_read_remote_mb"] + acc["shuffle_read_local_mb"]
    return acc


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: ledger.py <event-log-dir>")
    print(json.dumps(build(sys.argv[1]), indent=1, sort_keys=True))
