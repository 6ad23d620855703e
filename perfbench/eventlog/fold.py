"""Fold an uncompressed Spark event log into per-op records.

An op is whatever the caller keys jobs by.  A job belongs to the op its
``spark.jobGroup.id`` property names (``key_of_group``); a job with no
such group (a streaming micro-batch runs under its query's run id) falls
back to the op whose time window holds its submission time.  Each record
sums, over the op's jobs:

- ``jobs``, ``stages`` (completed stage attempts), ``tasks``,
  ``failed_tasks``;
- ``executor_cpu_s`` (task ``Executor CPU Time``), ``gc_s`` (task
  ``JVM GC Time``), ``shuffle_read_bytes``, ``shuffle_write_bytes``,
  ``spill_bytes`` (memory + disk);
- ``python_bytes_sent``, ``python_bytes_received``, ``python_rows_sent``,
  ``python_rows_received``: the SQL metrics of every plan node that
  exchanges Arrow batches with Python workers (``ArrowEvalPython``,
  ``MapInPandas``, ``FlatMapGroupsInPandas``, ...), read from the plans
  in ``SQLExecutionStart`` / ``SQLAdaptiveExecutionUpdate`` events and
  summed from the tasks' accumulator updates.  Rows sent are the output
  rows of the node's nearest input below it that counts rows.

Usage: python3 perfbench/eventlog/fold.py EVENT_LOG   (keys by job group)
"""

from __future__ import annotations

import bisect
import json
import sys
from collections import defaultdict
from collections.abc import Callable, Hashable

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_bytes_sent",
    "python_bytes_received",
    "python_rows_sent",
    "python_rows_received",
)

_SENT = "data sent to Python workers"
_RECEIVED = "data returned from Python workers"
_ROW_COUNTERS = ("number of output rows", "records read")


def _metric(node: dict, names) -> int | None:
    for m in node.get("metrics", ()):
        if m["name"] in names:
            return m["accumulatorId"]
    return None


def _input_rows_acc(node: dict) -> int | None:
    """Accumulator counting the rows that enter ``node``: the first
    row counter found walking down its first-child chain."""
    for child in node.get("children", ())[:1]:
        acc = _metric(child, _ROW_COUNTERS)
        return acc if acc is not None else _input_rows_acc(child)
    return None


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    """Map each Python node's accumulators to the record field they feed."""
    sent = _metric(plan, (_SENT,))
    if sent is not None:
        out[sent] = "python_bytes_sent"
        for acc, field in (
            (_metric(plan, (_RECEIVED,)), "python_bytes_received"),
            (_metric(plan, ("number of output rows",)), "python_rows_received"),
            (_input_rows_acc(plan), "python_rows_sent"),
        ):
            if acc is not None:
                out[acc] = field
    for child in plan.get("children", ()):
        _python_accumulators(child, out)


def _events(path: str, wanted: tuple[str, ...]):
    with open(path, encoding="utf-8") as f:
        for line in f:
            # cheap prefilter: most lines are task events we may skip
            if any(w in line[:120] for w in wanted):
                yield json.loads(line)


class _Windows:
    """Sorted, non-overlapping (start_ms, end_ms, key) windows."""

    def __init__(self, windows):
        self.items = sorted(windows, key=lambda w: w[0])
        self.starts = [w[0] for w in self.items]

    def find(self, t_ms: float):
        i = bisect.bisect_right(self.starts, t_ms) - 1
        if i >= 0 and t_ms <= self.items[i][1]:
            return self.items[i][2]
        return None


def fold_event_log(
    path: str,
    key_of_group: Callable[[str | None], Hashable | None] = lambda g: g,
    windows=(),
) -> dict[Hashable, dict[str, float]]:
    py_accs: dict[int, str] = {}
    for ev in _events(path, ("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
        _python_accumulators(ev["sparkPlanInfo"], py_accs)

    win = _Windows(windows)
    recs: dict[Hashable, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    stage_key: dict[int, Hashable] = {}
    wanted = ("SparkListenerJobStart", "SparkListenerStageCompleted", "SparkListenerTaskEnd")
    for ev in _events(path, wanted):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            key = key_of_group(group)
            if key is None:
                key = win.find(ev["Submission Time"])
            if key is None:
                continue
            recs[key]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_key[sid] = key
        elif kind == "SparkListenerStageCompleted":
            key = stage_key.get(ev["Stage Info"]["Stage ID"])
            if key is not None:
                recs[key]["stages"] += 1
        else:
            key = stage_key.get(ev["Stage ID"])
            if key is None:
                continue
            r = recs[key]
            r["tasks"] += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                r["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            r["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in ev["Task Info"].get("Accumulables", ()):
                field = py_accs.get(acc["ID"])
                if field is not None:
                    r[field] += int(acc.get("Update") or 0)
    return dict(recs)


if __name__ == "__main__":
    for group, rec in sorted(fold_event_log(sys.argv[1]).items(), key=lambda kv: str(kv[0])):
        print(json.dumps({"group": group, **rec}))
