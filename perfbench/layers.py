"""Per-layer metrics of a traced run, per pass and per op.

Sources: timing the benchmark's calls into a layer (set-up, builder,
sink, hygiene, the raster and estimator ops), ``statusTracker`` job
groups (``builder.jobs``, ``sink.jobs``), the Spark event log folded by
``eventlog/`` (``job.*``, ``python.*``, the pivot's shuffle bytes) and
the streaming listener (``streaming.*``).  Each run-level value is the
median over the traced passes of the per-pass sum.  ``layers.json``
maps every metric to the end-to-end metric it should move.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from eventlog import fold_event_log
from workloads import RasterPredict, dir_bytes

UNITS = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "setup.warm_s": "s",
    "builder.s": "s",
    "builder.jobs": "count",
    "sink.s": "s",
    "sink.jobs": "count",
    "job.count": "count",
    "job.stages": "count",
    "job.tasks": "count",
    "job.failed_tasks": "count",
    "job.executor_cpu_s": "s",
    "job.gc_s": "s",
    "job.shuffle_read_bytes": "bytes",
    "job.shuffle_write_bytes": "bytes",
    "job.spill_bytes": "bytes",
    "sources.raster.ingest_s": "s",
    "sources.raster.pivot_shuffle_bytes": "bytes",
    "estimator.fit_s": "s",
    **{f"estimator.{m}.s": "s" for m in RasterPredict.METHODS},
    "python.rows_sent": "count",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "python.rows_per_valid_pixel": "ratio",
    "features.write_parquet_s": "s",
    "features.bytes_written_per_input_byte": "ratio",
    "cache.release_s": "s",
    "streaming.batches": "count",
    "streaming.empty_batch_share": "ratio",
    "streaming.addBatch_ms": "ms",
    "streaming.triggerExecution_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    "streaming.state_rows": "count",
    "trace.overhead_s": "s",
}

# event-log record field -> per-layer metric
_EVENT_FIELDS = {
    "jobs": "job.count",
    "stages": "job.stages",
    "tasks": "job.tasks",
    "failed_tasks": "job.failed_tasks",
    "executor_cpu_s": "job.executor_cpu_s",
    "gc_s": "job.gc_s",
    "shuffle_read_bytes": "job.shuffle_read_bytes",
    "shuffle_write_bytes": "job.shuffle_write_bytes",
    "spill_bytes": "job.spill_bytes",
    "python_rows_sent": "python.rows_sent",
    "python_bytes_sent": "python.bytes_sent",
    "python_bytes_received": "python.bytes_received",
}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _event_log(path) -> str | None:
    if not os.path.isdir(path):
        return None
    logs = [f for f in os.listdir(path) if not f.endswith(".inprogress")]
    return os.path.join(path, logs[0]) if len(logs) == 1 else None


def _op_key(group: str | None):
    """``pb|traced|<pass>|<index>|<op>|<phase>`` -> (pass, index)."""
    parts = (group or "").split("|")
    if len(parts) == 6 and parts[0] == "pb" and parts[1] == "traced":
        return int(parts[2]), int(parts[3])
    return None


def _streaming(op_batches: list[dict]) -> dict[str, float]:
    last_state: dict[str, int] = {}
    for b in sorted(op_batches, key=lambda b: (b["run_id"], b["batch_id"])):
        last_state[b["run_id"]] = b["state_rows"]
    n = len(op_batches)
    return {
        "streaming.batches": n,
        "streaming.empty_batches": sum(1 for b in op_batches if b["input_rows"] == 0),
        "streaming.addBatch_ms": sum(b["addBatch_ms"] for b in op_batches),
        "streaming.triggerExecution_ms": sum(b["triggerExecution_ms"] for b in op_batches),
        "streaming.walCommit_ms": sum(b["walCommit_ms"] for b in op_batches),
        "streaming.queryPlanning_ms": sum(b["queryPlanning_ms"] for b in op_batches),
        "streaming.state_rows": sum(last_state.values()),
    }


def op_records(measured: list[dict], batches: list[dict], eventlog_dir) -> list[dict]:
    """One flat record per traced op execution, with its event-log and
    streaming counters merged in."""
    ops = [r for p in measured for r in p["ops"]]
    path = _event_log(eventlog_dir)
    folded = {}
    if path is not None:
        windows = [(r["start"] * 1e3, r["end"] * 1e3, (r["pass"], r["index"])) for r in ops]
        folded = fold_event_log(path, _op_key, windows)
    out = []
    for r in ops:
        rec = dict(r)
        ev = folded.get((r["pass"], r["index"]), {})
        for field, metric in _EVENT_FIELDS.items():
            rec[metric] = ev.get(field, 0)
        rec.update(_streaming([b for b in batches if r["start"] <= b["start"] <= r["end"]]))
        out.append(rec)
    return out


def per_layer(bench, untraced: list[dict], measured: list[dict], batches: list[dict], eventlog_dir):
    recs = op_records(measured, batches, eventlog_dir)
    wl = bench.workload
    per_pass = defaultdict(lambda: defaultdict(float))
    for r in recs:
        m = per_pass[r["pass"]]
        m["builder.s"] += r["build_s"]
        m["builder.jobs"] += r["build_jobs"]
        m["sink.s"] += r["sink_s"]
        m["sink.jobs"] += r["sink_jobs"]
        m["cache.release_s"] += r["hygiene_s"]
        for metric in _EVENT_FIELDS.values():
            m[metric] += r[metric]
        for k, v in r.items():
            if k.startswith("streaming."):
                m[k] += v
        if isinstance(wl, RasterPredict):
            name = r["op"]
            if name == "ingest":
                m["sources.raster.ingest_s"] += r["latency_s"]
                m["sources.raster.pivot_shuffle_bytes"] += r["job.shuffle_write_bytes"]
            elif name == "fit":
                m["estimator.fit_s"] += r["latency_s"]
            elif name == "write_parquet":
                m["features.write_parquet_s"] += r["latency_s"]
            else:
                m[f"estimator.{name}.s"] += r["latency_s"]
            if name in wl.ARROW_OPS:
                m["arrow_rows_sent"] += r["python.rows_sent"]
                m["arrow_rows_valid"] += wl.valid_pixels
    for m in per_pass.values():
        if m["streaming.batches"]:
            m["streaming.empty_batch_share"] = m["streaming.empty_batches"] / m["streaming.batches"]
        if m["arrow_rows_valid"]:
            m["python.rows_per_valid_pixel"] = m["arrow_rows_sent"] / m["arrow_rows_valid"]

    out = {k: 0.0 for k in UNITS}
    for k in UNITS:
        vals = [m[k] for m in per_pass.values() if k in m]
        if vals:
            out[k] = _median(vals)
    cold = [s for s in bench.setups if s["cold"]]
    out["session.start_s"] = _median([s["session_s"] for s in cold])
    out["registry.load_s"] = _median([s["registry_s"] for s in cold])
    out["setup.warm_s"] = _median([s["warm_s"] for s in cold])
    if isinstance(wl, RasterPredict) and os.path.isdir(wl.out_dir):
        out["features.bytes_written_per_input_byte"] = dir_bytes(wl.out_dir) / wl.input_bytes
    out["trace.overhead_s"] = _median([p["pass_s"] for p in measured]) - _median(
        [p["pass_s"] for p in untraced]
    )

    by_op = defaultdict(list)
    for r in recs:
        by_op[r["op"]].append(r)
    skip = {"op", "pass", "index", "start", "end", "error"}
    per_op = {
        name: {k: _median([r[k] for r in rs]) for k in rs[0] if k not in skip}
        for name, rs in sorted(by_op.items())
    }
    return out, per_op


def print_tables(per_layer: dict, per_op: dict) -> None:
    print(f"{'per-layer metric':<40} {'value':>16}  unit")
    for k, v in per_layer.items():
        print(f"{k:<40} {v:>16.6g}  {UNITS[k]}")
    cols = ("latency_s", "build_s", "sink_s", "build_jobs", "sink_jobs", "job.count", "job.stages",
            "job.tasks", "job.executor_cpu_s", "job.shuffle_write_bytes", "python.rows_sent",
            "streaming.batches")
    print("per-op medians: " + " ".join(cols))
    for name, rec in per_op.items():
        print(f"op {name:<32} " + " ".join(f"{c}={rec.get(c, 0):.6g}" for c in cols))
