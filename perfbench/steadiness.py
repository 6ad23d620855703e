"""Run the benchmark on several seeds and report each end-to-end
metric's median, quartiles and spread (interquartile distance as a share
of the median, from ``statistics.quantiles(values, n=4)``).

Usage (from the repository root):

    python3 perfbench/steadiness.py --workloads raster_predict,registry_short --seeds 1-10 [--out FILE]

Runs are sequential and alternate between the workloads, seed by seed,
so that a slow spell of the host falls on every workload; each run's
last stdout line and its record in ``perfbench/.out/`` are read.  With ``--out`` the summary is merged into
FILE under each workload's name (``perfbench/baseline.json`` holds the
recorded baseline).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
# printed by every run, not bounded in BENCHMARK.json: the wall-clock
# latencies, the host's CPU steal, the speed probe, and CPU time as
# measured, before scaling to the reference host speed
UNBOUNDED = ("pass_s", "op_s_p50", "op_s_tail", "host_steal_share", "probe_s", "cpu_raw_s")


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "values": values}


def run_once(workload: str, seed: int, seconds: int) -> tuple[float, dict | None]:
    """(wall seconds, parsed result line or None when the run failed)."""
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=HERE.parent)
    wall = time.time() - t0
    if proc.returncode != 0:
        print(proc.stderr[-2000:], file=sys.stderr)
        print(f"{workload} seed {seed}: exit code {proc.returncode}", file=sys.stderr, flush=True)
        return wall, None
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    # the run's full record holds the end-to-end metrics the result line
    # leaves out (the unbounded wall-clock latencies, host CPU steal)
    with open(HERE / ".out" / f"{workload}-seed{seed}-trace0.json") as f:
        res["end_to_end"] = json.load(f)["end_to_end"]
    print(f"{workload} seed {seed}: {wall:.0f} s, correct={res['correct']} failed={res['failed']}",
          file=sys.stderr, flush=True)
    return wall, res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True, help="comma-separated")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"])
    ap.add_argument("--out")
    ap.add_argument("--label", default="baseline", help="key of this set of runs in --out")
    args = ap.parse_args()

    workloads = args.workloads.split(",")
    runs = {w: [] for w in workloads}
    for seed in seeds(args.seeds):
        for w in workloads:
            runs[w].append(run_once(w, seed, args.seconds))

    summaries = {}
    for w, rs in runs.items():
        results = [r for _, r in rs if r is not None]
        summaries[w] = {
            "runs": len(rs),
            "failed_runs": len(rs) - len(results),
            "seeds": args.seeds,
            "run_seconds": args.seconds,
            "all_correct": len(results) == len(rs) and all(r["correct"] for r in results),
            "failed_ops": sum(r["failed"] for r in results),
            "wall_s_per_run": summarize([wall for wall, _ in rs]),
            "host": f"{platform.machine()}, {len(os.sched_getaffinity(0))} cores",
            "metrics": {m: summarize([r["metrics"][m]["value"] for r in results])
                        for m in (results[0]["metrics"] if results else ())},
            "unbounded": {m: summarize([r["end_to_end"][m] for r in results])
                          for m in UNBOUNDED if results},
        }
        for m, s in {**summaries[w]["metrics"], **summaries[w]["unbounded"]}.items():
            print(f"{w:16s} {m:12s} median {s['median']:10.4f}  q1 {s['q1']:10.4f}  "
                  f"q3 {s['q3']:10.4f}  spread {s['spread']:.3f}")
    if args.out:
        path = Path(args.out)
        data = json.loads(path.read_text()) if path.exists() else {}
        data.setdefault(args.label, {}).update(summaries)
        path.write_text(json.dumps(data, indent=1) + "\n")
    return 0 if all(s["failed_runs"] == 0 and s["all_correct"] for s in summaries.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
