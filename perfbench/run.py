"""Layered benchmark for the engine: one workload per run, one driver
process on ``local[<cores>]``, one client in a closed loop (each op
waits for the previous one).

Usage (from the repository root):

    python3 perfbench/run.py --workload raster_predict --seed 1 --seconds 16 --trace 0

A run:

1. generates the workload's inputs from the seed;
2. sets up Spark from a fresh process ``N_SETUPS`` times: ``N_SETUPS - 1``
   set-up-only child processes (``--setup-only``), one after the other,
   then this process.  A set-up (``get_spark``, ``load_all_queries`` and
   the warm-ups the workload needs) counts from its process's start, so
   it pays the interpreter, the imports and the JVM launch; in this
   process the input generation and the children are left out.
   ``setup_s`` is the median of the set-ups.  A cold set-up takes 9-17 s
   on a 4-core host, so two of them (median = mean) keep a run near one
   minute;
3. runs every op once outside any timing and checks its output
   (``checks.py``), which also warms the context for the passes;
4. runs the memory pass (``Bench.memory_pass``): a JVM full GC, a settle,
   then one pass whose peak memory is ``peak_rss_mb``.  It is also the
   warm-up of the measured passes;
5. measures a fixed number of passes over the workload's ops, back to
   back, in an order drawn from the seed.  An op is timed from the call
   into its builder to the end of its sink; the hygiene after it
   (release the shared caches, clear Spark's cache, Python GC) is part
   of the pass.  No JVM GC is forced here: a full GC before each pass
   shrinks G1's heap, and regrowing it cost 0.3-3 s of GC CPU in the
   next pass, more than the spread of everything else.  The pass count
   is ``--seconds`` (by default ``run_seconds`` of ``BENCHMARK.json``)
   divided by the nominal pass time ``PASS_S``, at least 1, so two runs
   with the same settings measure the same work.

Between every two ops, outside the op's CPU slice and the pass time,
the driver runs ``speed_probe``, a fixed Python loop, and ``cpu_s`` is
scaled by ``PROBE_REF_S`` / the run's median probe time: on a shared
host the loop's CPU time moves by up to 70 % from one minute to the
next, and the CPU time of whole runs moves with it.  The value as
measured is printed next to the scaled one.  ``setup_s`` is not scaled:
it is a wall time, and on a busy host it follows the hypervisor's CPU
steal, which the probe, running on one vCPU while the others idle, does
not see; scaled, it moved more between two sets of runs than unscaled.

The JVM runs with the package's own settings (``get_spark``'s driver
heap and JIT); the benchmark adds only ``-XX:-UsePerfData``, which keeps
the JVM from writing its hsperfdata file to ``/tmp``, outside the
checkout.

Every run records spans in memory (run > setup/check/pass > op >
build/sink/hygiene: name, start, end, parent) and writes them with the
per-op records to ``perfbench/.out/`` when it ends.

``--trace 1`` makes only this process's set-up (the per-layer set-up
times come from it), measures the same passes untraced, then restarts the
context in the same JVM with the Spark event log and a streaming
listener on (a restart, not counted in ``setup_s``), runs one warm-up
pass in the new context, measures again and prints the per-layer
metrics (``layers.py``) and the tracing overhead (traced minus
untraced ``pass_s``).

Every run prints the seven end-to-end metrics with their units:
``setup_s``, ``pass_s`` (with its quartiles), ``op_s_p50``,
``op_s_tail`` (with its percentile and sample count; a 4-pass run has
28 op samples, so it is p64), ``cpu_s`` (CPU seconds of a typical
pass, built op by op: ``op_wise_cpu``), ``peak_rss_mb`` (peak of the
memory pass) and ``error_rate``, and the host's CPU steal during the
passes.  The last stdout line is one JSON object,
``{"correct", "attempted", "failed", "metrics"}``, whose metrics are the
ones ``BENCHMARK.json`` names: the end-to-end metrics it bounds
(``setup_s``, ``cpu_s``, ``peak_rss_mb``) or, with ``--trace 1``, its
per-layer metrics.  The wall-clock latencies are not bounded there:
they follow the host's speed and the hypervisor's CPU steal, which
moves their run-to-run spread past any usable bound.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from procsample import ProcSampler, host_cpu_ticks, tree_sample  # noqa: E402

N_SETUPS = 2  # cold set-ups per run, each in its own process
OP_TIMEOUT_S = 60.0
RUN_DEADLINE_S = 140.0  # start no new pass after this; runs must end by 180 s
PASS_S = 4.0  # nominal pass time of either workload on a 4-core host
SETTLE_S = 1.0
PROBE_REF_S = 0.010  # speed_probe on an x86_64 Xeon at 2.1 GHz with no other load
PKG = "sklearn_raster_spark"
WORKLOADS = ("raster_predict", "registry_short")

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MiB",
    "error_rate": "ratio",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat", "rb") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rfind(b")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least 10 samples beyond it:
    (value, percentile, samples beyond)."""
    s = sorted(xs)
    if len(s) <= 10:
        return s[0], 0.0, len(s) - 1
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s), len(s) - 1 - i


def speed_probe() -> float:
    """CPU seconds this thread takes for a fixed Python loop: the host's
    speed now.  On a shared host it moves by up to 70 % within minutes
    (other tenants on the same cores and caches), and the CPU time of
    the program moves with it."""
    t0 = time.thread_time()
    acc = 0
    for j in range(300_000):
        acc += j
    return time.thread_time() - t0


class Spans:
    """In-memory spans: name, start, end (epoch seconds), parent."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def open(self, name: str, parent: int | None, **attrs) -> int:
        self.items.append({"id": len(self.items), "parent": parent, "name": name,
                           "start": time.time(), "end": None, **attrs})
        return len(self.items) - 1

    def close(self, sid: int) -> float:
        s = self.items[sid]
        s["end"] = time.time()
        return s["end"] - s["start"]


class Bench:
    def __init__(self, args, work: Path):
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.workload = WORKLOADS[args.workload](str(work / "inputs"), args.seed)
        self.rng = random.Random(args.seed)
        self.spans = Spans()
        self.run_span = self.spans.open("run", None, workload=args.workload, seed=args.seed)
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.registry = None
        self.setups: list[dict] = []
        self.uncounted_s = 0.0  # process time before set-up that is not set-up
        self.failed_checks: dict[str, str] = {}
        self.probes: list[float] = []  # speed_probe results over the run

    # -- set-up -------------------------------------------------------------

    def base_conf(self) -> dict[str, str]:
        w = self.work
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(w / "local"),
            "spark.sql.warehouse.dir": str(w / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={w / 'tmp'} -Dderby.system.home={w / 'derby'} -XX:-UsePerfData",
        }

    def trace_conf(self) -> dict[str, str]:
        (self.work / "eventlog").mkdir(exist_ok=True)
        return {
            **self.base_conf(),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{self.work / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    def cold_setups(self, n: int) -> None:
        """``n`` set-ups, each in a fresh child process, one after the
        other; their time is left out of this process's own set-up."""
        t = time.perf_counter()
        for _ in range(n):
            sid = self.spans.open("setup", self.run_span, index=len(self.setups), process="child")
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", self.args.workload,
                   "--seed", str(self.args.seed), "--setup-only", str(self.work)]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=120)
            self.spans.close(sid)
            if proc.returncode != 0:
                raise RuntimeError(f"set-up child failed ({proc.returncode}): {proc.stderr[-2000:]}")
            self.setups.append(json.loads(proc.stdout.strip().splitlines()[-1]))
        self.uncounted_s += time.perf_counter() - t

    def setup(self, conf: dict[str, str]) -> None:
        """Start a context, load the registry, warm up.  The first set-up
        in a process is cold and counts from process start, less
        ``uncounted_s``; a later one (the traced run's) stops the context
        (untimed), drops the package's modules, so imports are paid again,
        and restarts in the same JVM."""
        cold = self.spark is None
        if not cold:
            self.spark.stop()
            for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
                del sys.modules[name]
        t0 = time.perf_counter() - (process_age_s() - self.uncounted_s if cold else 0.0)
        sid = self.spans.open("setup", self.run_span, index=len(self.setups))
        a = time.perf_counter()
        from sklearn_raster_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", extra_conf=conf)
        b = time.perf_counter()
        from sklearn_raster_spark.plans.registry import load_all_queries

        self.registry = load_all_queries()
        c = time.perf_counter()
        self.warm()
        d = time.perf_counter()
        self.spans.close(sid)
        self.setups.append({"cold": cold, "total_s": d - t0, "session_s": b - a, "registry_s": c - b,
                            "warm_s": d - c})
        self.workload.bind(self.spark, self.registry)

    def warm(self) -> None:
        """JVM (one SQL job), the Python worker pool (one pandas UDF task
        per core) and the workload's parquet footers."""
        from pyspark.sql import functions as F

        self.spark.range(1000).selectExpr("sum(id)").collect()
        plus_one = F.pandas_udf(lambda s: s + 1, "long")
        self.spark.range(0, 4000, 1, self.cores).select(plus_one("id")).write.format(
            "noop"
        ).mode("overwrite").save()
        self.workload.warm(self.spark)

    # -- checks ---------------------------------------------------------------

    def check(self) -> dict[str, str | None]:
        sid = self.spans.open("check", self.run_span)
        try:
            results = self.workload.check()
        except Exception as exc:  # the whole check crashed: every op fails it
            results = {op.name: f"check crashed: {type(exc).__name__}: {exc}" for op in self.workload.ops()}
        self.spans.close(sid)
        self.failed_checks = {k: v for k, v in results.items() if v is not None}
        for name, err in self.failed_checks.items():
            log(f"CHECK FAILED {name}: {err}")
        return results

    # -- measured passes ------------------------------------------------------

    def run_op(self, op, label: str, p: int, i: int, parent: int, traced: bool) -> dict:
        from workloads import release_caches

        sc = self.spark.sparkContext
        base = f"pb|{label}|{p}|{i}|{op.name}"
        current = [base + "|build"]
        timed_out = threading.Event()

        def cancel():
            timed_out.set()
            sc.cancelJobGroup(current[0])

        watchdog = threading.Timer(OP_TIMEOUT_S, cancel)
        watchdog.daemon = True
        osid = self.spans.open("op", parent, op=op.name, index=i)
        error = None
        build_s = sink_s = 0.0
        watchdog.start()
        try:
            sc.setJobGroup(current[0], op.name, interruptOnCancel=True)
            bsid = self.spans.open("build", osid)
            try:
                sink = op.build()
            finally:
                build_s = self.spans.close(bsid)
            if sink is not None:
                current[0] = base + "|sink"
                sc.setJobGroup(current[0], op.name, interruptOnCancel=True)
                ssid = self.spans.open("sink", osid)
                try:
                    sink()
                finally:
                    sink_s = self.spans.close(ssid)
        except Exception as exc:  # keep measuring; the op counts as failed
            error = f"{type(exc).__name__}: {str(exc)[:300]}"
            log(f"op {op.name} failed: {error}")
        finally:
            watchdog.cancel()
        if timed_out.is_set():
            error = error or f"watchdog: over {OP_TIMEOUT_S:.0f} s"
        sc.setJobGroup(base + "|hygiene", op.name)
        hsid = self.spans.open("hygiene", osid)
        release_caches(self.spark)
        hygiene_s = self.spans.close(hsid)
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.spans.close(osid)
        rec = {"op": op.name, "pass": p, "index": i, "latency_s": build_s + sink_s,
               "build_s": build_s, "sink_s": sink_s, "hygiene_s": hygiene_s,
               "start": self.spans.items[osid]["start"], "end": self.spans.items[osid]["end"],
               "error": error}
        if traced:
            st = sc.statusTracker()
            rec["build_jobs"] = len(st.getJobIdsForGroup(base + "|build"))
            rec["sink_jobs"] = len(st.getJobIdsForGroup(base + "|sink"))
        return rec

    def run_passes(self, n: int, label: str, traced: bool, sampler, deadline: float) -> list[dict]:
        ops = self.workload.ops()
        passes = []
        for p in range(n):
            if passes and time.perf_counter() > deadline:
                log(f"run deadline reached after {len(passes)} {label} passes")
                break
            psid = self.spans.open("pass", self.run_span, label=label, index=p)
            sampler.reset_peak()
            cpu0 = sampler.sample()
            steal0 = host_cpu_ticks()
            # between ops, outside the slices and the pass time, the
            # driver runs the speed probe
            recs, cpu_mark, probe_cpu, probe_wall = [], cpu0["total"], 0.0, 0.0
            for i, op in enumerate(self.workload.order(ops, self.rng)):
                rec = self.run_op(op, label, p, i, psid, traced)
                # the tree's CPU from the op's start to the end of its
                # hygiene; the slices of a pass add up to the pass's CPU
                now = sampler.sample()["total"]
                rec["cpu_s"] = now - cpu_mark
                w = time.perf_counter()
                rec["probe_s"] = speed_probe()
                self.probes.append(rec["probe_s"])
                probe_wall += time.perf_counter() - w
                cpu_mark = sampler.sample()["total"]
                probe_cpu += cpu_mark - now
                recs.append(rec)
            cpu1 = sampler.sample()
            cpu1["driver"] -= probe_cpu
            steal1 = host_cpu_ticks()
            pass_s = self.spans.close(psid) - probe_wall
            steal_share = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
            passes.append({"label": label, "index": p, "pass_s": pass_s, "cpu_s": sum(r["cpu_s"] for r in recs),
                           "host_steal_share": steal_share,
                           "cpu_parts_s": {k: cpu1[k] - cpu0[k] for k in cpu1 if k != "total"},
                           "peak_rss": sampler.peak_rss, "peak_rss_parts": sampler.peak_parts, "ops": recs})
        return passes


    def memory_pass(self, sampler, deadline: float) -> list[dict]:
        """The pass between the output check and the measured passes, for
        ``peak_rss_mb``: before it the JVM runs a full GC and the run
        waits ``SETTLE_S`` while G1 returns the freed heap to the OS, so
        its peak is what one pass needs from a compact heap.  Without the
        GC the heap grows pass after pass as far as G1's sizing takes it,
        which differs from run to run.  It is also the measured passes'
        warm-up: the JIT is still compiling, and G1 regrows the heap after
        the GC, so its CPU is left out of ``cpu_s``."""
        try:
            self.spark.sparkContext._jvm.System.gc()
        except Exception as exc:  # py4j hiccup: the pass still runs
            log(f"JVM GC request failed: {exc}")
        time.sleep(SETTLE_S)
        return self.run_passes(1, "memory", False, sampler, deadline)


def op_wise_cpu(passes: list[dict]) -> float:
    """CPU seconds of a typical pass, built op by op: for each op, the
    median over the passes of its CPU slice (op and hygiene), summed over
    the ops.  A burst of JIT compilation or a concurrent GC cycle lands in
    one op of one pass and drops out of that op's median, where it would
    move the whole pass's total."""
    slices: dict[str, list[float]] = {}
    for p in passes:
        for r in p["ops"]:
            slices.setdefault(r["op"], []).append(r["cpu_s"])
    return sum(median(v) for v in slices.values())


def end_to_end(bench: Bench, passes: list[dict], memory: list[dict], attempted: int, failed: int) -> dict:
    lat = [r["latency_s"] for p in passes for r in p["ops"] if r["error"] is None]
    t_val, t_pct, t_n = tail(lat) if lat else (0.0, 0.0, 0)
    pass_times = [p["pass_s"] for p in passes]
    q = statistics.quantiles(pass_times, n=4) if len(pass_times) > 1 else pass_times * 3
    peak = max(memory or passes, key=lambda p: p["peak_rss"])
    probe = median(bench.probes)
    cpu_raw = op_wise_cpu(passes)
    return {
        "setup_s": median([s["total_s"] for s in bench.setups if s["cold"]]),
        "probe_s": probe,
        "probes": len(bench.probes),
        "setups": sum(1 for s in bench.setups if s["cold"]),
        "pass_s": median(pass_times),
        "pass_s_q1": q[0],
        "pass_s_q3": q[2],
        "op_s_p50": median(lat),
        "op_s_tail": t_val,
        "op_s_tail_pct": t_pct,
        "op_s_tail_beyond": t_n,
        "op_samples": len(lat),
        "cpu_s": cpu_raw * PROBE_REF_S / probe,
        "cpu_raw_s": cpu_raw,
        "cpu_pass_s": median([p["cpu_s"] for p in passes]),
        "host_steal_share": median([p["host_steal_share"] for p in passes]),
        "cpu_parts_s": {k: median([p["cpu_parts_s"][k] for p in passes]) for k in passes[0]["cpu_parts_s"]},
        "peak_rss_mb": peak["peak_rss"] / 2**20,
        "peak_rss_parts": peak["peak_rss_parts"],
        "error_rate": failed / attempted if attempted else 1.0,
        "attempted": attempted,
        "failed": failed,
    }


def _fmt_parts(parts: dict[str, float], scale: float) -> str:
    return ", ".join(f"{k} {v * scale:.2f}" for k, v in parts.items())


def print_end_to_end(m: dict, n_passes: int) -> None:
    extras = {
        "pass_s": f"median of {n_passes} passes, q1 {m['pass_s_q1']:.4f}, q3 {m['pass_s_q3']:.4f}; "
                  f"host CPU steal {100 * m['host_steal_share']:.1f}%",
        "op_s_p50": f"of {m['op_samples']} ops",
        "op_s_tail": f"p{m['op_s_tail_pct']:.1f} of {m['op_samples']} ops, {m['op_s_tail_beyond']} beyond",
        "setup_s": f"median of {m['setups']} cold set-ups",
        "cpu_s": f"sum over ops of the median per-op CPU, {m['cpu_raw_s']:.4f} s as measured; "
                 f"median pass total {m['cpu_pass_s']:.4f}: " + _fmt_parts(m["cpu_parts_s"], 1.0),
        "peak_rss_mb": "RSS of driver and JVM + PSS of Python workers, peak of the memory pass: " + _fmt_parts(m["peak_rss_parts"], 2.0**-20),
        "error_rate": f"{m['failed']} of {m['attempted']} ops failed",
    }
    print(f"host speed: the probe took {1000 * m['probe_s']:.2f} ms (median of {m['probes']}); "
          f"cpu_s is scaled by {1000 * PROBE_REF_S:.0f} ms / that, to a host where it takes {1000 * PROBE_REF_S:.0f} ms")
    print(f"{'metric':<14} {'value':>12}  unit")
    for name, unit in END_TO_END_UNITS.items():
        extra = f"  ({extras[name]})" if name in extras else ""
        print(f"{name:<14} {m[name]:>12.6f}  {unit}{extra}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None,
                    help="measured time; default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # a child of a run: one cold set-up in the run's work directory
    ap.add_argument("--setup-only", metavar="WORK", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not (ROOT / PKG / "session.py").is_file():
        print(f"error: {ROOT / PKG} not found; run from a checkout of the repository", file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]

    if args.setup_only:
        work = Path(args.setup_only)
    else:
        work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
        shutil.rmtree(work, ignore_errors=True)
        for d in ("tmp", "local", "warehouse", "inputs"):
            (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the spark-submit launcher JVM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the benchmark fixes the engine's settings: drop any inherited ones
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(0, str(ROOT))

    if args.setup_only:
        return setup_only(args, work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def setup_only(args, work: Path) -> int:
    """One cold set-up; print its timings as the last stdout line."""
    bench = Bench(args, work)
    try:
        bench.setup(bench.base_conf())
    finally:
        stop_spark(bench)
        reap_children(tree_sample)
    print(json.dumps(bench.setups[0]), flush=True)
    return 0


def run(args, work: Path) -> int:
    sampler = ProcSampler().start()
    bench = Bench(args, work)
    t_start = time.perf_counter() - process_age_s()
    deadline = t_start + RUN_DEADLINE_S
    n_passes = max(1, round(args.seconds / PASS_S))
    try:
        sid = bench.spans.open("inputs", bench.run_span)
        inputs = bench.workload.prepare()
        bench.uncounted_s = bench.spans.close(sid)
        if not args.trace:
            bench.cold_setups(N_SETUPS - 1)
        bench.setup(bench.base_conf())
        checks = bench.check()
        listener = None
        warmup = []
        memory = bench.memory_pass(sampler, deadline)
        measured = untraced = bench.run_passes(n_passes, "untraced", False, sampler, deadline)
        if args.trace:
            bench.setup(bench.trace_conf())
            from streamlisten import BatchRecorder

            listener = BatchRecorder()
            bench.spark.streams.addListener(listener)
            warmup += bench.run_passes(1, "warmup", False, sampler, deadline)
            measured = bench.run_passes(n_passes, "traced", True, sampler, deadline)
        batches = []
        if listener is not None:
            try:
                bench.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            except Exception as exc:
                log(f"listener bus drain failed: {exc}")
            batches = listener.take()
    finally:
        stop_spark(bench)
        sampler.stop()
        reap_children(tree_sample)

    all_passes = memory + untraced + warmup + (measured if args.trace else [])
    attempted = sum(len(p["ops"]) for p in all_passes)
    failed = sum(1 for p in all_passes for r in p["ops"] if r["error"] or r["op"] in bench.failed_checks)
    e2e = end_to_end(bench, measured, memory, attempted, failed)
    print(f"workload {args.workload} seed {args.seed}: {len(measured)} passes x "
          f"{len(measured[0]['ops']) if measured else 0} ops, local[{bench.cores}], closed loop, 1 client")
    print(f"inputs {json.dumps(inputs, sort_keys=True)}")
    print_end_to_end(e2e, len(measured))

    bench.spans.close(bench.run_span)
    out = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "inputs": inputs,
           "setups": bench.setups, "probes": bench.probes, "checks": checks, "end_to_end": e2e, "passes": all_passes,
           "spans": bench.spans.items}
    if args.trace:
        import layers

        per_layer, per_op = layers.per_layer(bench, untraced, measured, batches, work / "eventlog")
        layers.print_tables(per_layer, per_op)
        out.update(per_layer=per_layer, per_op=per_op, batches=batches)
        values, kind = per_layer, "per_layer"
    else:
        values, kind = e2e, "end_to_end"
    # the result line carries the metrics BENCHMARK.json names: the
    # end-to-end ones it bounds, or with --trace 1 its per-layer ones
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())[kind]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    log("phases: " + ", ".join(f"{s['name']} {s['end'] - s['start']:.1f} s"
                               for s in bench.spans.items if s["parent"] == bench.run_span))
    out_dir = HERE / ".out"
    out_dir.mkdir(exist_ok=True)
    with open(out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as f:
        json.dump(out, f, indent=1, default=str)
    correct = not bench.failed_checks and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}),
          flush=True)
    return 0


def stop_spark(bench: Bench) -> None:
    """Stop the context and the JVM, and wait for the JVM to exit."""
    if bench.spark is not None:
        try:
            bench.spark.stop()
        except Exception as exc:
            log(f"spark.stop failed: {exc}")
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception as exc:
        log(f"gateway shutdown failed: {exc}")
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_children(tree_sample, timeout: float = 30.0) -> None:
    """Wait until no process started by this run is left; after
    ``timeout`` kill the stragglers and wait for them briefly."""
    import signal

    me = os.getpid()
    end = time.time() + timeout
    killed = False
    while True:
        others = [p for p in tree_sample(me)[2] if p != me]
        if not others:
            return
        if time.time() > end:
            if killed:
                log(f"processes still running: {others}")
                return
            for p in others:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, end = True, time.time() + 5
        for p in others:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass  # not our direct child; its parent reaps it
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
