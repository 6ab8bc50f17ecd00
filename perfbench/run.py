"""Closed-loop benchmark of schema_enforcer_spark, one workload per call.

    python3 perfbench/run.py --workload cli_clean --seed 1 --seconds 10 --trace 0

One client runs one unit of user work at a time (a ``cli.main(argv)`` call,
or the three dedup queries), starting the next when the previous returns,
until ``--seconds`` have passed. Every run's outputs are checked. Inputs
are written under ``.perfbench_work/`` in the checkout, which is removed at
the end: the transcripts table is generated from ``--seed``, the documents
corpus is copied from ``perfbench/corpus``.

Set-up is session start, input build and ``warmup_runs`` (config.json)
untimed runs: the first runs of a fresh JVM are much slower than later
ones.

``--trace 0`` reports the end-to-end metrics listed in BENCHMARK.json.
``--trace 1`` runs with the Spark event log on from the start. After set-up
it alternates untraced and traced runs (untraced, traced, traced,
untraced, for at least ``--seconds``), probes each layer under its own job
group, and reports the per-layer metrics. ``trace.overhead_s`` is the
median traced wall_s minus the median untraced one: the cost of the span
recorder and its job groups; the event log's own cost is in both.
Spans are written to ``.perfbench_work/traces/``.

Before it exits, the benchmark stops the Spark JVM it started and every
process that JVM started, and waits until each has ended.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = (
    "BENCHMARK.json",
    "__spark_entry__.py",
    "schema_enforcer_spark/__init__.py",
    "manifests/transcripts_base.yml",
    "manifests/transcripts_quality.yml",
)

# spans that run Spark jobs; each reports <span>.jobs, .executor_cpu_s,
# .gc_s and .core_util, and (except the CLI run) <span>_s, its wall time
SPARK_SPANS = [
    "engine.plan", "engine.row_rules", "engine.table_rules", "engine.verdicts",
    "checkpoint.pending", "checkpoint.record", "stats.write", "stats.merge",
    "cli", "dedup.candidates", "dedup.near_dups", "dedup.cc",
]
# spans that run no Spark job: only their wall time is reported
LOCAL_SPANS = {"manifest": "manifest.load_s", "compiler": "compiler.compile_s"}


class Context:
    def __init__(self, args, cfg: dict, work: str):
        self.root = ROOT
        self.bench_dir = HERE
        self.work = work
        self.seed = args.seed
        self.cfg = cfg
        self.size = cfg["sizes"][args.size]
        self.cores = len(os.sched_getaffinity(0))
        self.wrong_expectation = args.wrong_expectation
        self.duckdb_oracle = args.duckdb_oracle
        self.spark = None


def start_session(ctx: Context, event_log: str | None = None):
    from pyspark.sql import SparkSession

    subs = {"nproc": ctx.cores, "work": ctx.work}
    b = SparkSession.builder.appName("perfbench")
    for k, v in ctx.cfg["session"].items():
        b = b.config(k, v.format(**subs))
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file:" + event_log)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    ctx.spark = b.getOrCreate()
    ctx.spark.sparkContext.setLogLevel("ERROR")
    return ctx.spark


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # ended while we looked
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so that
    ``stop_processes`` can wait for the JVM's workers too (Linux only)."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def stop_processes(ctx: Context, grace: float = 60.0) -> None:
    """Stop the Spark session and the JVM behind it, then end every process
    still below this one and wait until each has ended."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()  # later Python-side finalizers then skip the JVM
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=grace)
        except Exception:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + grace
    sig = signal.SIGTERM
    while True:
        left = _descendants(os.getpid())
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass  # reap every child that has ended
        except ChildProcessError:
            if not left:
                return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.05)


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) * 1024
    return 0


class RssPeak:
    """Peak of the summed resident set of the given processes, sampled
    every 20 ms on a background thread while the block runs."""

    def __init__(self, pids: list[int]):
        self.pids = pids
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while True:
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in self.pids))
            if self._stop.wait(0.02):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in self.pids))


@contextmanager
def job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield {"group": group}
    finally:
        sc.setJobGroup("perfbench-check", "output checks")


class Runner:
    """Runs units of work one at a time and keeps what each run measured."""

    def __init__(self, ctx: Context, wl):
        self.ctx = ctx
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.last_state: dict = {}

    def once(self, label: str, rec=None) -> dict | None:
        """One run, under the span ``label`` of ``rec`` when tracing;
        returns its measurements, or None if it raised. A run whose outputs
        fail a check still returns them, counted as failed."""
        sc = self.ctx.spark.sparkContext
        self.attempted += 1
        pids = [os.getpid(), sc._gateway.proc.pid]
        measured = None
        try:
            state = self.wl.prepare(self.attempted)
            scope = rec.span(label) if rec else job_group(sc, f"perfbench-{label}-{self.attempted}")
            with scope as span, RssPeak(pids) as rss:
                t0 = time.perf_counter()
                self.wl.execute(state)
                wall = time.perf_counter() - t0
            sc.setJobGroup("perfbench-check", "output checks")
            jobs = len(sc.statusTracker().getJobIdsForGroup(span["group"]))
            measured = {"wall_s": wall, "jobs": jobs, "rss": rss.peak}
            problems = self.wl.check(state)
            self.last_state = state
            self.wl.cleanup(state)
        except Exception:  # a run that raised is a failed run; keep going
            problems = ["raised:\n" + traceback.format_exc()]
        if problems:
            self.failed += 1
            print(f"[{self.wl.name}] {label} run {self.attempted} FAILED: " + "; ".join(problems), file=sys.stderr)
        return measured

    def loop(self, label: str, seconds: float, rec=None) -> list[dict]:
        """Closed loop: the next run starts when the previous one returns,
        until ``seconds`` have passed (at least one run)."""
        out = []
        end = time.monotonic() + seconds
        while True:
            r = self.once(label, rec)
            if r is not None:
                out.append(r)
            if time.monotonic() >= end:
                return out


def setup(ctx: Context, wl, runner: Runner) -> float:
    """Build the inputs, then warm up with ``warmup_runs`` runs. Returns
    the build time plus the warm-up time."""
    t0 = time.perf_counter()
    wl.build(os.path.join(ctx.work, "inputs"))
    build = time.perf_counter() - t0
    if ctx.wrong_expectation:
        wl.corrupt_expectation()
    warm = []
    for _ in range(ctx.cfg["warmup_runs"]):
        t0 = time.perf_counter()
        runner.once("warmup")
        warm.append(time.perf_counter() - t0)
    print(f"[{wl.name}] input build {build:.3f} s, warm-up runs " + ", ".join(f"{w:.3f}" for w in warm) + " s")
    return build + sum(warm)


def describe(name: str, values: list[float], unit: str) -> str:
    n = len(values)
    # the highest percentile with at least ten samples beyond it
    p = 100 * (1 - 10 / n) if n >= 20 else None
    tail = f", p{p:.0f} {statistics.quantiles(values, n=100)[int(p) - 1]:.4f}" if p else ", no percentile above the median has ten samples beyond it"
    return f"{name}: median {statistics.median(values):.4f} {unit} over {n} runs{tail}"


def end_to_end(ctx: Context, wl, runner: Runner, seconds: float) -> dict:
    t0 = time.perf_counter()
    start_session(ctx)
    session_s = time.perf_counter() - t0
    prep_s = setup(ctx, wl, runner)
    runs = runner.loop("timed", seconds)
    if not runs:
        raise RuntimeError("every timed run raised")
    walls = [r["wall_s"] for r in runs]
    jobs = [r["jobs"] for r in runs]
    wall = statistics.median(walls)
    print(f"[{wl.name}] session start {session_s:.3f} s")
    print(f"[{wl.name}] " + describe("wall_s", walls, "s"))
    if len(set(jobs)) > 1:
        print(f"[{wl.name}] spark_jobs varied across runs: {jobs}", file=sys.stderr)
    return {
        "setup_s": session_s + prep_s,
        "wall_s": wall,
        "rows_per_s": wl.rows / wall,
        "spark_jobs": statistics.median(jobs),
    }


def per_layer(ctx: Context, wl, runner: Runner, seconds: float) -> dict:
    from spans import EventLog, SpanRecorder, span_metrics

    log_dir = os.path.join(ctx.work, "eventlog")
    start_session(ctx, event_log=log_dir)
    setup(ctx, wl, runner)
    run_id = f"{wl.name}-seed{ctx.seed}-{os.getpid()}"
    rec = SpanRecorder(ctx.spark.sparkContext, run_id)
    untraced, traced, traced_state = [], [], {}
    end = time.monotonic() + seconds
    while True:
        # untraced, traced, traced, untraced: the runs still get faster one
        # after the other, and in this order a steady drift cancels out of
        # the difference of the two medians
        for kind in ("untraced", "traced", "traced", "untraced"):
            if kind == "traced":
                r = runner.once(wl.span, rec)
                traced_state = runner.last_state
            else:
                r = runner.once("untraced")
            if r is not None:
                (traced if kind == "traced" else untraced).append(r)
        if time.monotonic() >= end:
            break
    if not untraced or not traced:
        raise RuntimeError("every untraced or every traced run raised")
    m = wl.probes(rec)
    ctx.spark.stop()

    traces = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(traces, exist_ok=True)
    rec.write(os.path.join(traces, run_id + ".json"))
    (log_path,) = glob.glob(os.path.join(log_dir, "*"))
    log = EventLog(log_path)

    found = {s["name"] for s in rec.spans}
    counters = {}
    for name in SPARK_SPANS:
        if name not in found:
            continue
        span = rec.last(name)
        c = counters[name] = log.counters(log.group_jobs(span["group"]))
        m.update(span_metrics(name, span, c, ctx.cores))
        if name != "cli":
            m[f"{name}_s"] = span["end"] - span["start"]
    for name, metric in LOCAL_SPANS.items():
        if name in found:
            span = rec.last(name)
            m[metric] = span["end"] - span["start"]
    if "engine.table_rules" in counters:
        c = counters["engine.table_rules"]
        m.update({f"engine.table_rules.{k}": c[k] for k in ("shuffle_write_bytes", "spill_bytes", "task_skew")})
    if "engine.verdicts" in counters:
        m["engine.verdicts.shuffle_write_bytes"] = counters["engine.verdicts"]["shuffle_write_bytes"]
    if "checkpoint.pending" in counters:
        m["checkpoint.jobs"] = counters["checkpoint.pending"]["jobs"] + counters["checkpoint.record"]["jobs"]
    if "cli" in counters:
        jobs = log.group_jobs(rec.last("cli")["group"])
        sink = log.counters(log.sink_jobs(jobs, traced_state["out"] + "/"))
        collect = log.counters(log.collect_jobs(jobs))
        m.update({
            "cli.sink_s": sink["job_s"], "cli.sink_rows": sink["records_out"], "cli.sink_bytes": sink["bytes_out"],
            "cli.collect_s": collect["job_s"], "cli.collect_jobs": collect["jobs"],
            "cli.input_scans": counters["cli"]["records_in"] / wl.rows,
        })
    tw = statistics.median(r["wall_s"] for r in traced)
    uw = statistics.median(r["wall_s"] for r in untraced)
    m.update({"trace.wall_s": tw, "trace.untraced_wall_s": uw, "trace.overhead_s": tw - uw})
    # resident memory did not repeat within a tenth between untraced runs
    # of different seeds, so it is a traced-run figure, over untraced runs
    m["peak_rss_mb"] = statistics.median(r["rss"] for r in untraced) / 2**20
    print(f"[{wl.name}] trace.overhead_s {tw - uw:.4f} s: traced wall_s {tw:.4f} s over {len(traced)} runs"
          f" minus untraced {uw:.4f} s over {len(untraced)} runs, interleaved, all with the event log on")
    return m


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes from perfbench/config.json; tiny is for checking the checkers")
    ap.add_argument("--wrong-expectation", action="store_true",
                    help="corrupt one expectation after setup; every run must then fail its check")
    ap.add_argument("--duckdb-oracle", action="store_true",
                    help="at setup, also check the expected dedup rows against __spark_entry__.oracle_sql()"
                         " through DuckDB (all-pairs SQL: minutes even at tiny size)")
    args = ap.parse_args(argv)
    adopt_orphans()
    # a stop request ends the run through the finally below, which stops
    # every process the run started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(HERE, "config.json")) as fh:
        cfg = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    ctx = Context(args, cfg, work)
    wl = WORKLOADS[args.workload](ctx)
    runner = Runner(ctx, wl)
    try:
        if args.trace:
            values = per_layer(ctx, wl, runner, args.seconds)
            for name in (x["name"] for x in wanted):
                values.setdefault(name, 0)  # a layer this workload never calls
        else:
            values = end_to_end(ctx, wl, runner, args.seconds)
    finally:
        stop_processes(ctx)
        shutil.rmtree(work, ignore_errors=True)

    metrics = {x["name"]: {"value": float(values[x["name"]]), "unit": x["unit"]} for x in wanted}
    for name, v in metrics.items():
        print(f"[{wl.name}] {name} = {v['value']:.6g} {v['unit']}")
    print(f"[{wl.name}] failed_frac = {runner.failed / runner.attempted:.4g} ({runner.failed} of {runner.attempted} runs)")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from a schema_enforcer_spark checkout; missing {missing}", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, ROOT)
    sys.exit(main())
