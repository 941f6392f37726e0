#!/usr/bin/env python3
"""Layered benchmark of the osm_spark engine.

    python3 perfbench/run.py --workload geo_tag --seed 1 --seconds 5 --trace 0

Runs from the repository root.  Spark runs as ``local[N]`` with N the
CPUs this process may use, from this single driver process, with the
fixed configuration in ``session_conf``.  Every run's output digests are
checked against digests computed from an independent path
(``workloads.py``).

``--trace 0`` measures the end-to-end metrics with tracing off: the
set-up (session, builds, full-size warm-up run) is done ``SETUPS`` times
and the median reported, then timed runs repeat for ``--seconds``.
``--trace 1`` reports the per-layer metrics: untraced runs for half the
time, then a fresh session with the Spark event log and the Python UDF
profiler on for the other half; the layer numbers come from that traced
half only (``sparktrace.py``).

Prints one ``name value unit`` line per metric, an environment record,
and, as the last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.  Inputs are cached and outputs written under
``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

T_IMPORT = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / "_work"

SETUPS = 2          # set-ups per untraced invocation; setup_s is their median
MIN_TRACED = 2      # runs per half of a traced invocation

END_TO_END = {"pages_per_s": "pages/s", "wall_s": "s", "setup_s": "s"}

PER_LAYER = {
    "session.start_s": "s",
    "inputs.generate_s": "s",
    "failed_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "geocode.s": "s",
    "spatial_join.index_build_s": "s",
    "spatial_join.index_bytes": "bytes",
    "spatial_join.broadcast_s": "s",
    "spatial_join.match_rows": "count",
    "spatial_join.layer_write_s": "s",
    "spatial_join.salt_s": "s",
    "spatial_join.salt": "count",
    "spatial_join.partitioned_s": "s",
    "spatial_join.layer_read_s": "s",
    "kernels.pip_pack_calls": "count",
    "kernels.pip_s": "s",
    "kernels.dp_calls": "count",
    "kernels.dp_s": "s",
    "tiles.page_tiles_s": "s",
    "tiles.feature_tiles_s": "s",
    "tiles.feature_rows": "count",
    "knn.s": "s",
    "knn.rows": "count",
    "warc.index_s": "s",
    "warc.decode_s": "s",
    "warc.records": "count",
    "warc.input_bytes": "bytes",
    "textops.extract_text_s": "s",
    "textops.fingerprint_s": "s",
    "python.bytes_in": "bytes",
    "python.bytes_out": "bytes",
    "python.run_s": "s",
    "python.boot_s": "s",
    "python.udf_s": "s",
    "python.wait_frac": "ratio",
    "python.rss_peak_mb": "MB",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.scan_tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.task_max_over_median": "ratio",
    "spark.cores_busy_frac": "ratio",
    "spark.driver_gap_s": "s",
    "spark.jobs": "count",
    "spark.failed_tasks": "count",
    "spark.jvm_heap_peak_mb": "MB",
}


def cores() -> int:
    """CPUs this process may run on (unlike ``nproc``, not lowered by
    ``OMP_NUM_THREADS``)."""
    return len(os.sched_getaffinity(0))


def process_age() -> float:
    """Seconds since this process started (Linux ``/proc``); falls back
    to the time since this module was imported."""
    try:
        with open("/proc/self/stat") as fh:
            start = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            up = float(fh.read().split()[0])
        return up - start / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.perf_counter() - T_IMPORT


def session_conf(traced: bool) -> dict[str, str]:
    """The Spark configuration added to ``session.get_spark``'s defaults
    (which keep AQE and Arrow on).  Driver memory is pinned well below
    the host RAM: the engine default is 16g."""
    tmp = WORK / "tmp"
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp / "spark"),
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": str(ROOT),
        # read once per JVM, so on in every session the process starts
        "spark.executor.processTreeMetrics.enabled": "true",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": (WORK / "events").as_uri(),
            "spark.executor.metrics.pollingInterval": "100ms",
        })
    return conf


class Span:
    def __init__(self, name: str, run: int | None):
        self.name, self.run = name, run
        self.start = time.perf_counter()
        self.end = self.start

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Context:
    """What the workloads see: the session, the work directory, and the
    step recorder that times each public call (and, when traced, tags
    its Spark jobs with ``<workload>/<call>``)."""

    def __init__(self, workload: str):
        self.workload = workload
        self.work = WORK
        self.spark = None
        self.traced = False
        self.run: int | None = None
        self.spans: list[Span] = []

    def start(self, traced: bool) -> float:
        from osm_spark.session import get_spark

        self.stop()
        t0 = time.perf_counter()
        n = cores()
        self.spark = get_spark(f"perfbench-{self.workload}", cores=n,
                               shuffle_partitions=2 * n,
                               extra_conf=session_conf(traced))
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @contextmanager
    def step(self, name: str):
        span = Span(name, self.run)
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobDescription(f"{self.workload}/{name}")
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self.spans.append(span)
            if self.traced:
                sc.setJobDescription(None)


def timed_runs(ctx: Context, wl, inp: dict, st: dict, seconds: float,
               min_runs: int) -> tuple[list[float], int]:
    """Repeat the workload until ``seconds`` have passed (and at least
    ``min_runs`` ran).  Returns the wall time of each run and the number
    of failed runs (an exception or a digest mismatch)."""
    walls, failed = [], 0
    deadline = time.perf_counter() + seconds
    while len(walls) < min_runs or time.perf_counter() < deadline:
        ctx.run = len(walls)
        t0 = time.perf_counter()
        try:
            got = wl.run(ctx, inp, st)
            walls.append(time.perf_counter() - t0)
            ctx.run = None
            if not wl.check(ctx, inp, got):
                print(f"digest mismatch: {got}", file=sys.stderr)
                failed += 1
        except Exception:      # a failed run is counted, not fatal
            walls.append(time.perf_counter() - t0)
            traceback.print_exc()
            failed += 1
        finally:
            ctx.run = None
    return walls, failed


def run_step_medians(spans: list[Span]) -> dict[str, float]:
    """Median duration of each step name over the runs it appeared in;
    steps outside runs (set-up, probes) keep their last duration."""
    per: dict[str, list[float]] = {}
    for s in spans:
        per.setdefault(s.name, []).append(s.seconds)
    return {k: statistics.median(v) if len(v) > 1 else v[-1] for k, v in per.items()}


def environment(ctx: Context) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    commit = None
    if (ROOT / ".git").exists():
        import subprocess

        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        commit = out.stdout.strip() or None
    src = hashlib.sha256()
    for p in sorted((ROOT / "osm_spark").rglob("*.py")):
        src.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    sc = ctx.spark.sparkContext
    volatile = ("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
                "spark.driver.port")
    return {
        "git_commit": commit,
        "osm_spark_sha256": src.hexdigest()[:16],
        "nproc": cores(),
        "ram_gb": round(mem_kb / (1 << 20), 1),
        "python": platform.python_version(),
        "java": sc._jvm.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "spark_conf": dict(sorted((k, v) for k, v in sc.getConf().getAll()
                                  if k not in volatile)),
    }


def traced_half(ctx: Context, wl, inp: dict, seconds: float) -> dict:
    """Fresh session with the event log and the UDF profiler on: set-up,
    probes, then traced runs.  Returns the raw per-layer inputs."""
    import shutil

    import sparktrace as T

    events, prof = WORK / "events", WORK / "profile"
    for d in (events, prof):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    ctx.spans = []
    ctx.start(traced=True)
    st = wl.setup(ctx, inp)
    wl.run(ctx, inp, st)                        # warm-up, as untraced: no job tags,
                                                # no profiler
    ctx.traced = True
    probes = wl.probe(ctx, inp, st)
    ctx.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    first_run = len(ctx.spans)
    walls, failed = timed_runs(ctx, wl, inp, st, seconds, MIN_TRACED)
    ctx.traced = False
    ctx.spark.profile.dump(str(prof))
    run_spans = [s for s in ctx.spans[first_run:] if s.run is not None]
    setup_spans = ctx.spans[:first_run]
    ctx.stop()                                  # flushes the event log

    runs = len(walls)
    steps = {s.name for s in run_spans}
    prefix = f"{ctx.workload}/"

    def keep(desc: str) -> bool:
        return desc.startswith(prefix) and desc[len(prefix):] in steps

    evs = T.read_events(events)
    tot = T.task_totals(evs, keep)
    tables = T.load_profiles(prof)

    def prof_per_run(func: str, file: str = "") -> tuple[float, float]:
        calls, secs = T.func_stats(tables, func, file)
        return calls / runs, secs / runs

    spans = run_step_medians(setup_spans)
    spans.update(run_step_medians(run_spans))
    udf_s = T.udf_seconds(tables) / runs
    run_s = tot["python_run_s"] / runs
    busy = T.covered_seconds(T.job_intervals(evs, keep))
    m = {k: 0.0 for k in PER_LAYER}
    m.update(probes)
    m.update(wl.layer_metrics(spans, inp, prof_per_run))
    m.update({
        "python.bytes_in": tot["python_bytes_in"] / runs,
        "python.bytes_out": tot["python_bytes_out"] / runs,
        "python.run_s": run_s,
        "python.boot_s": tot["python_boot_s"] / runs,
        "python.udf_s": udf_s,
        "python.wait_frac": 1.0 - udf_s / run_s if run_s > 0 else 0.0,
        "python.rss_peak_mb": tot["python_rss_peak_mb"],
        "spark.executor_run_s": tot["executor_run_s"] / runs,
        "spark.executor_cpu_s": tot["executor_cpu_s"] / runs,
        "spark.gc_s": tot["gc_s"] / runs,
        "spark.input_bytes": tot["input_bytes"] / runs,
        "spark.scan_tasks": tot["scan_tasks"] / runs,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / runs,
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"] / runs,
        "spark.shuffle_fetch_wait_s": tot["shuffle_fetch_wait_s"] / runs,
        "spark.spill_bytes": tot["spill_bytes"] / runs,
        "spark.output_bytes": tot["output_bytes"] / runs,
        "spark.task_max_over_median": tot["task_max_over_median"],
        "spark.cores_busy_frac": tot["executor_run_s"] / (cores() * sum(walls)),
        "spark.driver_gap_s": max(sum(walls) - busy, 0.0) / runs,
        "spark.jobs": len(T.job_intervals(evs, keep)) / runs,
        "spark.failed_tasks": tot["failed_tasks"],
        "spark.jvm_heap_peak_mb": tot["jvm_heap_peak_mb"],
    })
    return {"metrics": m, "walls": walls, "failed": failed,
            "spans": {k: round(v, 4) for k, v in spans.items()}}


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "osm_spark" / "__init__.py").is_file():
        print(f"osm_spark package not found under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    tmp = WORK / "tmp"
    (tmp / "spark").mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    sys.path.insert(0, str(ROOT))

    wl = WORKLOADS[args.workload](args.seed)
    ctx = Context(wl.name)
    try:
        return measure(ctx, wl, args)
    finally:
        ctx.stop()
        shutdown_jvm()


def measure(ctx: Context, wl, args) -> int:
    start_s = ctx.start(traced=False)
    t0 = time.perf_counter()
    inp = wl.prepare(ctx)
    gen_s = time.perf_counter() - t0
    setups, parts = [], []
    for k in range(1 if args.trace else SETUPS):
        t0 = time.perf_counter()
        session_s = ctx.start(traced=False) if k else start_s
        t1 = time.perf_counter()
        st = wl.setup(ctx, inp)
        t2 = time.perf_counter()
        wl.run(ctx, inp, st)                    # warm-up
        t3 = time.perf_counter()
        # the first set-up counts from process start, less input generation;
        # the others restart the session in the same JVM
        setups.append(process_age() - gen_s if k == 0 else t3 - t0)
        parts.append({"session_s": session_s, "builds_s": t2 - t1, "warm_s": t3 - t2})
    seconds = args.seconds / 2 if args.trace else args.seconds
    ctx.spans = []
    walls, failed = timed_runs(ctx, wl, inp, st, seconds,
                               MIN_TRACED if args.trace else wl.min_runs)
    attempted = len(walls)
    env = environment(ctx)
    pages = wl.n_pages
    record = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "pages": pages, "setups_s": setups,
              "setup_parts": parts,
              "walls_s": walls, "session_start_s": start_s,
              "inputs_generate_s": gen_s, "env": env}
    if args.trace:
        tr = traced_half(ctx, wl, inp, seconds)
        attempted += len(tr["walls"])
        failed += tr["failed"]
        m = tr["metrics"]
        m["session.start_s"] = start_s
        m["inputs.generate_s"] = gen_s
        m["trace.overhead_frac"] = (statistics.median(tr["walls"])
                                    / statistics.median(walls) - 1.0)
        m["failed_frac"] = (failed + m["spark.failed_tasks"]) / attempted
        metrics = {k: (m[k], u) for k, u in PER_LAYER.items()}
        record.update(traced_walls_s=tr["walls"], step_s=tr["spans"])
    else:
        values = {"pages_per_s": statistics.median(pages / w for w in walls),
                  "wall_s": statistics.median(walls),
                  "setup_s": statistics.median(setups)}
        metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
        record["wall_s_max"] = max(walls)
        record["step_s"] = run_step_medians([s for s in ctx.spans if s.run is not None])
    record["metrics"] = {k: v for k, (v, _u) in metrics.items()}
    out = WORK / "results"
    out.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (out / f"{stamp}-{wl.name}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps(record, indent=1))

    for k, (v, u) in metrics.items():
        print(f"{k} {v:.6g} {u}")
    print(f"runs {len(walls)} timed, wall max {max(walls):.4f} s, "
          f"{attempted} attempted, {failed} failed, inputs generated in {gen_s:.2f} s")
    print("env " + json.dumps(env, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def shutdown_jvm() -> None:
    """Stop the JVM that pyspark launched for this process and wait for
    it to exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    raise SystemExit(main())
