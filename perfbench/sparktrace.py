"""Readers for the two trace sources of a traced benchmark run.

- The Spark event log (``spark.eventLog.enabled``): task metrics, the
  PythonSQLMetrics accumulators that Arrow-based Python operators carry
  ("data sent to Python workers", "time to run Python workers", ...)
  and the per-task executor memory peaks.  Stages are attributed to the
  public call that ran them through the job description the benchmark
  sets before each call (``sparkContext.setJobDescription``).
- The Python UDF profiler (``spark.sql.pyspark.udf.profiler=perf``),
  dumped with ``spark.profile.dump``: one cProfile ``.pstats`` file per
  UDF, giving per-function call counts and times inside the Python
  workers.

Pure Python, no Spark import, so the parsers test on recorded fixtures.
"""

from __future__ import annotations

import json
import marshal
import statistics
from pathlib import Path

# PythonSQLMetrics accumulator names (pyspark 4.x); timings are ms, sizes bytes
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"

MB = float(1 << 20)


def read_events(event_dir: str | Path) -> list[dict]:
    """Every JSON event of every event-log file under ``event_dir``
    (rolling ``eventlog_v2_*`` directories included; sidecar files that
    are not JSON lines are skipped)."""
    events = []
    for f in sorted(Path(event_dir).rglob("*")):
        if not f.is_file() or f.name.startswith(".") or f.suffix == ".crc":
            continue
        try:
            text = f.read_text()
        except UnicodeDecodeError:
            continue
        for line in text.splitlines():
            if line.startswith("{"):
                events.append(json.loads(line))
    return events


def stage_descriptions(events: list[dict]) -> dict[int, str]:
    """Stage id -> job description of the first job that lists it."""
    out: dict[int, str] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            for sid in ev.get("Stage IDs", []):
                out.setdefault(sid, desc)
    return out


def job_intervals(events: list[dict], keep) -> list[tuple[float, float]]:
    """(start, end) epoch seconds of every job whose description passes
    ``keep``."""
    starts: dict[int, tuple[float, str]] = {}
    out = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            starts[ev["Job ID"]] = (ev["Submission Time"] / 1000.0, desc)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in starts:
            t0, desc = starts.pop(ev["Job ID"])
            if keep(desc):
                out.append((t0, ev["Completion Time"] / 1000.0))
    return out


def covered_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals (overlapping jobs count once)."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def task_totals(events: list[dict], keep) -> dict:
    """Task-metric totals over the stages whose job description passes
    ``keep``.  Times in seconds, sizes in bytes, peaks in MB."""
    desc = stage_descriptions(events)
    t = {"tasks": 0, "failed_tasks": 0, "executor_run_s": 0.0,
         "executor_cpu_s": 0.0, "gc_s": 0.0, "input_bytes": 0,
         "scan_tasks": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
         "shuffle_fetch_wait_s": 0.0, "spill_bytes": 0, "output_bytes": 0,
         "jvm_heap_peak_mb": 0.0, "python_rss_peak_mb": 0.0,
         "python_bytes_in": 0, "python_bytes_out": 0,
         "python_run_s": 0.0, "python_boot_s": 0.0}
    durations: dict[int, list[float]] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = ev["Stage ID"]
        if not keep(desc.get(sid, "")):
            continue
        info = ev["Task Info"]
        t["tasks"] += 1
        reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
        if info.get("Failed") or reason != "Success":
            t["failed_tasks"] += 1
        durations.setdefault(sid, []).append(
            (info["Finish Time"] - info["Launch Time"]) / 1000.0)
        m = ev.get("Task Metrics") or {}
        t["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        read = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        t["input_bytes"] += read
        t["scan_tasks"] += read > 0
        t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        t["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
        t["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
        t["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
        t["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        peaks = ev.get("Task Executor Metrics") or {}
        t["jvm_heap_peak_mb"] = max(t["jvm_heap_peak_mb"],
                                    peaks.get("JVMHeapMemory", 0) / MB)
        t["python_rss_peak_mb"] = max(t["python_rss_peak_mb"],
                                      peaks.get("ProcessTreePythonRSSMemory", 0) / MB)
        for acc in info.get("Accumulables", []):
            name = acc.get("Name")
            if name not in (PY_SENT, PY_RETURNED, PY_START, PY_INIT, PY_RUN):
                continue
            v = int(acc.get("Update") or 0)
            if name == PY_SENT:
                t["python_bytes_in"] += v
            elif name == PY_RETURNED:
                t["python_bytes_out"] += v
            elif name == PY_RUN:
                t["python_run_s"] += v / 1000.0
            else:
                t["python_boot_s"] += v / 1000.0
    t["task_max_over_median"] = straggler_ratio(durations)
    return t


def straggler_ratio(durations: dict[int, list[float]]) -> float:
    """Max / median task duration of the heaviest stage (most summed
    task time); 1.0 when no stage ran."""
    if not durations:
        return 1.0
    ts = max(durations.values(), key=sum)
    med = statistics.median(ts)
    return max(ts) / med if med > 0 else 1.0


# ---------------------------------------------------------------------------
# UDF profiler dumps


def load_pstats(path: str | Path) -> dict:
    """The raw cProfile table of one ``.pstats`` dump:
    {(file, line, func): (prim_calls, calls, self_s, cum_s, callers)}."""
    with open(path, "rb") as fh:
        return marshal.load(fh)


def load_profiles(dump_dir: str | Path) -> list[dict]:
    return [load_pstats(p) for p in sorted(Path(dump_dir).glob("*.pstats"))]


def func_stats(tables: list[dict], func: str, file: str = "") -> tuple[int, float]:
    """(calls, cumulative seconds) of every function named ``func`` (in
    a file whose name ends with ``file``), summed over the UDF tables.
    Cumulative time includes the callees (numpy calls show up as their
    own builtin entries; Cython calls such as pyarrow's do not)."""
    calls, cum = 0, 0.0
    for table in tables:
        for (path, _line, name), (_cc, nc, _tt, ct, _callers) in table.items():
            if name == func and path.endswith(file):
                calls += nc
                cum += ct
    return calls, cum


def total_seconds(table: dict) -> float:
    """All profiled time of one UDF: the sum of every function's self
    time (what ``pstats.Stats.total_tt`` reports)."""
    return sum(v[2] for v in table.values())


def reader_seconds(table: dict) -> float:
    """Time the UDF spent inside pyspark's Arrow input reader
    (``serializers.load_stream``): blocked on the JVM for the next batch
    plus its Arrow -> pandas conversion.  Reader classes chain their
    ``load_stream``, so the outermost one (largest cumulative time)
    already covers the nested ones."""
    return max((v[3] for (f, _l, name), v in table.items()
                if name == "load_stream" and f.endswith("serializers.py")),
               default=0.0)


def udf_seconds(tables: list[dict]) -> float:
    """Time inside UDF code proper: profiled time minus the input-reader
    time, summed over UDFs."""
    return sum(max(total_seconds(t) - reader_seconds(t), 0.0) for t in tables)
