"""Tests of the trace readers on a recorded traced run and on small
hand-built event lists.

The recording (``data/``) is a trimmed event log and two UDF profiler
dumps from one traced ``ingest_warc`` run at local[4]: the cdx index
probe, ``read_warc_pages_text`` and the ``write_parquet`` call.

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import cProfile
import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import sparktrace as T  # noqa: E402

DATA = HERE / "data"
RUN_STEPS = {"ingest_warc/read_warc_pages_text", "ingest_warc/write_parquet"}


@pytest.fixture(scope="module")
def events():
    return T.read_events(DATA)


def test_stages_attributed_by_job_description(events):
    desc = T.stage_descriptions(events)
    assert set(desc.values()) == RUN_STEPS | {"ingest_warc/probe.warc_index"}
    # the write job's stages (decode, shuffle, fingerprint + write) all map to it
    write = [s for s, d in desc.items() if d == "ingest_warc/write_parquet"]
    assert len(write) == 4


def test_probe_stages_are_excluded_from_run_totals(events):
    everything = T.task_totals(events, lambda d: True)
    runs = T.task_totals(events, RUN_STEPS.__contains__)
    probe = T.task_totals(events, lambda d: d.endswith("probe.warc_index"))
    assert runs["tasks"] + probe["tasks"] == everything["tasks"]
    assert probe["tasks"] > 0 and probe["python_bytes_in"] == 0
    assert T.task_totals(events, lambda d: False)["tasks"] == 0


def test_python_sql_metrics_are_read(events):
    t = T.task_totals(events, RUN_STEPS.__contains__)
    # decode (mapInPandas) and fingerprint (pandas UDF) both cross the boundary
    assert t["python_bytes_in"] > 1_000_000 and t["python_bytes_out"] > 1_000_000
    assert 0 < t["python_run_s"] < t["executor_run_s"] * 2
    assert t["python_boot_s"] > 0
    assert t["python_rss_peak_mb"] > 0 and t["jvm_heap_peak_mb"] > 0


def test_scan_shuffle_and_write_metrics(events):
    t = T.task_totals(events, RUN_STEPS.__contains__)
    assert t["input_bytes"] > 0 and t["scan_tasks"] >= 1     # cdx scan
    assert t["shuffle_write_bytes"] > 0 and t["shuffle_read_bytes"] > 0
    assert t["output_bytes"] > 0                              # parquet write
    assert t["failed_tasks"] == 0 and t["spill_bytes"] == 0
    assert t["task_max_over_median"] >= 1.0


def _task(stage, launch, finish, reason="Success", accs=(), run_ms=0, heap=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Failed": reason != "Success",
                          "Accumulables": [{"Name": n, "Update": str(v)} for n, v in accs]},
            "Task Metrics": {"Executor Run Time": run_ms},
            "Task Executor Metrics": {"JVMHeapMemory": heap}}


def _job(job, start, end, stages, desc):
    props = {"spark.job.description": desc} if desc else {}
    return [{"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": start,
             "Stage IDs": stages, "Properties": props},
            {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": end}]


def test_totals_arithmetic_on_hand_built_events():
    evs = (_job(0, 1000, 4000, [0, 1], "w/a") + _job(1, 5000, 6000, [1, 2], "w/b")
           + _job(2, 6000, 9000, [3], None)
           + [_task(0, 1000, 2000, run_ms=900, heap=100 << 20,
                    accs=[(T.PY_SENT, 10), (T.PY_RUN, 1500), (T.PY_START, 5), (T.PY_INIT, 20)]),
              _task(0, 1000, 4000, run_ms=2900, accs=[(T.PY_RETURNED, 7)]),
              _task(0, 1000, 2000, run_ms=950),
              _task(1, 2000, 3000, reason="ExceptionFailure"),   # shared stage: first job wins
              _task(2, 5000, 6000, run_ms=1000),
              _task(3, 6000, 9000, run_ms=3000)])                # untagged job
    t = T.task_totals(evs, lambda d: d.startswith("w/"))
    assert t["tasks"] == 5 and t["failed_tasks"] == 1
    assert t["executor_run_s"] == pytest.approx(5.75)
    assert (t["python_bytes_in"], t["python_bytes_out"]) == (10, 7)
    assert t["python_run_s"] == pytest.approx(1.5)
    assert t["python_boot_s"] == pytest.approx(0.025)
    assert t["jvm_heap_peak_mb"] == pytest.approx(100.0)
    assert t["task_max_over_median"] == pytest.approx(3.0)    # stage 0: 3 s / 1 s
    assert T.stage_descriptions(evs)[1] == "w/a"
    spans = T.job_intervals(evs, lambda d: d.startswith("w/"))
    assert spans == [(1.0, 4.0), (5.0, 6.0)]


def test_covered_seconds_counts_overlap_once():
    assert T.covered_seconds([]) == 0.0
    assert T.covered_seconds([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)


def test_straggler_ratio_uses_heaviest_stage():
    assert T.straggler_ratio({}) == 1.0
    assert T.straggler_ratio({0: [1.0, 1.0, 4.0], 1: [0.1, 0.5]}) == pytest.approx(4.0)


def test_recorded_profiles_name_the_layer_functions():
    tables = T.load_profiles(DATA)
    calls, secs = T.func_stats(tables, "fp")
    assert calls == 4 and secs > 0                      # one call per Arrow batch
    calls, _ = T.func_stats(tables, "extract_text_py")
    assert calls == 20_000                              # one per decoded record
    _, decode = T.func_stats(tables, "_decode_pdf")
    _, text = T.func_stats(tables, "extract_text_py")
    assert 0 < text < decode                            # extraction runs inside decode
    assert T.func_stats(tables, "_decode_pdf", "warc.py") == T.func_stats(tables, "_decode_pdf")
    assert T.func_stats(tables, "_decode_pdf", "textops.py") == (0, 0.0)


def test_self_time_arithmetic():
    # reader classes nest their load_stream: the outer one (cum 0.5)
    # already covers the inner one (cum 0.4)
    table = {("serializers.py", 10, "load_stream"): (1, 1, 0.1, 0.5, {}),
             ("serializers.py", 20, "load_stream"): (1, 1, 0.4, 0.4, {}),
             ("mapper.py", 1, "fn"): (1, 1, 0.2, 0.7, {}),
             ("other.py", 3, "load_stream"): (1, 1, 0.0, 9.0, {})}
    assert T.total_seconds(table) == pytest.approx(0.7)
    assert T.reader_seconds(table) == pytest.approx(0.5)
    assert T.udf_seconds([table, table]) == pytest.approx(0.4)
    # a scalar pandas UDF's profile holds only the function call
    scalar = {("textops.py", 95, "fp"): (4, 4, 0.3, 0.3, {})}
    assert T.reader_seconds(scalar) == 0.0
    assert T.udf_seconds([scalar]) == pytest.approx(0.3)


def _work(n):
    return sum(i * i for i in range(n))


def test_load_pstats_reads_a_cprofile_dump(tmp_path):
    prof = cProfile.Profile()
    prof.enable()
    for _ in range(3):
        _work(1000)
    prof.disable()
    path = tmp_path / "udf_1_perf.pstats"
    prof.dump_stats(str(path))
    tables = T.load_profiles(tmp_path)
    calls, cum = T.func_stats(tables, "_work")
    assert calls == 3 and cum > 0
    assert T.total_seconds(tables[0]) >= cum


def test_benchmark_json_matches_the_harness():
    import run

    spec = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
