"""The benchmark's own tests: span and parser arithmetic, the metric names
BENCHMARK.json promises, and a tiny-size smoke run of every workload.

Run from the repository root::

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
sys.path.insert(0, ROOT)

import run  # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_union_length_merges_overlaps():
    assert tracing.union_length([]) == 0.0
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert tracing.union_length([(0, 10), (2, 3)]) == pytest.approx(10.0)


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        Span(0, None, "root", 0.0, 10.0),
        Span(1, 0, "a", 1.0, 4.0),
        Span(2, 0, "b", 3.0, 6.0),  # overlaps a: covered is [1, 6]
        Span(3, 1, "a.child", 2.0, 3.0),
        Span(4, 0, "late", 9.0, 12.0),  # sticks out past the parent
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def test_tracer_records_nesting_and_tagged_actions():
    from pyspark.sql import DataFrame

    from acoustic_feature_extractor_spark.operators import stats

    orig_stats, orig_count = stats.corpus_stats, DataFrame.__dict__["count"]
    t = tracing.Tracer()
    t.install()
    try:
        assert stats.corpus_stats is not orig_stats
        assert DataFrame.__dict__["count"] is not orig_count
    finally:
        t.uninstall()
    assert stats.corpus_stats is orig_stats
    assert DataFrame.__dict__["count"] is orig_count

    t = tracing.Tracer()
    with t.span("jobs.x") as root:
        with t.span("snapshots.commit"):
            with t.span("spark.action.parquet"):
                pass
        with t.span("spark.action.first", layer="stats.corpus_stats"):
            pass
    spans = t.spans
    spans[0].t0, spans[0].t1 = 0.0, 10.0
    spans[1].t0, spans[1].t1 = 1.0, 5.0
    spans[2].t0, spans[2].t1 = 2.0, 4.5
    spans[3].t0, spans[3].t1 = 6.0, 7.0
    m = tracing.layer_metrics(spans, [root.id])
    assert [s.parent for s in spans] == [None, 0, 1, 0]
    assert m["snapshots.commit_s"] == pytest.approx(4.0)
    assert m["snapshots.meta_s"] == pytest.approx(1.5)
    assert m["stats.corpus_stats_s"] == pytest.approx(1.0)


def _event_log() -> list[str]:
    def task(stage, t0, t1, run_ms, **m):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Launch Time": t0, "Finish Time": t1},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": run_ms * 500_000,
                "JVM GC Time": 10,
                "Disk Bytes Spilled": m.get("spill", 0),
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": m.get("read", 0), "Fetch Wait Time": 5},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": m.get("write", 0)},
                "Output Metrics": {"Bytes Written": m.get("output", 0)},
            },
        }

    scan = {"nodeName": "Scan parquet", "metrics": [{"name": "size of files read", "accumulatorId": 7}]}
    sql = "org.apache.spark.sql.execution.ui.SparkListenerSQL"
    events = [
        {"Event": sql + "ExecutionStart", "executionId": 0, "time": 1_000_050, "sparkPlanInfo": {"children": [scan]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates", "executionId": 0, "accumUpdates": [[7, 4000], [8, 5]]},
        {"Event": sql + "ExecutionStart", "executionId": 1, "time": 2_000_000, "sparkPlanInfo": {"children": [scan]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates", "executionId": 1, "accumUpdates": [[7, 999]]},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000_000},
        task(0, 1_000_100, 1_000_300, 200, write=50),
        task(0, 1_000_100, 1_000_500, 400, write=70),
        task(1, 1_000_600, 1_000_700, 100, read=120, output=900, spill=7),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_001_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_000_500},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_001_500},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2_000_000},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2_000_100},
    ]
    return [json.dumps(e) for e in events]


def test_event_log_parser_and_spark_metrics():
    log = tracing.parse_event_log(_event_log())
    assert len(log.jobs) == 3 and len(log.tasks) == 3
    m = tracing.spark_metrics(log, 1000.0, 1002.0, wall_s=2.0, cores=4)
    assert m["jobs.spark_jobs"] == 2  # job 2 starts after the window
    assert m["spark.in_job_s"] == pytest.approx(1.5)  # [1000, 1001.5]
    assert m["jobs.driver_s"] == pytest.approx(0.5)
    assert m["spark.stages"] == 2 and m["spark.tasks"] == 3
    assert m["spark.task_run_s"] == pytest.approx(0.7)
    assert m["spark.task_cpu_s"] == pytest.approx(0.35)
    assert m["spark.gc_s"] == pytest.approx(0.03)
    assert m["spark.fetch_wait_s"] == pytest.approx(0.015)
    assert m["sources.scan_bytes"] == 4000
    assert m["spark.shuffle_write_bytes"] == 120
    assert m["spark.shuffle_read_bytes"] == 120
    assert m["spark.output_bytes"] == 900
    assert m["spark.spill_bytes"] == 7
    assert m["spark.slot_busy"] == pytest.approx(0.7 / (1.5 * 4))
    # longest stage is stage 0 (0.4 s): max 0.4 over median 0.3
    assert m["spark.task_skew"] == pytest.approx(0.4 / 0.3)


def test_progress_metrics():
    progress = [
        {
            "durationMs": {"addBatch": 100, "queryPlanning": 10, "latestOffset": 3, "walCommit": 5},
            "stateOperators": [{"numRowsTotal": 40, "memoryUsedBytes": 1000, "numRowsDroppedByWatermark": 1}],
        },
        {
            "durationMs": {"addBatch": 300, "queryPlanning": 30, "latestOffset": 5, "walCommit": 7},
            "stateOperators": [{"numRowsTotal": 30, "memoryUsedBytes": 2000, "numRowsDroppedByWatermark": 2}],
        },
    ]
    m = tracing.progress_metrics(progress)
    assert m["stream.batches"] == 2
    assert m["stream.add_batch_ms"] == pytest.approx(200.0)
    assert m["stream.query_planning_ms"] == pytest.approx(20.0)
    assert m["stream.state_rows"] == 40
    assert m["stream.state_mem_bytes"] == 2000
    assert m["stream.late_rows"] == 3
    assert tracing.progress_metrics([])["stream.batches"] == 0


def test_benchmark_json_names_every_metric_the_runner_reports():
    from workloads import Call, Result

    bench = _bench()
    r = Result(True, [Call(0, {}, 2.0, 1000.0, 1002.0)], 10, 10, 100, batch_ms=[5.0])
    e2e = {**run.end_to_end([r], {"session_s": 1.0}), "peak_rss_mb": 1.0}
    assert sorted(e2e) == sorted(m["name"] for m in bench["end_to_end"])
    log = tracing.parse_event_log(_event_log())
    t = tracing.Tracer()
    with t.span("jobs.x") as root:
        pass
    r.layer = {k: 1 for k in ("jobs.stream_s", "jobs.incremental_s", "snapshots.rows_written")}
    r.layer.update({"snapshots.rows_rewritten": 1, "snapshots.dirs_rewritten": 1})
    layer = run.per_layer([r], [[root.id]], t.spans, log, [[]], 1.0, 4)
    assert sorted(layer) == sorted(m["name"] for m in bench["per_layer"])


def test_refuses_to_run_outside_a_checkout(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "backfill", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


TINY = {
    "backfill": {"n_convs": 40},
    "hourly": {"n_convs": 100, "drops": 4, "drop_share": 0.02},
}


def _smoke(workload: str, trace: int) -> dict:
    code = (
        "import sys; sys.path.insert(0, 'perfbench'); import workloads, run; "
        f"[workloads.SIZES[w].update(v) for w, v in {TINY!r}.items()]; "
        f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '3', '--seconds', '1', '--trace', '{trace}']))"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["backfill", "hourly"])
def test_smoke_traced(workload):
    out = _smoke(workload, 1)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert sorted(m) == sorted(x["name"] for x in _bench()["per_layer"])
    assert m["spark.tasks"] > 0 and m["jobs.spark_jobs"] > 0 and m["spark.in_job_s"] > 0
    if workload == "backfill":
        assert m["pipeline.turn_features_calls"] == 8 and m["lineage.manifest_saves"] == 9
        assert m["stats.corpus_stats_s"] > 0 and m["sources.scan_amp"] > 1
        assert m["stream.batches"] == 0 and m["snapshots.merge_upsert_s"] == 0
    else:
        assert m["snapshots.merge_upsert_s"] > 0 and m["sketches.drift_s"] > 0
        assert m["snapshots.dirs_rewritten"] >= 1 and m["snapshots.rows_rewritten"] > 0
        assert m["stream.batches"] >= 1 and m["stream.add_batch_ms"] > 0 and m["stream.state_rows"] > 0
        assert m["jobs.stream_s"] > 0 and m["jobs.incremental_s"] > 0


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["backfill", "hourly"])
def test_smoke_untraced_prints_end_to_end_metrics(workload):
    out = _smoke(workload, 0)
    assert out["correct"] and out["failed"] == 0
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert sorted(m) == sorted(x["name"] for x in _bench()["end_to_end"])
    assert all(v > 0 for v in m.values())
