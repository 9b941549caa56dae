"""The event-log reader and the per-layer table on a small recorded log.

data/eventlog-capped-batch.jsonl was recorded from one capped
`Pipeline.run_batch` (cap 150 over 400 docs, local[2]) followed by one
`HeaderQuery`, with events the reader ignores removed.
data/eventlog-capped-batch.spans.json holds the spans recorded around
those two calls.
"""

import json
import os

import eventlog
import layers
import pytest
from spans import Span, Tracer
from workloads import Op, Run

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
LOG = os.path.join(DATA, "eventlog-capped-batch.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.read_event_log(LOG)


@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(DATA, "eventlog-capped-batch.spans.json")) as f:
        return json.load(f)


def test_reader_links_jobs_tasks_and_plan_metrics(log):
    assert log.jobs and log.tasks
    assert all(t.stage_id in log.stage_job for t in log.tasks)
    execs = {j.exec_id for j in log.jobs.values() if j.exec_id is not None}
    assert log.metric_sum(execs, "MapInPandas", "time to run Python workers") > 0
    assert log.metric_sum(execs, "MapInPandas", "data sent to Python workers") > 0
    assert log.metric_sum(execs, "Scan parquet", "number of files read") > 0


def test_bound_job_is_found_by_call_site(log):
    sites = [j.call_site for j in log.jobs.values() if j.call_site]
    assert any("sources/incremental.py" in s for s in sites)
    assert any("pipeline.py" in s for s in sites)


def _run_from(recorded) -> Run:
    tracer = Tracer(True)
    for s in recorded["spans"]:
        tracer.spans.append(Span(s["name"], s["layer"], s["start"], s["end"]))
    run = Run(spark=None, con=None, tracer=tracer, work="", seed=0, seconds=0)
    b = recorded["batch"]
    run.ops = [Op("batch", b["seconds"], True, docs=b["docs"]),
               Op("query.header", recorded["query_seconds"], True)]
    run.batch_stages = [b["stages"]]
    run.timed_window = (recorded["spans"][0]["start"], recorded["spans"][-1]["end"])
    return run


def test_per_layer_attributes_jobs_to_spans(log, recorded):
    out = layers.per_layer(_run_from(recorded), log, recorded["input_dir"])
    assert set(out) == set(layers.PER_LAYER)
    assert out["incremental.bound_s"] > 0
    assert out["parse.python_s"] > 0
    assert out["parse.bytes_to_python"] > 0
    assert out["pipeline.spark_jobs_per_batch"] >= 5
    # 150 rows ingested; the bound job and the write both scan all 400
    assert out["incremental.rows_scanned_per_row_ingested"] > 2
    assert out["catalog.files_read_per_query"] > 0
    assert out["spark.executor_cpu_s"] > 0
    assert out["spark.task_skew"] >= 1.0


def test_per_layer_without_read_spans_leaves_query_layers_zero(log, recorded):
    run = _run_from(recorded)
    run.tracer.spans = [s for s in run.tracer.spans if s.name == "pipeline.run_batch"]
    run.ops = run.ops[:1]
    out = layers.per_layer(run, log, recorded["input_dir"])
    assert out["query.header_s"] == 0 and out["catalog.files_read_per_query"] == 0
    assert out["parse.python_s"] > 0


def test_rolling_log_files_are_read_in_sequence(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for seq in (10, 2, 1):
        (d / f"events_{seq}_local-1").write_text(json.dumps(
            {"Event": "SparkListenerJobStart", "Job ID": seq, "Submission Time": seq,
             "Stage IDs": [], "Properties": {}}) + "\n")
    (d / "appstatus_local-1").write_text("")
    files = eventlog.event_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == [
        "events_1_local-1", "events_2_local-1", "events_10_local-1"]
    assert sorted(eventlog.read_event_log(str(tmp_path)).jobs) == [1, 2, 10]
