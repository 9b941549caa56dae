"""Per-layer table of a traced run.

Three sources, all measured from outside the package:
  - the benchmark's spans around each public call (spans.py);
  - the `BatchResult.stages` laps `run_batch` returns;
  - Spark's event log (eventlog.py): jobs are attributed to the span whose
    interval holds their submission time, and plan-node metrics to the
    jobs' SQL executions.
Layer names follow the package's modules. Time metrics of the ingest path
are per batch; those of the read path are medians per operation.
"""

from __future__ import annotations

import stats

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "parse.python_s": "s",
    "parse.python_s_per_kdoc": "s/kdoc",
    "parse.bytes_to_python": "bytes",
    "parse.bytes_from_python": "bytes",
    "enrich.broadcast_s": "s",
    "enrich.broadcast_bytes": "bytes",
    "pipeline.batch_p50_s": "s",
    "pipeline.discover_dims_s": "s",
    "pipeline.parse_route_write_s": "s",
    "pipeline.observe_s": "s",
    "pipeline.fan_out_s": "s",
    "pipeline.aggregate_s": "s",
    "pipeline.spark_jobs_per_batch": "count",
    "pipeline.staged_bytes": "bytes",
    "pipeline.staged_files": "count",
    "incremental.bound_s": "s",
    "incremental.rows_scanned_per_row_ingested": "ratio",
    "catalog.commits_per_batch": "count",
    "catalog.dirs_per_table": "count",
    "catalog.files_read_per_query": "count",
    "archive.build_s": "s",
    "archive.purge_s": "s",
    "catalog.maintain_s": "s",
    "catalog.dirs_removed": "count",
    "query.mix_p50_s": "s",
    "query.mix_tail_s": "s",
    "query.header_s": "s",
    "query.keyset_page_s": "s",
    "query.k_spread_s": "s",
    "aggregate.overview_s": "s",
    "aggregate.period_rollup_s": "s",
    "aggregate.group_stats_s": "s",
    "aggregate.sink_totals_s": "s",
    "exports.csv_s": "s",
    "exports.jsonl_s": "s",
    "exports.metadata_json_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.scan_bytes": "bytes",
    "spark.task_skew": "ratio",
    "scaling.docs_per_s_1core": "docs/s",
    "scaling.eff_1_to_n": "ratio",
    "trace.overhead_pct": "%",
}

STAGE_LAPS = ("discover_dims", "parse_route_write", "observe", "fan_out", "aggregate")
READ_KINDS = ("query.", "aggregate.", "exports.", "archive.build")
# read-mix op kind -> per-layer metric (medians per operation)
READ_METRICS = {
    "query.header": "query.header_s",
    "query.keyset_page": "query.keyset_page_s",
    "query.k_spread": "query.k_spread_s",
    "aggregate.overview": "aggregate.overview_s",
    "aggregate.period_rollup": "aggregate.period_rollup_s",
    "aggregate.group_stats": "aggregate.group_stats_s",
    "aggregate.sink_totals": "aggregate.sink_totals_s",
    "exports.csv": "exports.csv_s",
    "exports.jsonl": "exports.jsonl_s",
    "exports.metadata_json": "exports.metadata_json_s",
}


def _med(xs: list[float]) -> float:
    return stats.median(xs) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def read_ops(ops) -> list:
    """Operations of the read mix (the archive build inside the mix is a
    read of the sink table; maintenance archives are not)."""
    return [o for o in ops if o.kind.startswith(READ_KINDS) and not o.maintenance]


def per_layer(run, log, input_dir: str) -> dict[str, float]:
    """Per-layer metrics of one traced run; 0 where a layer is not used."""
    out = {k: 0.0 for k in PER_LAYER}
    spans = run.tracer.spans
    batches = [s for s in spans if s.name == "pipeline.run_batch"]
    ingested = [o for o in run.ops if o.kind == "batch" and o.docs]
    n_batches = max(len(ingested), 1)
    docs = sum(o.docs for o in ingested)

    def jobs_in(span_list):
        jobs = []
        for s in span_list:
            jobs.extend(log.jobs_between(s.start, s.end))
        return jobs

    def execs(jobs) -> set[int]:
        return {j.exec_id for j in jobs if j.exec_id is not None}

    # ---- ingest path, per batch
    batch_jobs = jobs_in(batches)
    bx = execs(batch_jobs)
    py_s = log.metric_sum(bx, "MapInPandas", "time to run Python workers") / 1000
    if ingested:
        out["pipeline.batch_p50_s"] = _med([o.seconds for o in ingested])
        out["parse.python_s"] = py_s / n_batches
        out["parse.python_s_per_kdoc"] = py_s / (docs / 1000) if docs else 0.0
        out["parse.bytes_to_python"] = log.metric_sum(
            bx, "MapInPandas", "data sent to Python workers") / n_batches
        out["parse.bytes_from_python"] = log.metric_sum(
            bx, "MapInPandas", "data returned from Python workers") / n_batches
        out["enrich.broadcast_s"] = sum(
            log.metric_sum(bx, "BroadcastExchange", m)
            for m in ("time to collect", "time to build", "time to broadcast")
        ) / 1000 / n_batches
        out["enrich.broadcast_bytes"] = log.metric_sum(
            bx, "BroadcastExchange", "data size") / n_batches
        for lap in STAGE_LAPS:
            out[f"pipeline.{lap}_s"] = _med([st.get(lap, 0.0) for st in run.batch_stages])
        out["pipeline.spark_jobs_per_batch"] = len(batch_jobs) / max(len(batches), 1)
        out["pipeline.staged_files"] = _mean([f for f, _b in run.staged])
        out["pipeline.staged_bytes"] = _mean([b for _f, b in run.staged])
        out["catalog.commits_per_batch"] = _mean(run.batch_commits)
        bound = [j for j in batch_jobs if j.call_site and "incremental.py" in j.call_site]
        out["incremental.bound_s"] = sum(j.duration_s for j in bound) / n_batches
        scanned = log.metric_sum(bx, "Scan parquet", "number of output rows",
                                 location=input_dir)
        out["incremental.rows_scanned_per_row_ingested"] = scanned / docs if docs else 0.0

    # ---- read path, medians per operation
    reads = read_ops(run.ops)
    if reads:
        lat = [o.seconds for o in reads]
        summary = stats.summarize(lat)
        out["query.mix_p50_s"] = summary["p50"]
        out["query.mix_tail_s"] = summary.get("tail", summary["p50"])
        for kind, name in READ_METRICS.items():
            out[name] = _med([o.seconds for o in reads if o.kind == kind])
        read_spans = [s for s in spans if s.name.startswith(READ_KINDS)
                      and not s.attrs.get("maintenance")]
        rx = execs(jobs_in(read_spans))
        out["catalog.files_read_per_query"] = (
            log.metric_sum(rx, "Scan parquet", "number of files read") / len(reads))

    # ---- maintenance
    maint = [o for o in run.ops if o.maintenance]
    if maint:
        out["archive.build_s"] = sum(o.seconds for o in maint if o.kind == "archive.build")
        out["archive.purge_s"] = sum(o.seconds for o in maint if o.kind == "archive.purge")
        out["catalog.maintain_s"] = sum(o.seconds for o in maint if o.kind == "catalog.maintain")
        out["catalog.dirs_removed"] = float(run.dirs_removed)
    out["catalog.dirs_per_table"] = run.dirs_per_table

    # ---- Spark substrate over the timed phase
    t0, t1 = run.timed_window
    tasks = log.tasks_of(log.jobs_between(t0, t1))
    out["spark.executor_run_s"] = sum(t.run_ms for t in tasks) / 1000
    out["spark.executor_cpu_s"] = sum(t.cpu_ns for t in tasks) / 1e9
    out["spark.gc_s"] = sum(t.gc_ms for t in tasks) / 1000
    out["spark.shuffle_write_bytes"] = float(sum(t.shuffle_write_bytes for t in tasks))
    out["spark.shuffle_read_bytes"] = float(sum(t.shuffle_read_bytes for t in tasks))
    out["spark.spill_bytes"] = float(sum(t.spill_bytes for t in tasks))
    out["spark.scan_bytes"] = float(sum(t.input_bytes for t in tasks))
    out["spark.task_skew"] = task_skew(tasks)
    return out


def task_skew(tasks) -> float:
    """max / median task duration in the stage with the most tasks."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage_id, []).append(max(t.finish_ms - t.launch_ms, 1))
    if not by_stage:
        return 0.0
    widest = max(by_stage.values(), key=len)
    return max(widest) / stats.median(widest)
