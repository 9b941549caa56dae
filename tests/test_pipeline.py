"""M4 — end-to-end pipeline: batched==single-run equality, resume,
idempotent partial-failure recovery, observation semantics, lineage."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from eventanalysis_spark import pipeline
from eventanalysis_spark.pipeline import Pipeline, PipelineConfig, wide_pass
from eventanalysis_spark.sources import incremental


@pytest.fixture()
def wh(tmp_path):
    return str(tmp_path / "wh")


def _mk(spark, wh_path, cap=None):
    return Pipeline(spark, PipelineConfig(warehouse=wh_path, cap=cap))


def test_batched_equals_single_run(spark, pages, tmp_path):
    single = _mk(spark, str(tmp_path / "w1"), cap=None)
    r = single.run_batch(pages)
    assert r is not None and r.n_input == pages.count()

    batched = _mk(spark, str(tmp_path / "w2"), cap=1100)
    results = batched.run_until_exhausted(pages)
    assert len(results) == 3  # 3000 rows / 1100 cap
    assert sum(x.n_input for x in results) == pages.count()

    for sink in ["content", "commerce", "security", "misc"]:
        a = {x.url for x in single.sink_table(sink).select("url").collect()}
        b = {x.url for x in batched.sink_table(sink).select("url").collect()}
        assert a == b, sink
    pa = single.total_sink_aggregates().toPandas()
    pb = batched.total_sink_aggregates().toPandas()
    assert pa.equals(pb)


def test_watermark_resume_across_instances(spark, pages, wh):
    p1 = _mk(spark, wh, cap=2000)
    assert p1.run_batch(pages) is not None
    # a NEW pipeline object on the same warehouse continues, not restarts
    p2 = _mk(spark, wh, cap=2000)
    r2 = p2.run_batch(pages)
    assert r2 is not None and r2.batch_id == "b000002"
    assert p2.run_batch(pages) is None  # exhausted
    total = sum(
        p2.sink_table(s).count() for s in ["content", "commerce", "security", "misc"]
    )
    # equals the routed count of a fresh uncapped single run
    fresh = _mk(spark, wh + "_fresh", cap=None)
    rf = fresh.run_batch(pages)
    assert rf is not None
    assert total == rf.n_routed


def _obs_totals(p):
    return {
        r["event_class"]: (r["o"], r["r"], r["d"])
        for r in p.wh.table("observations").read(p.spark)
        .groupBy("event_class")
        .agg(F.sum("n_observed").alias("o"), F.sum("n_routed").alias("r"),
             F.sum("n_dropped").alias("d"))
        .collect()
    }


def test_partial_failure_is_idempotent(spark, pages, wh):
    """Simulate a crash after sinks committed but before the watermark
    advanced: re-running the batch must not duplicate sink rows, and must
    not double-count the sink_agg and observation commits either."""
    p = _mk(spark, wh, cap=1500)
    r1 = p.run_batch(pages)
    assert r1 is not None
    # roll the pipeline state back (as if the final commit never happened)
    p.state_tbl.set_state(wm_ts=None, wm_url=None, n_batches=0, last_batch=None)
    r_redo = p.run_batch(pages)  # re-runs batch b000001 over the same slice
    assert r_redo is not None and r_redo.batch_id == "b000001"
    # sink appends were skipped (idempotent), counts unchanged
    for s, n in r1.sink_counts.items():
        assert p.sink_table(s).count() == n, s
    # per-row: no duplicate urls in any sink
    for s in r1.sink_counts:
        tbl = p.sink_table(s)
        assert tbl.count() == tbl.select("url").distinct().count()

    # crash inside the watermark commit, after every other commit of the
    # batch (sinks, sink_agg, observations) landed; a new instance redoes it
    crashed = _mk(spark, wh + "_crash", cap=1500)

    def crash(**_kv):
        raise RuntimeError("crash before the watermark commit")

    crashed.state_tbl.set_state = crash
    with pytest.raises(RuntimeError, match="watermark commit"):
        crashed.run_batch(pages)
    assert crashed.wh.table("sink_agg").state()["last_batch"] == "b000001"
    assert crashed.wh.table("observations").state()["last_batch"] == "b000001"
    resumed = _mk(spark, wh + "_crash", cap=1500)
    assert [x.batch_id for x in resumed.run_until_exhausted(pages)] == [
        "b000001", "b000002"
    ]
    ref = _mk(spark, wh + "_ref", cap=1500)
    ref.run_until_exhausted(pages)
    assert resumed.total_sink_aggregates().toPandas().equals(
        ref.total_sink_aggregates().toPandas()
    )
    assert _obs_totals(resumed) == _obs_totals(ref)


def test_observation_counts_include_dropped(spark, pages, wh):
    p = _mk(spark, wh, cap=None)
    r = p.run_batch(pages)
    obs = p.wh.table("observations").read(spark)
    login = obs.where(F.col("event_class") == "login").collect()[0]
    assert login.n_observed > 0 and login.n_routed == 0
    assert login.n_dropped == login.n_observed
    assert obs.agg(F.sum("n_routed")).collect()[0][0] == r.n_routed


def _lineage_by_sink(p):
    return {
        x["sink"]: x["n"]
        for x in p.wh.table("lineage").read(p.spark)
        .groupBy("sink").agg(F.sum("rows").alias("n")).collect()
    }


def test_lineage_and_metrics_sidecars(spark, pages, wh, monkeypatch):
    """Each batch writes its per-partition lineage to the 'lineage' table,
    keyed by the batch id its sink commits record, with the table's fixed
    schema and no null timestamps. The metrics sidecar carries throughput
    and stage laps."""
    # the whole 3000-row fixture in one capped batch of 4 write tasks
    monkeypatch.setattr(incremental, "ROWS_PER_TASK", 750)
    p = _mk(spark, wh, cap=3000)
    r = p.run_batch(pages)
    assert r is not None
    snap = p.wh.table("sink_content").current_snapshot()
    assert snap.meta["batch"] == "b000001"
    assert snap.meta["rows"] == r.sink_counts["content"]

    lin = p.wh.table("lineage").read(spark)
    assert dict(lin.dtypes) == {
        "sink": "string", "part_id": "int", "rows": "bigint", "ts_min": "string",
        "ts_max": "string", "bytes": "bigint", "batch_id": "string",
    }
    assert lin.where(F.col("ts_min").isNull() | F.col("ts_max").isNull()).count() == 0
    assert {x.batch_id for x in lin.select("batch_id").distinct().collect()} == {
        r.batch_id
    }

    # metrics sidecar exists and carries throughput + stage laps
    mdir = os.path.join(p.state_tbl.path, "_metrics")
    files = os.listdir(mdir)
    assert len(files) == 1
    payload = json.load(open(os.path.join(mdir, files[0])))
    assert payload["docs_per_sec"] > 0
    assert set(payload["stage_seconds"]) >= {
        "discover_dims", "parse_route_write", "observe", "fan_out", "aggregate"
    }


def test_lineage_spills_to_table_above_inline_max(spark, pages, wh, monkeypatch):
    """There is no inline lineage threshold any more: whatever the number of
    staged files, the per-partition lineage goes to the 'lineage' table and
    sink commits carry neither an inline list nor a pointer. Totals,
    per-sink counts, the partition grain and resume idempotence all hold."""
    # the whole 3000-row fixture in one capped batch of 4 write tasks
    monkeypatch.setattr(incremental, "ROWS_PER_TASK", 750)
    p = _mk(spark, wh, cap=3000)
    r = p.run_batch(pages)
    assert r is not None
    snap = p.wh.table("sink_content").current_snapshot()
    assert "lineage" not in snap.meta and "lineage_ref" not in snap.meta

    lin = p.wh.table("lineage").read(spark)
    assert lin.agg(F.sum("rows")).collect()[0][0] == r.n_input
    by_sink = _lineage_by_sink(p)
    for s, n in r.sink_counts.items():
        assert by_sink[s] == n, s
    # the partition grain survived (all 4 write tasks present)
    assert lin.select("part_id").distinct().count() == 4
    n_lineage_rows = lin.count()

    # crash-after-sinks-committed resume must not duplicate lineage rows
    p.state_tbl.set_state(wm_ts=None, wm_url=None, n_batches=0, last_batch=None)
    r2 = p.run_batch(pages)
    assert r2 is not None and r2.batch_id == r.batch_id
    assert p.wh.table("lineage").read(spark).count() == n_lineage_rows


def test_reserved_sink_names_rejected(spark, wh):
    """A rule routing to sink='agg' would shadow the internal 'sink_agg'
    aggregates table (ADVICE r1, medium): must be rejected at init."""
    from eventanalysis_spark import datagen

    bad_rules = datagen.route_rules_df(spark).withColumn(
        "sink",
        F.when(F.col("sink") == "commerce", F.lit("agg")).otherwise(F.col("sink")),
    )
    with pytest.raises(ValueError, match="reserved"):
        Pipeline(spark, PipelineConfig(warehouse=wh), rules=bad_rules)
    # malformed names (reference job-name grammar) also rejected
    bad2 = datagen.route_rules_df(spark).withColumn(
        "sink",
        F.when(F.col("sink") == "commerce", F.lit("Bad Name!")).otherwise(F.col("sink")),
    )
    with pytest.raises(ValueError, match="invalid sink name"):
        Pipeline(spark, PipelineConfig(warehouse=wh + "_2"), rules=bad2)


def test_dims_grow_once_and_persist(spark, pages, wh):
    p = _mk(spark, wh, cap=1000)
    p.run_until_exhausted(pages)
    hosts = p.wh.table("dim_host").read(spark)
    assert hosts.count() == 20
    ids = [r.host_id for r in hosts.collect()]
    assert len(set(ids)) == 20  # no collisions across discovery batches
    langs = p.wh.table("dim_lang").read(spark)
    assert langs.count() == 10


def test_drop_reason_only_in_quarantine(spark, pages, wh):
    """drop_reason is triage data for quarantined rows: sink tables must
    NOT expose it (it is always-null there by construction), quarantine
    must — and batch sink schema == streaming sink schema."""
    p = _mk(spark, wh, cap=None)
    r = p.run_batch(pages)
    assert r is not None
    for s in r.sink_counts:
        assert "drop_reason" not in p.sink_table(s).columns, s
    q = p.wh.table("quarantine").read(spark)
    assert "drop_reason" in q.columns
    assert q.where(F.col("drop_reason").isNull()).count() == 0


def test_dim_spill_switches_to_table_path(spark, pages, wh, monkeypatch):
    """Once the host dim outgrows DIM_CACHE_LIMIT the pipeline must flip
    permanently to the table-based anti-join path (distributed discovery,
    append-only growth, no driver cache) with sequential-id CONTINUITY
    across the switch — and a fresh Pipeline on the same warehouse must
    come up already spilled. Its stats equal a cached-dims run's."""
    monkeypatch.setattr(pipeline, "DIM_CACHE_LIMIT", 5)
    cfg = PipelineConfig(warehouse=wh, cap=1000)
    p = Pipeline(spark, cfg)
    results = p.run_until_exhausted(pages)
    assert len(results) == 3
    assert p._dims_spilled is True
    assert p._host_rows is None
    assert p.state_tbl.state().get("dims_spilled") is True
    hosts = p.wh.table("dim_host").read(spark).collect()
    assert len(hosts) == 20
    ids = sorted(r.host_id for r in hosts)
    assert ids == list(range(1, 21))  # sequential, no gaps across the switch
    assert p.wh.table("dim_lang").read(spark).count() == 10
    # a new instance resumes spilled and still discovers nothing new
    p2 = Pipeline(spark, cfg)
    assert p2._dims_spilled is True
    assert p2.run_batch(pages) is None
    # parity: same routed rows and stats as an unspilled run
    monkeypatch.undo()
    q = _mk(spark, wh + "_ref", cap=1000)
    q.run_until_exhausted(pages)
    assert q._dims_spilled is False
    for s in ["content", "commerce", "security", "misc"]:
        a = {x.url for x in p.sink_table(s).select("url").collect()}
        b = {x.url for x in q.sink_table(s).select("url").collect()}
        assert a == b, s
    assert p.total_sink_aggregates().toPandas().equals(
        q.total_sink_aggregates().toPandas()
    )
    assert _obs_totals(p) == _obs_totals(q)
    assert _lineage_by_sink(p) == _lineage_by_sink(q)


def test_capped_batch_tasks_are_uniform(spark, pages, wh, monkeypatch):
    """No hot host pins a writer on the one batch partitioning: with ~60% of
    urls moved onto one host, the round-robin shuffle of a capped batch
    still gives write tasks whose rows (per part_id in the lineage table,
    summed over sinks) differ by at most one row per scan partition."""
    # rewrite ~60% of urls onto one hot host (urls stay unique via hash)
    hot_src = pages.withColumn(
        "url",
        F.when(
            F.pmod(F.xxhash64("url"), F.lit(10)) < 6,
            F.concat(
                F.lit("https://hot.example.com/p"),
                F.abs(F.xxhash64("url")).cast("string"),
            ),
        ).otherwise(F.col("url")),
    )
    monkeypatch.setattr(incremental, "ROWS_PER_TASK", 500)
    p = _mk(spark, wh, cap=2000)
    r = p.run_batch(hot_src)
    assert r is not None and r.n_input == 2000
    per_task = [
        x["n"] for x in p.wh.table("lineage").read(spark)
        .groupBy("part_id").agg(F.sum("rows").alias("n")).collect()
    ]
    assert len(per_task) == 4 and sum(per_task) == 2000
    assert max(per_task) - min(per_task) <= hot_src.rdd.getNumPartitions()


@pytest.mark.parametrize("split, n_tasks", [(None, 1), (4, 4)])
def test_capped_batch_tasks_sized_by_rows(spark, pages, wh, monkeypatch, split, n_tasks):
    """A capped batch stages ceil(rows / ROWS_PER_TASK) write tasks (that
    many part_ids, that many files per sink dir), however many files the
    source has: one below the default ROWS_PER_TASK, `split` with
    ROWS_PER_TASK at cap / `split`."""
    assert pages.rdd.getNumPartitions() > 1
    if split is not None:
        monkeypatch.setattr(incremental, "ROWS_PER_TASK", 1500 // split)
    p = _mk(spark, wh, cap=1500)
    r = p.run_batch(pages)
    stage_dir = os.path.join(wh, "_staging", r.batch_id)
    stg = spark.read.parquet(stage_dir)
    assert stg.select("part_id").distinct().count() == n_tasks
    sink_dirs = [d for d in os.listdir(stage_dir) if d.startswith("sink=")]
    assert len(sink_dirs) == 5
    for d in sink_dirs:
        assert len(glob.glob(os.path.join(stage_dir, d, "*.parquet"))) == n_tasks, d


def test_warehouse_maintain_compacts_and_preserves(spark, pages, tmp_path):
    """S12 VACUUM at warehouse scope: after batched runs leave one staging
    dir per (batch, sink), maintain() collapses each sink to one compacted
    snapshot dir, reclaims the superseded staging dirs, and changes no
    data (row sets identical before/after). Resume state survives."""
    wh_path = str(tmp_path / "wm")
    pipe = _mk(spark, wh_path, cap=1100)
    pipe.run_until_exhausted(pages)
    before = {
        s: {x.url for x in pipe.sink_table(s).select("url").collect()}
        for s in ["content", "commerce", "security", "misc"]
    }
    content = pipe.wh.table("sink_content")
    assert len(content.current_snapshot().dirs) == 3  # one per batch

    out = pipe.wh.maintain(spark, keep_snapshots=1, target_partitions=1)
    assert out["sink_content"]["dirs_before"] == 3
    assert out["sink_content"]["dirs_removed"] > 0
    assert len(content.current_snapshot().dirs) == 1

    after = {
        s: {x.url for x in pipe.sink_table(s).select("url").collect()}
        for s in ["content", "commerce", "security", "misc"]
    }
    assert before == after
    # pipeline state (watermark, batch count) untouched by maintenance
    p2 = _mk(spark, wh_path, cap=1100)
    assert p2.run_batch(pages) is None  # still exhausted, resume intact


def test_batch_job_counts_in_sidecar(spark, pages, wh):
    """Each batch's Spark jobs run under the job group pagelog-<batch_id>
    and the sidecar records them per stage: a capped batch runs at most
    6 jobs, the call that finds the source exhausted at most 1, and the
    caller's own job group is restored afterwards."""
    sc = spark.sparkContext
    sc.setJobGroup("caller", "caller's jobs")
    try:
        p = _mk(spark, wh, cap=1500)
        assert len(p.run_until_exhausted(pages)) == 2
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        assert sc.getLocalProperty("spark.job.description") == "caller's jobs"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    mdir = os.path.join(p.state_tbl.path, "_metrics")

    def sidecar(batch_id):
        with open(os.path.join(mdir, f"batch-{batch_id}.json")) as f:
            return json.load(f)

    for b in ("b000001", "b000002"):
        m = sidecar(b)
        assert set(m["stage_jobs"]) == {
            "discover_dims", "parse_route_write", "observe", "fan_out", "aggregate"
        }
        ids = [j for js in m["stage_jobs"].values() for j in js]
        assert m["spark_jobs"] == len(ids) == len(set(ids))
        assert 0 < m["spark_jobs"] <= 6, m["stage_jobs"]
        assert sc.statusTracker().getJobIdsForGroup(f"pagelog-{b}")
    idle = sidecar("b000003")
    assert idle["exhausted"] is True
    assert idle["spark_jobs"] <= 1, idle["stage_jobs"]


def test_recurring_job_group_counts_own_jobs(spark, pages, tmp_path):
    """Fresh warehouses reuse batch id b000001, so the job group
    pagelog-b000001 recurs: each call's sidecar lists only its own jobs."""
    seen = []
    for i in range(2):
        p = _mk(spark, str(tmp_path / f"w{i}"), cap=None)
        assert p.run_batch(pages).batch_id == "b000001"
        with open(os.path.join(p.state_tbl.path, "_metrics", "batch-b000001.json")) as f:
            m = json.load(f)
        ids = [j for js in m["stage_jobs"].values() for j in js]
        assert 0 < m["spark_jobs"] == len(ids) <= 6, m["stage_jobs"]
        seen.append(set(ids))
    assert not seen[0] & seen[1]
    assert seen[0] | seen[1] <= set(
        spark.sparkContext.statusTracker().getJobIdsForGroup("pagelog-b000001")
    )


def test_enrich_route_plan_has_no_rdd_scan(spark, pages, wh):
    """With driver-cached dims, the dims and rules enter the wide pass as
    local relations: no Python-RDD scan (which would need Python workers
    to serve a broadcast) anywhere in the enrich/route plan."""
    p = _mk(spark, wh, cap=None)
    staged = wide_pass(pages, p._host_df(), p._lang_df(), p._rule)
    plan = staged._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


_TZ_DRAIN = """
import json, shutil, sys
from eventanalysis_spark.pipeline import Pipeline, PipelineConfig
from eventanalysis_spark.session import get_spark

pages_path, wh = sys.argv[1], sys.argv[2]
spark = get_spark("tz-drain", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})
pages = spark.read.parquet(pages_path)
sinks = ["content", "commerce", "security", "misc"]

def urls(p):
    return {s: sorted(r.url for r in p.sink_table(s).select("url").collect())
            for s in sinks}

def mk(path, cap):
    return Pipeline(spark, PipelineConfig(warehouse=path, cap=cap))

out = {}
capped = mk(wh + "/capped", 1100)
out["n_batches"] = len(capped.run_until_exhausted(pages, max_batches=8))
out["capped"] = urls(capped)
single = mk(wh + "/single", None)
single.run_batch(pages)
out["single"] = urls(single)
first = mk(wh + "/resume", 1100)
first.run_batch(pages)
second = mk(wh + "/resume", 1100)
out["resumed_batches"] = len(second.run_until_exhausted(pages, max_batches=8))
out["resumed"] = urls(second)
print("RESULT " + json.dumps(out))
"""


@pytest.mark.parametrize("tz", ["Asia/Tokyo", "America/New_York"])
def test_watermark_drain_is_zone_free(pages_path, tmp_path, tz):
    """The watermark never passes through the driver's local time zone: a
    capped drain under a non-UTC driver TZ terminates, ingests exactly
    the rows of one uncapped batch, and a new Pipeline on the same
    warehouse resumes without loss or duplication."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TZ": tz,
           "PYTHONPATH": os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))}
    proc = subprocess.run(
        [sys.executable, "-c", _TZ_DRAIN, pages_path, str(tmp_path / "wh")],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [x for x in proc.stdout.splitlines() if x.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    out = json.loads(lines[-1][len("RESULT "):])
    assert out["n_batches"] == 3  # 3000 rows / cap 1100, then exhausted
    assert out["capped"] == out["single"]
    assert out["resumed_batches"] == 2
    assert out["resumed"] == out["single"]
