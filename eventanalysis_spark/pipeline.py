"""The end-to-end parse → enrich → route → aggregate pipeline.

This is the engine's flagship path, the Spark-first rebuild of the
reference's ingest lifecycle (SURVEY.md §3.1):

  reference                               here
  ---------                               ----
  MaxRecordId() watermark                 (warc_ts, url) watermark in table state
  XPath rid>N pushdown into ETW           Catalyst filter → parquet min-max pruning
  per-row XML parse + dim caches          ONE Arrow pandas-UDF parse pass +
                                          broadcast-join enrich (driver-held
                                          dims and rules as local relations)
  ProviderInfoCache.Observe (new dims)    distinct → anti-join → deterministic ids,
                                          committed before facts
  ShouldProcess rule filter               rule-map lookup built once per pipeline
                                          (default-allow), dropped rows still
                                          observed
  buffered insert + txn commit            per-sink snapshot append (atomic manifest)
  tag files (db-updated, last rid)        commit metadata + _metrics sidecars
  -cap 20000 / -repeat loop               bounded batches / run_until_exhausted
                                          (a stream epoch commits through the
                                          same path: run_epoch)

Scale design (100 TB / 1000 executors):
  - ONE wide pass over the batch: parse runs once and streams directly
    into a single partitionBy(sink) columnar write (dropped rows →
    quarantine partition); every downstream stat comes from ONE narrow
    aggregate scan of that staged data instead of re-running the UDF or
    caching the wide frame. While the dims fit the driver cache, that
    aggregate is one Arrow collect, and the per-partition lineage,
    observations, dim discovery and the per-sink aggregate are pyarrow
    roll-ups of it committed from the driver (no Spark job). Past the dim
    ceiling the driver collects it without the host key, and only the
    host-grain outputs (host growth, the per-sink aggregate) stay
    distributed;
  - a capped batch is a bound job, the shuffle of its selected rows, the
    write job and the stats collect;
    a call that finds the source exhausted runs only the bound job;
  - the enrich joins are broadcast (dims are KBs—MBs, held on the driver
    as local relations, so no Python worker serves them) and routing is a
    literal map lookup; the fact side never shuffles for either;
  - a capped batch runs one wide-pass task per ROWS_PER_TASK rows (a
    round-robin shuffle of the selected rows; the scan stays parallel),
    since each task has a fixed Python-worker and writer cost; a batch one
    task wrote is stats-scanned in one task with no shuffle. The
    round-robin spreads rows, not keys, so no hot host can pin a writer:
    write tasks differ by at most one row per scan partition. An uncapped
    batch runs as scanned and a stream epoch as delivered;
  - resume: the watermark commits atomically with data; re-running a
    half-committed batch skips sinks that already recorded the batch_id
    (idempotent), then advances — crash-safe exactly-once overall.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from eventanalysis_spark import datagen
from eventanalysis_spark.functions.scalars import period_key
from eventanalysis_spark.metrics import JobGroup, StageTimer, write_metrics_sidecar
from eventanalysis_spark.operators.enrich import enrich_pages
from eventanalysis_spark.operators.parse import parse_pages_fused
from eventanalysis_spark.operators.route import DEFAULT_SINK, route_by, rule_lookup
from eventanalysis_spark.sources.catalog import Warehouse
from eventanalysis_spark.sources.incremental import (
    Watermark,
    advance,
    max_key,
    next_batch,
)
from eventanalysis_spark.sources.zone import NAME_RE

SINK_PREFIX = "sink_"
QUARANTINE = "__quarantine"
QUARANTINE_TABLE = "quarantine"

# Internal warehouse tables a user-supplied sink must never shadow: a rule
# with sink='agg' would otherwise resolve to the internal 'sink_agg'
# aggregates table, adopt page rows into it, and mark its batch state as
# committed — silently skipping the real aggregate append.
RESERVED_TABLES = frozenset(
    {"_pipeline", "dim_host", "dim_lang", "route_rules",
     "sink_agg", "observations", "lineage", QUARANTINE_TABLE}
)

# fixed schemas of the driver-cached dims (local relations and
# Table.append_rows growth commits); must match the bootstrap DataFrames
_HOST_SCHEMA = StructType([
    StructField("host_id", IntegerType()),
    StructField("host", StringType()),
    StructField("registrar", StringType()),
])
_LANG_SCHEMA = StructType([
    StructField("lang", StringType()),
    StructField("lang_name", StringType()),
])

# the batch stats grain; `bucket` (the period key) completes it
_FINE_KEYS = ("sink", "part_id", "event_class", "host", "lang")
# grain of the per-batch sink_agg rows
_AGG_KEYS = ["sink", "host", "lang", "event_class", "bucket"]
# Driver dim-cache ceiling. Below it, host/lang dims live on the driver
# (the reference's ProviderInfoCache shape: tiny dims enriched as
# broadcast local relations, driver-side sequential ids, and the batch
# stats rolled up on the driver). Once the host dim outgrows it, the
# pipeline PERMANENTLY switches to the table path (flag persisted in
# state): hosts stay in the warehouse table, discovery is a distributed
# anti-join append (operators/enrich.py), the host-grain stats stay
# distributed, and the enrich join stops forcing broadcast so AQE picks
# the join strategy. At web scale hosts exceed 10^7 — a driver cache
# cannot hold them.
DIM_CACHE_LIMIT = 1_000_000
# Staged-write codec: interleaved min-of-4 wide-pass timings at 400k/32c
# measured snappy fastest (2.18-2.38s) vs lz4 (2.40-2.86s) and zstd
# (2.40-2.83s) at BOTH bench split sizes, with output bytes on par with
# lz4 (27.7 vs 29.0 MB). Snappy also decompresses fast for the staged
# stats re-read. Sink tables adopt the staged files in place, so cold data
# is recompressed to zstd by Table.compact (the Iceberg rewrite_data_files
# / reference-vacuum maintenance step, S12).
_STAGING_CODEC = "snappy"


def _row_stats() -> list[Column]:
    """Per-group stats of staged rows. The timestamps become Spark's
    (session-UTC) string form here: zero-padded 'yyyy-MM-dd HH:mm:ss[.f]'
    strings of years 1-9999 order like the timestamps, so roll-ups take
    plain string min/max and lineage keeps Spark's own strings."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.min("warc_ts").cast("string").alias("ts_min"),
        F.max("warc_ts").cast("string").alias("ts_max"),
        F.sum("n_bytes").alias("bytes"),
    ]


def _rollup_stats() -> list[Column]:
    """_row_stats rolled up to a coarser grain, in Spark."""
    return [
        F.sum("n").alias("n"),
        F.min("ts_min").alias("ts_min"),
        F.max("ts_max").alias("ts_max"),
        F.sum("bytes").alias("bytes"),
    ]


_SUM0 = pc.ScalarAggregateOptions(min_count=0)  # all-null sum → 0, not null


def _rollup(
    t: pa.Table,
    keys: list[str],
    aggs: list[tuple[str, str]] = (
        ("n", "sum"), ("ts_min", "min"), ("ts_max", "max"), ("bytes", "sum"),
    ),
) -> pa.Table:
    """_rollup_stats on the driver: a pyarrow group-by whose output columns
    keep their input names (keys first)."""
    out = t.group_by(keys).aggregate(
        [(c, f, _SUM0) if f == "sum" else (c, f) for c, f in aggs]
    )
    cols = [c for c, _ in aggs]
    return out.select(keys + [f"{c}_{f}" for c, f in aggs]).rename_columns(keys + cols)


def _arrow_rows(rows: list[dict], schema: StructType) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))


def _local_df(spark: SparkSession, rows: list[dict], schema: StructType) -> DataFrame:
    """Driver-held rows as a local relation (LocalTableScan). Built from
    Arrow, not from Python tuples, so it is no Python RDD: broadcasting it
    needs no Python worker."""
    return spark.createDataFrame(_arrow_rows(rows, schema), schema)


def _keyed(pages: DataFrame) -> DataFrame:
    """The rows a batch or epoch ingests: a null url or warc_ts has no
    place in the watermark order (and, sorting first under ASC NULLS
    FIRST, would wedge a capped drain)."""
    return pages.where(F.col("url").isNotNull() & F.col("warc_ts").isNotNull())


def wide_pass(
    pages: DataFrame,
    host_info: DataFrame,
    lang_info: DataFrame,
    rule: Column,
    default_sink: str = DEFAULT_SINK,
    broadcast_host: bool = True,
) -> DataFrame:
    """The transformation graph shared by the batch pipeline and the
    streaming router: parse (with the fused text features) → enrich →
    route by the `rule_lookup` column `rule`, with the target sink
    (QUARANTINE for dropped rows) and the write task's partition id.
    Features ride the same Arrow batch as the parse — measured 4.3s/1.6M
    docs cheaper than equivalent JVM expressions appended after the UDF
    (each is another full pass over the text column)."""
    enriched = enrich_pages(
        parse_pages_fused(pages), host_info, lang_info, broadcast_host=broadcast_host
    )
    return route_by(enriched, rule, default_sink).withColumns({
        "sink": F.when(F.col("allowed"), F.col("sink")).otherwise(F.lit(QUARANTINE)),
        "part_id": F.spark_partition_id(),
    }).drop("allowed")


def validate_sink_name(sink: str) -> None:
    """Reject sinks that are malformed or would shadow an internal table."""
    if not isinstance(sink, str) or not NAME_RE.match(sink):
        raise ValueError(
            f"invalid sink name {sink!r}: must match "
            "^[a-z][a-z0-9]*([-_][a-z0-9]+)*$ (EventJobConfig.cs:58)"
        )
    if f"{SINK_PREFIX}{sink}" in RESERVED_TABLES or sink in RESERVED_TABLES:
        raise ValueError(
            f"sink name {sink!r} is reserved: table "
            f"'{SINK_PREFIX}{sink}' would shadow an internal pipeline table"
        )


@dataclass
class PipelineConfig:
    warehouse: str
    cap: int | None = 20000
    period: str = "day"
    default_sink: str = DEFAULT_SINK


@dataclass
class BatchResult:
    batch_id: str
    n_input: int
    n_routed: int
    sink_counts: dict[str, int] = field(default_factory=dict)
    new_hosts: int = 0
    new_langs: int = 0
    seconds: float = 0.0
    docs_per_sec: float = 0.0
    watermark: dict | None = None
    stages: dict[str, float] = field(default_factory=dict)


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        config: PipelineConfig,
        host_info: DataFrame | None = None,
        lang_info: DataFrame | None = None,
        rules: DataFrame | None = None,
    ):
        self.spark = spark
        self.cfg = config
        self.wh = Warehouse(config.warehouse)
        self.state_tbl = self.wh.table("_pipeline")
        # bootstrap dims/rules into warehouse tables on first run
        self.host_tbl = self.wh.table("dim_host")
        self.lang_tbl = self.wh.table("dim_lang")
        self.rules_tbl = self.wh.table("route_rules")
        if not self.host_tbl.exists():
            self.host_tbl.overwrite(host_info or datagen.host_info_df(spark))
        if not self.lang_tbl.exists():
            self.lang_tbl.overwrite(lang_info or datagen.lang_info_df(spark))
        if not self.rules_tbl.exists():
            self.rules_tbl.overwrite(rules or datagen.route_rules_df(spark))
        # driver-side dim caches (the reference's ProviderInfoCache/J4 shape):
        # dims are tiny; keeping them on the driver avoids re-reading parquet
        # every batch and makes the enrich joins broadcast-from-local.
        # Once the host dim has outgrown DIM_CACHE_LIMIT (flag persisted in
        # state), hosts stay in the warehouse table — no driver cache.
        self._dims_spilled = bool(self.state_tbl.state().get("dims_spilled", False))
        self._host_rows = (
            None
            if self._dims_spilled
            else [r.asDict() for r in self.host_tbl.read(spark).collect()]
        )
        self._lang_rows = [r.asDict() for r in self.lang_tbl.read(spark).collect()]
        # validate the rule table up front (rules are user input): every
        # sink name must be legal, and no two rules may claim the same
        # event class — the router broadcast-joins on event_class, so a
        # duplicate would silently DUPLICATE every fact row of that class
        # (the JobRegistry.cs:52-68 duplicate-channel rejection, which
        # exists for exactly this reason)
        rules_df = self.rules_tbl.read(spark)
        rule_rows = rules_df.collect()
        for s in {r["sink"] for r in rule_rows} | {config.default_sink}:
            validate_sink_name(s)
        seen_cls: dict[str, tuple] = {}
        for r in rule_rows:
            key = (r["sink"], r["min_version"], r["enabled"])
            prev = seen_cls.get(r["event_class"])
            if prev is not None and prev != key:
                raise ValueError(
                    f"Duplicate channel name '{r['event_class']}' (jobs "
                    f"'{r['sink']}' and '{prev[0]}'): two differing rules "
                    "for one event class would duplicate its rows through "
                    "the routing join"
                )
            seen_cls[r["event_class"]] = key
        # the rules as a local relation built once from the validated rows;
        # exact re-registration replaces (JobRegistry.Register dict
        # semantics): one row per event class keeps routing 1:1
        unique = {r["event_class"]: r.asDict() for r in rule_rows}
        self._rules_df = _local_df(spark, list(unique.values()), rules_df.schema)
        # the per-row rule lookup, built once: every batch routes with it
        self._rule = rule_lookup(self._rules_df)

    def _host_df(self) -> DataFrame:
        if self._dims_spilled:
            return self.host_tbl.read(self.spark)
        return _local_df(self.spark, self._host_rows, _HOST_SCHEMA)

    def _lang_df(self) -> DataFrame:
        return _local_df(self.spark, self._lang_rows, _LANG_SCHEMA)

    def _grow_dims(self, seen_hosts: set, seen_langs: set, batch_id: str) -> tuple[int, int]:
        """Deterministic sequential id assignment for newly observed keys
        (driver-side over the tiny new-key set; the reference does exactly
        this on its single thread, ProviderInfoCache.cs:92-136). Commits
        are APPEND-ONLY driver-side arrow writes of just the new rows — no
        Spark job, no full-dim rewrite. When the host cache outgrows
        DIM_CACHE_LIMIT the pipeline flips to the table path
        (_grow_hosts_table) permanently."""
        n_h = n_l = 0
        new_hosts = (
            sorted(seen_hosts - {r["host"] for r in self._host_rows})
            if seen_hosts and self._host_rows is not None
            else []
        )
        if new_hosts and self.host_tbl.state().get("last_batch") != batch_id:
            next_id = max((r["host_id"] for r in self._host_rows), default=0) + 1
            rows = [
                {"host_id": next_id + i, "host": h, "registrar": None}
                for i, h in enumerate(new_hosts)
            ]
            self._host_rows.extend(rows)
            n_h = len(new_hosts)
            self.host_tbl.append_rows(
                _arrow_rows(rows, _HOST_SCHEMA),
                meta={"batch": batch_id},
                state_update={"last_batch": batch_id},
            )
            if len(self._host_rows) > DIM_CACHE_LIMIT:
                # permanent switch to the table path; flag rides the next
                # watermark commit and every future Pipeline sees it
                self._dims_spilled = True
                self._host_rows = None
        new_langs = sorted(seen_langs - {r["lang"] for r in self._lang_rows})
        if new_langs and self.lang_tbl.state().get("last_batch") != batch_id:
            rows = [{"lang": lg, "lang_name": None} for lg in new_langs]
            self._lang_rows.extend(rows)
            n_l = len(new_langs)
            self.lang_tbl.append_rows(
                _arrow_rows(rows, _LANG_SCHEMA),
                meta={"batch": batch_id},
                state_update={"last_batch": batch_id},
            )
        return n_h, n_l

    def _grow_hosts_table(self, batch_hosts: DataFrame, batch_id: str) -> int:
        """Scale path for host-dim growth (dims too big for the driver):
        distinct batch hosts anti-join the dim TABLE, sequential ids
        continue from the table max (ProviderInfoCache.cs:126 numbering,
        distributed), and ONLY the new rows are appended. No driver-side
        host set, no full-dim rewrite — O(new keys) work per batch."""
        from eventanalysis_spark.operators.enrich import assign_ids, discover_new_keys

        if self.host_tbl.state().get("last_batch") == batch_id:
            return self.host_tbl.state().get("last_batch_new", 0)
        dim = self.host_tbl.read(self.spark)
        new = discover_new_keys(
            batch_hosts.select("host"), dim, ["host"], broadcast=False
        )
        start = dim.agg(F.max("host_id").alias("m")).collect()[0]["m"] or 0
        new_ids = (
            assign_ids(new, "host_id", ["host"], start_after=start)
            .select(
                "host_id", "host", F.lit(None).cast("string").alias("registrar")
            )
            .persist()
        )
        n_new = new_ids.count()
        if n_new:
            self.host_tbl.append(
                new_ids, meta={"batch": batch_id},
                state_update={"last_batch": batch_id, "last_batch_new": n_new},
                coalesce=1,
            )
        else:
            self.host_tbl.set_state(last_batch=batch_id, last_batch_new=0)
        new_ids.unpersist()
        return n_new

    # ---- state ---------------------------------------------------------
    def watermark(self) -> Watermark:
        return Watermark.from_state(self.state_tbl.state())

    def _next_batch_id(self) -> str:
        n = self.state_tbl.state().get("n_batches", 0)
        return f"b{n + 1:06d}"

    # ---- one batch -------------------------------------------------------
    def run_batch(self, source: DataFrame) -> BatchResult | None:
        """Process one capped batch above the watermark. Returns None when
        the source is exhausted (the reference's increment==0 signal).

        Single-wide-pass design: the expensive parse UDF runs EXACTLY ONCE,
        streamed straight into one partitionBy(sink) parquet write (dropped
        rows land in a quarantine partition). Every downstream number —
        counts, observation stats, per-sink aggregates, per-partition
        lineage, dim discovery — is rolled up from ONE narrow aggregate
        scan of the written staging data (no UDF re-run, no wide cache).

        Every Spark job of the call runs under the job group
        `pagelog-<batch_id>` with its stage as the job description; the
        per-stage job ids go to the `_metrics/batch-<batch_id>.json`
        sidecar (also written, marked exhausted, when nothing was left)."""
        batch_id = self._next_batch_id()
        # "discover_dims" times the bound job; BatchResult.stages readers
        # key on the stage names
        with JobGroup(
            self.spark.sparkContext, f"pagelog-{batch_id}", "discover_dims"
        ) as jobs:
            timer = StageTimer()
            wm = self.watermark()
            batch = next_batch(_keyed(source), wm, self.cfg.cap)
            if batch is None:  # capped bound found nothing above the watermark
                return self._exhausted(batch_id, timer, jobs)
            return self._commit(batch, batch_id, wm, timer, jobs)

    def run_epoch(
        self, pages: DataFrame, epoch_id: int, stream_id: str
    ) -> BatchResult | None:
        """Commit one Structured Streaming micro-batch (called from the
        `foreachBatch` function of `start_routing_stream`) exactly like a
        batch: every valid row of `pages`, with no watermark filter and no
        cap, since a stream delivers each row once and a later file may
        hold older pages. The watermark still advances to the highest key
        committed. `stream_id` names the stream and must stay the same
        across its restarts (the query id of its checkpoint): Spark numbers
        each checkpoint's epochs from 0, so the state keeps the last epoch
        per stream. Returns None, committing nothing, for the epoch id the
        stream's last epoch commit recorded (a replay after a restart), or
        for an empty epoch."""
        if self.state_tbl.state().get("last_epochs", {}).get(stream_id) == epoch_id:
            return None
        batch_id = self._next_batch_id()
        with JobGroup(
            self.spark.sparkContext, f"pagelog-{batch_id}", "discover_dims"
        ) as jobs:
            return self._commit(
                _keyed(pages), batch_id, self.watermark(), StageTimer(), jobs,
                epoch=(stream_id, epoch_id),
            )

    def _exhausted(self, batch_id: str, timer: StageTimer, jobs: JobGroup) -> None:
        timer.lap(jobs.stage)
        jobs.next_stage(None)
        write_metrics_sidecar(
            self.state_tbl.path, batch_id,
            {"batch_id": batch_id, "exhausted": True, "n_input": 0,
             "stage_seconds": dict(timer.stages),
             "stage_jobs": jobs.stage_jobs, "spark_jobs": jobs.n_jobs(),
             "committed_at": time.time()},
        )

    def _commit(
        self,
        batch: DataFrame,
        batch_id: str,
        wm: Watermark,
        timer: StageTimer,
        jobs: JobGroup,
        epoch: tuple[str, int] | None = None,
    ) -> BatchResult | None:
        """The wide pass over the selected `batch` and every commit of it,
        the watermark (and the `(stream_id, epoch_id)` of a stream epoch)
        last. Returns None when `batch` holds no row."""

        def lap(next_stage: str | None = None) -> None:
            timer.lap(jobs.stage)
            jobs.next_stage(next_stage)

        lap("parse_route_write")

        # -- THE wide pass: parse → enrich → route → partitioned write
        staged = wide_pass(
            batch, self._host_df(), self._lang_df(), self._rule,
            self.cfg.default_sink, broadcast_host=not self._dims_spilled,
        )
        stage_dir = os.path.join(self.wh.root, "_staging", batch_id)
        wm_bound_row = None
        if not os.path.exists(os.path.join(stage_dir, "_SUCCESS")):
            # the watermark bound max(ts,url) rides the write job as an
            # Observation — zero extra scan, and the stats scan below
            # then never touches the wide url column
            wm_obs = Observation(f"wm-{batch_id}")
            (staged.observe(wm_obs, max_key().alias("mx"))
             .write.mode("overwrite")
             .option("compression", _STAGING_CODEC)
             .partitionBy("sink").parquet(stage_dir))
            wm_bound_row = wm_obs.get["mx"]
        lap("observe")

        # exhausted uncapped source → the partitioned write produced no sink dirs
        sink_dirs = [d for d in os.listdir(stage_dir) if d.startswith("sink=")]
        if not sink_dirs:
            shutil.rmtree(stage_dir, ignore_errors=True)
            return self._exhausted(batch_id, timer, jobs)
        # one data file per write task and sink, known from a pure
        # driver-side listing
        n_staged_files = sum(
            1
            for _r, _d, _fs in os.walk(stage_dir)
            for f in _fs
            if f.endswith(".parquet")
        )

        # -- all stats from ONE staged scan: a map-side-partial hash
        # aggregate at (sink, part_id, event_class, host, lang, bucket)
        # grain. part_id is in the grain, so the map-side combine is
        # perfect (each write task owns one part_id) and the shuffled
        # volume is the per-task distinct-combo count, not rows. A batch
        # one task wrote (one file per sink dir) is scanned in one task
        # too, and its aggregate then needs no shuffle and no job of its
        # own. The staged dir is read with the wide pass's own schema (no
        # inference job).
        stg = self.spark.read.schema(staged.schema).parquet(stage_dir)
        if n_staged_files == len(sink_dirs):
            stg = stg.coalesce(1)
        fine_grain = stg.groupBy(
            *_FINE_KEYS,
            period_key(F.col("warc_ts"), self.cfg.period).alias("bucket"),
        ).agg(*_row_stats())
        if not self._dims_spilled:
            # the fine grain (10^3-10^4 rows per batch while dims fit the
            # driver cache) is ONE Arrow collect; everything below rolls
            # up from it with pyarrow group-bys
            fine = fine_grain.toArrow()
            fine_grain = None
        else:
            # spilled dims: the host-keyed fine grain stays distributed
            # (persisted) for the host-grain outputs; the driver collects
            # the grain without host and bucket, bounded by write tasks x
            # sinks x classes x langs like the write job's commit messages
            fine_grain = fine_grain.persist()
            fine = (
                fine_grain.groupBy("sink", "part_id", "event_class", "lang")
                .agg(*_rollup_stats()).toArrow()
            )
        n_input = pc.sum(fine["n"]).as_py() or 0

        # resume (write skipped, no Observation): one narrow 2-column scan
        if wm_bound_row is None:
            wm_bound_row = stg.select(max_key().alias("mx")).collect()[0]["mx"]
        by_sink = _rollup(fine, ["sink"], [("n", "sum")])
        sink_rows = dict(zip(by_sink["sink"].to_pylist(), by_sink["n"].to_pylist()))
        bounds = (wm_bound_row["us"], wm_bound_row["url"])
        lap("fan_out")

        # -- adopt staged partitions into the sink tables (in place, no move)
        sink_counts: dict[str, int] = {}
        for s in sorted(sink_rows):
            n_rows = sink_rows[s]
            src_dir = os.path.join(stage_dir, f"sink={s}")
            name = QUARANTINE_TABLE if s == QUARANTINE else f"{SINK_PREFIX}{s}"
            tbl = self.wh.table(name)
            if tbl.state().get("last_batch") == batch_id:
                if s != QUARANTINE:
                    sink_counts[s] = tbl.state().get("last_batch_rows", 0)
                continue  # resume: this sink already committed this batch
            if os.path.exists(src_dir):
                tbl.register_dir(
                    src_dir,
                    meta={"batch": batch_id, "rows": n_rows,
                          "watermark_from": wm.to_state()},
                    state_update={"last_batch": batch_id, "last_batch_rows": n_rows},
                    # drop_reason is quarantine-only triage data; routed
                    # sink partitions carry it always-null (single
                    # partitionBy write), so sink tables project it away
                    read_drop=None if s == QUARANTINE else ["drop_reason"],
                )
            if s != QUARANTINE:
                sink_counts[s] = n_rows
        n_routed = sum(sink_counts.values())
        lap("aggregate")

        # -- per-partition lineage, observation stats ("observe even
        # ignored events", EventImportJob.cs:93-94) and the per-sink
        # north-rule aggregate, quarantine included. Each commit is
        # idempotent under its own last_batch guard, all before the
        # watermark advances (the overall commit point).
        def batch_col(t: pa.Table) -> pa.Array:
            return pa.array([batch_id] * t.num_rows, pa.string())

        meta, guard = {"batch": batch_id}, {"last_batch": batch_id}
        lineage_tbl = self.wh.table("lineage")
        if lineage_tbl.state().get("last_batch") != batch_id:
            parts = _rollup(fine, ["sink", "part_id"]).sort_by(
                [("sink", "ascending"), ("part_id", "ascending")]
            ).rename_columns(["sink", "part_id", "rows", "ts_min", "ts_max", "bytes"])
            lineage_tbl.append_rows(
                parts.append_column("batch_id", batch_col(parts)),
                meta=meta, state_update=guard,
            )
        obs_tbl = self.wh.table("observations")
        if obs_tbl.state().get("last_batch") != batch_id:
            dropped = pc.if_else(pc.equal(fine["sink"], QUARANTINE), fine["n"], 0)
            obs = _rollup(
                fine.append_column("n_dropped", dropped),
                ["event_class"], [("n", "sum"), ("n_dropped", "sum")],
            ).sort_by("event_class")
            obs_tbl.append_rows(
                pa.table({
                    "event_class": obs["event_class"],
                    "n_observed": obs["n"],
                    "n_routed": pc.subtract(obs["n"], obs["n_dropped"]),
                    "n_dropped": obs["n_dropped"],
                    "batch_id": batch_col(obs),
                }),
                meta=meta, state_update=guard,
            )
        agg_tbl = self.wh.table("sink_agg")
        if agg_tbl.state().get("last_batch") != batch_id:
            if fine_grain is None:
                agg = _rollup(fine, _AGG_KEYS, [("n", "sum")])
                agg_tbl.append_rows(
                    agg.append_column("batch_id", batch_col(agg)),
                    meta=meta, state_update=guard,
                )
            else:
                agg_tbl.append(
                    fine_grain.groupBy(*_AGG_KEYS).agg(F.sum("n").alias("n"))
                    .withColumn("batch_id", F.lit(batch_id)),
                    meta=meta, state_update=guard,
                )

        # dimension discovery from the same grain (no extra scan, and on
        # resume no read-back); new dim keys get their ids here, so they
        # attach to facts from the NEXT batch on
        langs = set(pc.unique(fine["lang"]).drop_null().to_pylist())
        if fine_grain is None:
            hosts = set(pc.unique(fine["host"]).drop_null().to_pylist())
            n_new_hosts, n_new_langs = self._grow_dims(hosts, langs, batch_id)
        else:
            # table path: hosts never touch the driver
            batch_hosts = fine_grain.select("host").where(
                F.col("host").isNotNull()
            ).distinct()
            n_new_hosts = self._grow_hosts_table(batch_hosts, batch_id)
            _, n_new_langs = self._grow_dims(set(), langs, batch_id)
            fine_grain.unpersist()

        # -- advance watermark (the overall batch commit point)
        new_wm = advance(bounds, wm)
        state = self.state_tbl.state()
        stream_id, epoch_id = epoch or (None, None)
        epochs = {} if epoch is None else {
            "last_epochs": {**state.get("last_epochs", {}), stream_id: epoch_id}
        }
        self.state_tbl.set_state(
            **new_wm.to_state(), n_batches=state.get("n_batches", 0) + 1,
            last_batch=batch_id, dims_spilled=self._dims_spilled, **epochs,
        )
        lap()

        total = timer.total()
        result = BatchResult(
            batch_id=batch_id,
            n_input=n_input,
            n_routed=n_routed,
            sink_counts=sink_counts,
            new_hosts=n_new_hosts,
            new_langs=n_new_langs,
            seconds=total,
            docs_per_sec=n_input / total if total > 0 else 0.0,
            watermark=new_wm.to_state(),
            stages=dict(timer.stages),
        )
        write_metrics_sidecar(
            self.state_tbl.path,
            batch_id,
            {
                "batch_id": batch_id,
                "n_input": n_input,
                "n_routed": n_routed,
                "sink_counts": sink_counts,
                "docs_per_sec": result.docs_per_sec,
                "stage_seconds": result.stages,
                "stage_jobs": jobs.stage_jobs,
                "spark_jobs": jobs.n_jobs(),
                "watermark": result.watermark,
                "stage_dir": stage_dir,
                "stream_id": stream_id,
                "epoch_id": epoch_id,
                "committed_at": time.time(),
            },
        )
        return result

    def run_until_exhausted(self, source: DataFrame, max_batches: int = 1000) -> list[BatchResult]:
        """The -repeat loop (AppUpdate.fs:66-80): batches until increment 0."""
        out: list[BatchResult] = []
        for _ in range(max_batches):
            r = self.run_batch(source)
            if r is None:
                break
            out.append(r)
        return out

    # ---- readback helpers -----------------------------------------------
    def sink_table(self, sink: str) -> DataFrame:
        return self.wh.table(f"{SINK_PREFIX}{sink}").read(self.spark)

    def total_sink_aggregates(self) -> DataFrame:
        """Collapse per-batch additive aggregates to current totals
        (quarantined/dropped rows excluded — they are observation-only)."""
        agg = self.wh.table("sink_agg").read(self.spark).where(
            F.col("sink") != QUARANTINE
        )
        return (
            agg.groupBy("sink", "host", "lang", "event_class", "bucket")
            .agg(F.sum("n").alias("n"))
            .orderBy("sink", "host", "lang", "event_class", "bucket")
        )
