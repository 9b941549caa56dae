"""The benchmark's workloads, driven through the package's public API.

ingest_bulk    one uncapped `Pipeline.run_batch` per rep into a fresh
               warehouse: the parse → enrich → route → write pass with one
               batch worth of fixed cost.
updater_cycle  the scheduled-updater shape: capped `run_batch` until the
               source is exhausted, then a fixed mix of reads against the
               warehouse it built (header queries, a keyset page, a
               k-spread sample, aggregates, exports, an archive build)
               repeated until the run's time is up, then archive + purge of
               the oldest month and `Warehouse.maintain`.

Every timed call is one operation. Its result is materialised inside the
timing and checked outside it against the DuckDB reference; a wrong result
counts as a failed operation.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import procstat
import reference as ref_mod
from spans import Tracer

from eventanalysis_spark import datagen
from eventanalysis_spark.operators import aggregate
from eventanalysis_spark.operators.query import (
    HeaderQuery,
    chunked_iter,
    k_spread_sample,
    query_headers,
)
from eventanalysis_spark.pipeline import Pipeline, PipelineConfig
from eventanalysis_spark.sources import archive, exports

SINKS = list(datagen.SINKS)


@dataclass
class Op:
    kind: str          # e.g. "batch", "query.header", "archive.build"
    seconds: float
    ok: bool
    docs: int = 0      # documents ingested by this op
    cpu_s: float = 0.0
    maintenance: bool = False


# Sizes that fit a run of each workload, set-up included, in about a
# minute on 4 cores.
BULK_DOCS = 24000
UPDATER_DOCS = 6000
UPDATER_CAP = 2000
# the batch path keeps speeding up for a couple of batches after the
# first one in a fresh JVM
BULK_WARMUP_REPS = 2


@dataclass
class Run:
    """State shared by one benchmark run."""
    spark: object
    con: object
    tracer: Tracer
    work: str          # scratch dir of this run
    seed: int
    seconds: float
    ops: list[Op] = field(default_factory=list)
    setup_samples: list[float] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)
    batch_stages: list[dict] = field(default_factory=list)
    batch_commits: list[int] = field(default_factory=list)
    staged: list[tuple[int, int]] = field(default_factory=list)  # (files, bytes)
    timed_window: tuple[float, float] = (0.0, 0.0)              # epoch seconds
    dirs_per_table: float = 0.0
    dirs_removed: int = 0

    def record(self, op: Op, problems: list[str]) -> None:
        if problems:
            op.ok = False
            self.problems.extend(f"{op.kind}: {p}" for p in problems)
        self.ops.append(op)


# ---- inputs & warehouses ----------------------------------------------------

def bootstrap_template(spark, path: str) -> None:
    """A warehouse holding only the bootstrapped dims and rules; each rep
    starts from a copy, so bootstrap cost stays out of the timed ops."""
    shutil.rmtree(path, ignore_errors=True)
    Pipeline(spark, PipelineConfig(warehouse=path))


def fresh_pipeline(run: Run, template: str, name: str, cap: int | None) -> Pipeline:
    wh = os.path.join(run.work, name)
    shutil.rmtree(wh, ignore_errors=True)
    t0 = time.perf_counter()
    shutil.copytree(template, wh)
    with run.tracer.span("pipeline.bootstrap", "pipeline"):
        pipe = Pipeline(run.spark, PipelineConfig(warehouse=os.path.abspath(wh), cap=cap))
    run.setup_samples.append(time.perf_counter() - t0)
    return pipe


def _snapshot_count(wh_root: str) -> int:
    n = 0
    for t in os.listdir(wh_root):
        m = os.path.join(wh_root, t, "_manifest.json")
        if os.path.exists(m):
            with open(m) as f:
                n += len(json.load(f)["snapshots"])
    return n


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _d, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, f))
    return files, size


def timed_batch(run: Run, pipe: Pipeline, src):
    """One `run_batch` call as an operation: (BatchResult | None, Op)."""
    trace = run.tracer.enabled
    before = _snapshot_count(pipe.wh.root) if trace else 0
    cpu0 = procstat.tree_cpu_s()
    with run.tracer.span("pipeline.run_batch", "pipeline") as sp:
        res = pipe.run_batch(src)
    cpu = procstat.tree_cpu_s() - cpu0
    docs = res.n_input if res is not None else 0
    if trace and res is not None:
        run.batch_stages.append(dict(res.stages))
        run.batch_commits.append(_snapshot_count(pipe.wh.root) - before)
        run.staged.append(_dir_stats(os.path.join(pipe.wh.root, "_staging", res.batch_id)))
    return res, Op("batch", sp.duration, True, docs=docs, cpu_s=cpu)


# ---- ingest_bulk --------------------------------------------------------------

def ingest_bulk(run: Run, src, template: str, ref) -> None:
    """Reps of one uncapped batch into a fresh warehouse until time is up."""
    deadline = time.perf_counter() + run.seconds
    rep = 0
    while True:
        pipe = fresh_pipeline(run, template, f"bulk-{rep}", cap=None)
        _res, op = timed_batch(run, pipe, src)
        run.record(op, ref_mod.check_ingest(run.con, pipe.wh.root, ref, SINKS))
        shutil.rmtree(pipe.wh.root, ignore_errors=True)
        rep += 1
        if time.perf_counter() >= deadline:
            break


def bulk_warmup(run: Run, src, template: str) -> None:
    """Untimed uncapped reps: the first batch in a fresh JVM costs about
    three steady ones."""
    for rep in range(BULK_WARMUP_REPS):
        pipe = fresh_pipeline(run, template, f"warmup-{rep}", cap=None)
        pipe.run_batch(src)
        shutil.rmtree(pipe.wh.root, ignore_errors=True)
    run.setup_samples.clear()


def one_core_docs_per_s(run: Run, src, template: str) -> float:
    """Throughput of the same uncapped batch on the current (one-core)
    session: one warm-up rep, then one measured rep."""
    rate = 0.0
    for rep in range(2):
        pipe = fresh_pipeline(run, template, f"one-{rep}", cap=None)
        t0 = time.perf_counter()
        res = pipe.run_batch(src)
        rate = res.n_input / (time.perf_counter() - t0)
        shutil.rmtree(pipe.wh.root, ignore_errors=True)
    return rate


# ---- updater_cycle: drain ---------------------------------------------------

def drain(run: Run, pipe: Pipeline, src, ref) -> None:
    """Capped batches until run_batch reports the source exhausted."""
    while True:
        res, op = timed_batch(run, pipe, src)
        if res is None:
            # a drain has one outcome: charge a wrong one to its last call
            run.record(op, ref_mod.check_ingest(run.con, pipe.wh.root, ref, SINKS))
            return
        run.record(op, [])


# ---- updater_cycle: read mix --------------------------------------------------

class ReadMix:
    """Fixed mix of read operations over a drained warehouse. Parameters
    come from the seed; each op's answer is checked in DuckDB over the
    files of the table's current snapshot."""

    def __init__(self, run: Run, pipe: Pipeline):
        self.run, self.pipe = run, pipe
        self.spark, self.con = run.spark, run.con
        rng = random.Random(run.seed)
        days = rng.randrange(5, 60)
        self.ts_min = f"2024-11-{10 + days % 15:02d} 00:00:00"
        self.ts_max = f"2025-01-{1 + days % 25:02d} 00:00:00"
        self.host = datagen.HOSTS[rng.randrange(2)]
        self.month = ["2024-12", "2025-01"][rng.randrange(2)]
        self.out = os.path.join(run.work, "exports-" + os.path.basename(pipe.wh.root))
        self.n_pass = 0
        for s in SINKS:
            files = ref_mod.parquet_list(ref_mod.table_dirs(pipe.wh.root, f"sink_{s}"))
            self.con.execute(f"CREATE OR REPLACE VIEW t_{s} AS "
                             f"SELECT * FROM read_parquet({files})")

    def table(self, sink: str):
        return self.pipe.sink_table(sink)

    def q(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    # each op: (kind, layer, call, check(result) -> problems)
    def ops(self):
        hq = HeaderQuery(ts_min=self.ts_min, ts_max=self.ts_max,
                         event_class="article", limit=100)
        hq_host = HeaderQuery(host=self.host, lang="en", reverse=True, limit=50)
        hq_csv = HeaderQuery(event_class="error", limit=500)
        dim_host = self.pipe.wh.table("dim_host").read(self.spark)
        dim_lang = self.pipe.wh.table("dim_lang").read(self.spark)
        d = os.path.join(self.out, f"p{self.n_pass}")
        self.n_pass += 1

        def urls(rows):
            return [r["url"] for r in rows]

        def same(got, want):
            return [] if got == want else [f"{len(got)} rows vs {len(want)} expected, differ"]

        yield ("query.header", "operators.query",
               lambda: urls(query_headers(self.table("content"), hq).collect()),
               lambda got: same(got, [r[0] for r in self.q(
                   f"SELECT url FROM t_content WHERE warc_ts >= TIMESTAMP '{self.ts_min}' "
                   f"AND warc_ts < TIMESTAMP '{self.ts_max}' AND event_class = 'article' "
                   "ORDER BY warc_ts, url LIMIT 100")]))
        yield ("query.header", "operators.query",
               lambda: urls(query_headers(self.table("misc"), hq_host).collect()),
               lambda got: same(got, [r[0] for r in self.q(
                   f"SELECT url FROM t_misc WHERE host = '{self.host}' AND lang = 'en' "
                   "ORDER BY warc_ts DESC, url DESC LIMIT 50")]))
        yield ("query.keyset_page", "operators.query",
               lambda: self._first_page(self.table("commerce")),
               lambda got: same(got, [r[0] for r in self.q(
                   "SELECT url FROM t_commerce ORDER BY warc_ts, url LIMIT 256")]))
        yield ("query.k_spread", "operators.query",
               lambda: sorted(urls(k_spread_sample(
                   self.table("content"), 20, F.col("event_class") == "forum").collect())),
               lambda got: same(got, self._k_spread_ref(20)))
        yield ("aggregate.overview", "operators.aggregate",
               lambda: sorted((r["host"], r["lang"], r["event_class"], r["ever"], r["n_events"])
                              for r in aggregate.overview(self.table("misc"), dim_host, dim_lang)
                              .collect()),
               lambda got: same(got, sorted(self.q(
                   "SELECT host, lang, event_class, ever, count(*) FROM t_misc GROUP BY ALL"))))
        for period, fmt in (("day", "%Y-%m-%d"), ("week", "%G-W%V"), ("month", "%Y-%m")):
            yield ("aggregate.period_rollup", "operators.aggregate",
                   lambda period=period: [
                       (r["period"], r["n"], r["total_bytes"])
                       for r in aggregate.period_rollup(self.table("content"), period).collect()],
                   lambda got, fmt=fmt: same(got, [tuple(r) for r in self.q(
                       f"SELECT strftime(warc_ts, '{fmt}') AS p, count(*), sum(n_bytes) "
                       "FROM t_content GROUP BY p ORDER BY p")]))
        yield ("aggregate.group_stats", "operators.aggregate",
               lambda: [(r["host"], r["lang"], r["n"], r["first_url"], r["last_url"],
                         r["total_bytes"])
                        for r in aggregate.group_stats(self.table("commerce"), ["host", "lang"])
                        .collect()],
               lambda got: same(got, [tuple(r) for r in self.q(
                   "SELECT host, lang, count(*), min(url), max(url), sum(n_bytes) "
                   "FROM t_commerce GROUP BY ALL ORDER BY host, lang")]))
        yield ("aggregate.sink_totals", "operators.aggregate",
               lambda: [tuple(r) for r in self.pipe.total_sink_aggregates().collect()],
               lambda got: same(got, self._sink_totals_ref()))
        csv_dir = os.path.join(d, "headers.csv")
        yield ("exports.csv", "sources.exports",
               lambda: exports.export_query_csv(
                   self.table("security"), hq_csv, csv_dir,
                   columns=["url", "warc_ts", "host", "event_class"]),
               lambda _r: same(sorted(r[0] for r in self.q(
                   f"SELECT url FROM read_csv('{csv_dir}/*.csv', header = true)")),
                   sorted(r[0] for r in self.q(
                       "SELECT url FROM t_security WHERE event_class = 'error' "
                       "ORDER BY warc_ts, url LIMIT 500"))))
        jsonl_dir = os.path.join(d, "commerce.jsonl")
        yield ("exports.jsonl", "sources.exports",
               lambda: exports.export_jsonl(
                   self.table("commerce").select("url", "warc_ts", "host", "title"),
                   jsonl_dir, shard_rows=2000),
               lambda _r: same(sorted(r[0] for r in self.q(
                   f"SELECT url FROM read_json('{jsonl_dir}/*.json.gz', "
                   "columns = {url: 'VARCHAR'})")),
                   sorted(r[0] for r in self.q("SELECT url FROM t_commerce"))))
        meta_path = os.path.join(d, "metadata.json")
        yield ("exports.metadata_json", "sources.exports",
               lambda: json.loads(exports.export_metadata_json(
                   dim_host, dim_lang, aggregate.overview(self.table("content")), meta_path)),
               lambda doc: same(sorted((h["host"], h["total_events"]) for h in doc["hosts"]),
                                sorted(self.q("SELECT host, count(*) FROM t_content GROUP BY ALL"))))
        yield ("archive.build", "sources.archive",
               lambda: self._archive_rows(os.path.join(d, "archive")),
               lambda n: same([n], [r[0] for r in self.q(
                   f"SELECT count(*) FROM t_content WHERE strftime(warc_ts, '%Y-%m') = "
                   f"'{self.month}'")]))

    def _archive_rows(self, root: str) -> int:
        info = archive.build_archive(self.table("content"), root, self.month,
                                     job="content", allow_current=True)
        return info.n_rows if info is not None else 0

    def _first_page(self, df) -> list[str]:
        pages = chunked_iter(df.select("url", "warc_ts"), chunk=256)
        try:
            return [r["url"] for r in next(pages)[:256]]
        finally:
            pages.close()

    def _k_spread_ref(self, k: int) -> list[str]:
        n = self.q("SELECT count(*) FROM t_content WHERE event_class = 'forum'")[0][0]
        if n == 0:
            return []
        idx = sorted({(n - 1) * i // (k - 1) for i in range(k)})
        return sorted(r[0] for r in self.q(
            "SELECT url FROM (SELECT url, row_number() OVER (ORDER BY warc_ts, url) - 1 AS i "
            "FROM t_content WHERE event_class = 'forum') "
            f"WHERE i IN ({', '.join(map(str, idx))})"))

    def _sink_totals_ref(self) -> list[tuple]:
        parts = " UNION ALL ".join(
            f"SELECT '{s}' AS sink, host, lang, event_class, "
            f"strftime(warc_ts, '%Y-%m-%d') AS bucket FROM t_{s}" for s in SINKS)
        return [tuple(r) for r in self.q(
            f"SELECT sink, host, lang, event_class, bucket, count(*) FROM ({parts}) "
            "GROUP BY ALL ORDER BY sink, host, lang, event_class, bucket")]

    def run_pass(self, record: bool = True) -> None:
        run = self.run
        for kind, layer, call, check in self.ops():
            problems: list[str] = []
            with run.tracer.span(kind, layer) as sp:
                try:
                    result = call()
                except Exception as e:  # a failed read is a failed op, not a crash
                    problems = [f"raised {e!r}"]
            if record:
                run.record(Op(kind, sp.duration, True), problems or check(result))


# ---- updater_cycle: maintenance ---------------------------------------------

def maintain(run: Run, pipe: Pipeline, ref) -> None:
    """Archive and purge the oldest complete month of every sink table,
    then compact and expire the warehouse."""
    month = min(ref.month_of.values())
    y, m = map(int, month.split("-"))
    next_month = f"{y + m // 12}-{m % 12 + 1:02d}"
    wm_ts = pipe.watermark().ts
    for s in SINKS:
        tbl = pipe.wh.table(f"sink_{s}")
        root = os.path.join(run.work, "archives", s)
        with run.tracer.span("archive.build", "sources.archive", maintenance=True) as sp:
            info = archive.build_archive(tbl.read(run.spark), root, month,
                                         job=s, watermark_ts=wm_ts)
        want = len(ref.urls[s]) - len(ref.urls_without_month(s, month))
        run.record(Op("archive.build", sp.duration, True, maintenance=True),
                   [] if info is not None and info.n_rows == want
                   else [f"sink_{s}: archived {info and info.n_rows} vs {want}"])
        with run.tracer.span("archive.purge", "sources.archive", maintenance=True) as sp:
            archive.purge_archived(run.spark, tbl, root, before_month=next_month)
        run.record(Op("archive.purge", sp.duration, True, maintenance=True), [])
    with run.tracer.span("catalog.maintain", "sources.catalog", maintenance=True) as sp:
        res = pipe.wh.maintain(run.spark)
    problems = []
    for s in SINKS:
        got = set(ref_mod.table_urls(run.con, pipe.wh.root, f"sink_{s}"))
        if got != ref.urls_without_month(s, month):
            problems.append(f"sink_{s}: {len(got)} rows after purge+maintain")
    run.record(Op("catalog.maintain", sp.duration, True, maintenance=True), problems)
    run.dirs_removed = sum(v["dirs_removed"] for v in res.values())


def updater_cycle(run: Run, src, template: str, ref) -> None:
    t0 = time.perf_counter()
    pipe = fresh_pipeline(run, template, "updater", cap=UPDATER_CAP)
    drain(run, pipe, src, ref)
    run.dirs_per_table = sum(
        len(ref_mod.table_dirs(pipe.wh.root, f"sink_{s}")) for s in SINKS) / len(SINKS)
    mix = ReadMix(run, pipe)
    while True:
        mix.run_pass()
        if time.perf_counter() - t0 >= run.seconds:
            break
    maintain(run, pipe, ref)


def updater_warmup(run: Run, src, template: str) -> None:
    """One capped batch and one read-mix pass on a throwaway warehouse."""
    pipe = fresh_pipeline(run, template, "warmup", cap=UPDATER_CAP)
    run.setup_samples.clear()
    pipe.run_batch(src)
    ReadMix(run, pipe).run_pass(record=False)
    shutil.rmtree(pipe.wh.root, ignore_errors=True)
