"""M5 — export sinks (S7-S9), extract-spec compiler, archive/purge (S5/S6/
S11/P7/W3), streaming pipeline."""

from __future__ import annotations

import csv
import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from eventanalysis_spark import datagen
from eventanalysis_spark.operators.aggregate import overview
from eventanalysis_spark.operators.parse import parse_pages
from eventanalysis_spark.plans.extract_spec import ExportSpec, compile_spec
from eventanalysis_spark.sources.archive import (
    CurrentMonthError,
    build_archive,
    list_archives,
    month_slice,
    purge_archived,
    read_archive,
)
from eventanalysis_spark.sources.catalog import Warehouse
from eventanalysis_spark.sources.exports import (
    export_csv,
    export_metadata_json,
    export_samples,
    export_spec_csv,
    indent_xml,
)


@pytest.fixture(scope="module")
def parsed_full(spark, pages):
    df = parse_pages(pages, keep_payload=True).persist()
    df.count()
    yield df
    df.unpersist()


# ---- extract spec (§2.10) ---------------------------------------------------

def test_spec_compile_and_transforms(spark, parsed_full):
    spec = ExportSpec(
        jobname="content-dump",
        classes=["article", "forum"],
        columns={
            "page_url": ":page:url",
            "page_host": ":sys:host",
            "version": "unsigned,notempty:sys:ever_raw",
            "klass": ":data:ea:class",
            "reserved": None,
        },
    )
    out = compile_spec(spec, parsed_full)
    pdf = out.toPandas()
    want = parsed_full.where(F.col("event_class").isin(["article", "forum"]))
    assert len(pdf) == want.count()
    assert set(pdf.columns) == {"url", "page_url", "page_host", "version", "klass", "reserved", "_err"}
    assert (pdf.page_url == pdf.url).all()
    assert pdf.reserved.isna().all()
    # unsigned canonicalized hex versions to decimal strings
    assert set(pdf.version.dropna().unique()) <= {"1", "2", "3"}
    assert pdf._err.isna().all()
    assert set(pdf.klass.unique()) <= {"article", "forum"}


def test_spec_json_roundtrip():
    spec = ExportSpec("j", ["a"], {"c": ":sys:host", "r": None})
    spec2 = ExportSpec.from_json(spec.to_json())
    assert spec2 == spec


def test_spec_error_column(spark, parsed_full):
    # notempty on title: rows with empty/missing title must carry _err
    spec = ExportSpec("t", [], {"title_req": "notempty:sys:title"})
    pdf = compile_spec(spec, parsed_full).toPandas()
    n_empty = (pdf._err.notna()).sum()
    want_empty = parsed_full.where(
        F.col("title").isNull() | (F.col("title") == "")
    ).count()
    assert n_empty == want_empty


# ---- CSV / samples / metadata sinks -----------------------------------------

def test_export_csv_and_spec_csv(spark, parsed_full, tmp_path):
    spec = ExportSpec("dump", ["article"], {"u": ":page:url", "h": ":sys:host"})
    out = str(tmp_path / "csv")
    export_spec_csv(parsed_full, spec, out)
    files = glob.glob(f"{out}/*.csv")
    assert files
    rows = []
    for fp in files:
        with open(fp) as f:
            rows.extend(list(csv.DictReader(f)))
    assert len(rows) == parsed_full.where(F.col("event_class") == "article").count()
    assert set(rows[0].keys()) == {"url", "u", "h"}


def test_export_samples(spark, parsed_full, tmp_path):
    paths = export_samples(parsed_full, str(tmp_path / "samples"), k=5)
    assert len(paths) == 5
    content = open(paths[0]).read()
    assert content.startswith("url: https://")


def test_export_samples_names_never_collide(spark, tmp_path):
    """Two sampled urls that differ only in punctuation (or past the name's
    url cut) are written to two files."""
    df = spark.createDataFrame(
        [("https://a.com/x-1", "2024-01-01 00:00:00", "one"),
         ("https://a.com/x_1", "2024-01-01 00:00:01", "two")],
        "url string, ts string, text_extracted string",
    ).select("url", F.col("ts").cast("timestamp").alias("warc_ts"), "text_extracted")
    paths = export_samples(df, str(tmp_path / "samples"), k=2)
    assert len(set(paths)) == 2
    assert len(os.listdir(tmp_path / "samples")) == 2
    assert sorted(open(p).read().rsplit("\n", 1)[-1] for p in paths) == ["one", "two"]


def test_indent_xml_golden():
    """F10 golden: nesting, text-only inline, self-closing normalization,
    inter-element whitespace dropped, document declaration
    (XmlUtilities.cs:95-125 IndentXml analog)."""
    raw = (
        '<Event><System>  <Provider Name="x"/>'
        "<EventID>5</EventID><Empty></Empty></System></Event>"
    )
    assert indent_xml(raw) == (
        "<Event>\n"
        "  <System>\n"
        '    <Provider Name="x" />\n'
        "    <EventID>5</EventID>\n"
        "    <Empty></Empty>\n"
        "  </System>\n"
        "</Event>"
    )
    doc = indent_xml("<a><b>t</b></a>", fragment=False)
    assert doc.startswith('<?xml version="1.0" encoding="utf-8"?>\n<a>')
    assert doc.endswith("</a>\n")
    # malformed input never raises, depth clamps at 0
    assert indent_xml("</b><a>text</a>") == "</b>\n<a>text</a>"
    assert indent_xml("") == ""


def test_export_samples_xml_mode(spark, parsed_full, tmp_path):
    paths = export_samples(
        parsed_full, str(tmp_path / "xml_samples"), k=3, fmt="xml"
    )
    assert len(paths) == 3 and all(p.endswith(".xml") for p in paths)
    content = open(paths[0]).read()
    assert content.startswith('<?xml version="1.0" encoding="utf-8"?>\n<sample ')
    assert content.rstrip().endswith("</sample>")


def test_export_metadata_json(spark, parsed_full, tmp_path):
    ov = overview(parsed_full)
    p = str(tmp_path / "meta.json")
    export_metadata_json(
        datagen.host_info_df(spark), datagen.lang_info_df(spark), ov, p
    )
    doc = json.load(open(p))
    assert len(doc["hosts"]) == 20
    assert doc["hosts"][0]["classes"]  # nested children present
    assert {x["lang"] for x in doc["langs"]} == {r[0] for r in datagen.lang_info_rows()}


# ---- archive / purge ---------------------------------------------------------

def test_archive_lifecycle(spark, pages, tmp_path):
    root = str(tmp_path / "arc")
    # completeness gate: watermark inside the month → refused
    with pytest.raises(CurrentMonthError):
        build_archive(pages, root, "2024-12", watermark_ts="2024-12-15 00:00:00")
    # ADVICE r1: a watermark exactly at the month boundary, in str(datetime)
    # format (space separator), means the month IS complete — must not raise
    info = build_archive(
        pages, root + "_b", "2024-12", watermark_ts="2025-01-01 00:00:00"
    )
    assert info is not None
    import shutil

    shutil.rmtree(root + "_b")
    info = build_archive(pages, root, "2024-12", watermark_ts="2025-02-20 00:00:00")
    assert info is not None
    assert info.n_rows == month_slice(pages, "2024-12").count()
    assert info.name == "cluster.pages.archive.2024-12"
    # collision check
    with pytest.raises(FileExistsError):
        build_archive(pages, root, "2024-12", allow_current=True)
    # read back: row set identical, ordered storage
    back = read_archive(spark, root, info.name)
    assert back.count() == info.n_rows
    assert {r.url for r in back.select("url").collect()} == {
        r.url for r in month_slice(pages, "2024-12").select("url").collect()
    }
    assert list_archives(root)[0].month == "2024-12"
    # empty month → None
    assert build_archive(pages, root, "2030-01", allow_current=True) is None


def test_purge_and_vacuum(spark, pages, tmp_path):
    root = str(tmp_path / "arc")
    wh = Warehouse(str(tmp_path / "wh"))
    t = wh.table("pages")
    t.overwrite(pages)
    n0 = t.read(spark).count()
    info = build_archive(pages, root, "2024-11", allow_current=True)
    purged = purge_archived(spark, t, root, before_month="2024-12")
    assert purged == 1
    n1 = t.read(spark).count()
    assert n1 == n0 - info.n_rows
    # the purged table still reads correctly with fewer snapshots
    removed = t.expire_snapshots(keep_last=1)
    assert removed > 0
    assert t.read(spark).count() == n1


# ---- streaming ---------------------------------------------------------------

def test_streaming_windowed_counts_match_batch(spark, pages, pages_path):
    from eventanalysis_spark.streaming.stream_pipeline import (
        run_windowed_counts_to_memory,
    )

    got = run_windowed_counts_to_memory(spark, pages_path, "wc_test").toPandas()
    want = (
        pages.groupBy(F.window("warc_ts", "1 day").alias("w"), "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "lang", "n")
        .toPandas()
    )
    g = got.set_index(["w_start", "lang"]).n.sort_index()
    w = want.set_index(["w_start", "lang"]).n.sort_index()
    assert g.equals(w)


def _obs_totals(p):
    return {
        r["event_class"]: (r["o"], r["r"], r["d"])
        for r in p.wh.table("observations").read(p.spark)
        .groupBy("event_class")
        .agg(F.sum("n_observed").alias("o"), F.sum("n_routed").alias("r"),
             F.sum("n_dropped").alias("d"))
        .collect()
    }


def _urls(df):
    return {x.url for x in df.select("url").collect()}


def test_streaming_router_exactly_once(spark, pages_path, tmp_path):
    """The streaming router commits each epoch once through the batch
    pipeline: a restart on the same checkpoint adds no snapshot, and a
    replayed epoch id commits nothing. A multi-epoch stream leaves the
    warehouse one uncapped batch leaves: the same sink tables with the
    same columns and url sets, the same per-sink aggregates and the same
    per-class observation totals."""
    from eventanalysis_spark.pipeline import Pipeline, PipelineConfig
    from eventanalysis_spark.streaming.stream_pipeline import start_routing_stream

    wh_path = str(tmp_path / "swh")
    ckpt = str(tmp_path / "ckpt")
    start_routing_stream(
        spark, pages_path, wh_path, ckpt, max_files_per_trigger=4
    ).awaitTermination()
    wh = Warehouse(wh_path)

    def snapshots():
        return {t: len(wh.table(t).snapshots()) for t in wh.tables()}

    before = snapshots()
    stream = Pipeline(spark, PipelineConfig(warehouse=wh_path))
    state = stream.state_tbl.state()
    assert state["n_batches"] > 1
    # restart with same checkpoint: no new data → no commit
    start_routing_stream(
        spark, pages_path, wh_path, ckpt, max_files_per_trigger=4
    ).awaitTermination()
    assert snapshots() == before
    # an epoch id replayed after its commit commits nothing
    ((query_id, last_epoch),) = state["last_epochs"].items()
    assert stream.run_epoch(spark.read.parquet(pages_path), last_epoch, query_id) is None
    assert snapshots() == before
    assert stream.state_tbl.state() == state
    # batch/stream parity: one uncapped batch over the same pages
    pipe = Pipeline(spark, PipelineConfig(warehouse=str(tmp_path / "bwh"), cap=None))
    r = pipe.run_batch(spark.read.parquet(pages_path))
    assert sorted(wh.tables()) == sorted(pipe.wh.tables())
    for s in r.sink_counts:
        batch_df, stream_df = pipe.sink_table(s), stream.sink_table(s)
        assert stream_df.columns == batch_df.columns, s
        assert _urls(stream_df) == _urls(batch_df), s
    assert stream.total_sink_aggregates().toPandas().equals(
        pipe.total_sink_aggregates().toPandas()
    )
    assert _obs_totals(stream) == _obs_totals(pipe)


def test_stream_epochs_grow_dims(spark, pages_path, tmp_path):
    """Stream epochs grow the warehouse dims like batches do: a stream of
    one file per epoch ends with the dims of one uncapped batch, and a
    host first seen in one epoch is enriched (non-null host_id) in every
    later epoch."""
    from eventanalysis_spark.pipeline import Pipeline, PipelineConfig
    from eventanalysis_spark.streaming.stream_pipeline import start_routing_stream

    wh_path = str(tmp_path / "swh")
    start_routing_stream(
        spark, pages_path, wh_path, str(tmp_path / "ckpt"), max_files_per_trigger=1
    ).awaitTermination()
    stream = Pipeline(spark, PipelineConfig(warehouse=wh_path))
    batch = Pipeline(spark, PipelineConfig(warehouse=str(tmp_path / "bwh"), cap=None))
    batch.run_batch(spark.read.parquet(pages_path))

    def dim(p, table, key):
        return sorted(r[key] for r in p.wh.table(table).read(spark).collect())

    assert dim(stream, "dim_host", "host") == dim(batch, "dim_host", "host")
    assert dim(stream, "dim_lang", "lang") == dim(batch, "dim_lang", "lang")
    assert len(dim(stream, "dim_host", "host")) == 20
    assert len(dim(stream, "dim_lang", "lang")) == 10
    ids = dim(stream, "dim_host", "host_id")
    assert len(ids) == len(set(ids))

    n_epochs = stream.state_tbl.state()["n_batches"]
    assert n_epochs > 2
    first_seen: dict[str, int] = {}
    late_new_hosts = 0  # undictionaried hosts checked after their first epoch
    for k in range(1, n_epochs + 1):
        staged = spark.read.parquet(os.path.join(wh_path, "_staging", f"b{k:06d}"))
        for r in staged.select("host", "host_id").distinct().collect():
            if r.host is None:
                continue
            if r.host in first_seen:
                assert r.host_id is not None, (r.host, k, first_seen[r.host])
                late_new_hosts += r.host in datagen.HOSTS[-4:]
            else:
                first_seen[r.host] = k
    assert late_new_hosts > 0


def test_two_streams_into_one_warehouse(spark, pages_pdf, tmp_path):
    """Spark numbers epochs per checkpoint from 0, so the replay guard is
    kept per stream: a second stream (new checkpoint) into a warehouse
    ingests its epoch 0 after the first stream's epoch 0, and a restart of
    the first stream that replays its committed epoch 0 (crash between the
    pipeline commit and the checkpoint commit) adds no snapshot."""
    import shutil

    from eventanalysis_spark.pipeline import QUARANTINE_TABLE, Pipeline, PipelineConfig
    from eventanalysis_spark.streaming.stream_pipeline import start_routing_stream

    half = len(pages_pdf) // 2
    srcs = []
    for name, pdf in (("a", pages_pdf[:half]), ("b", pages_pdf[half:])):
        srcs.append(str(tmp_path / f"src_{name}"))
        spark.createDataFrame(pdf).coalesce(1).write.parquet(srcs[-1])
    wh_path = str(tmp_path / "wh")
    ckpts = [str(tmp_path / "ckpt_a"), str(tmp_path / "ckpt_b")]
    for src, ckpt in zip(srcs, ckpts):
        start_routing_stream(spark, src, wh_path, ckpt).awaitTermination()
    pipe = Pipeline(spark, PipelineConfig(warehouse=wh_path))
    assert pipe.state_tbl.state()["n_batches"] == 2
    tables = [f"sink_{s}" for s in ("content", "commerce", "security", "misc")]
    ingested = set()
    for t in tables + [QUARANTINE_TABLE]:
        ingested |= _urls(pipe.wh.table(t).read(spark))
    assert ingested == set(pages_pdf["url"])

    def snapshots():
        return {t: len(pipe.wh.table(t).snapshots()) for t in pipe.wh.tables()}

    before = snapshots()
    shutil.rmtree(os.path.join(ckpts[0], "commits"))  # epoch 0 replays
    start_routing_stream(spark, srcs[0], wh_path, ckpts[0]).awaitTermination()
    assert os.path.exists(os.path.join(ckpts[0], "commits", "0"))
    assert snapshots() == before


def test_streaming_router_uses_warehouse_dims_and_rules(spark, pages_path, tmp_path):
    """A stream into a warehouse bootstrapped with its own rules and dims
    routes and enriches like that warehouse's batch pipeline: a custom
    rule (article → sink news), a custom registrar and the batch's
    default sink reach the stream's sinks, with the batch sinks' columns,
    urls and registrars. Stream and batch write the same tables, so the
    stream runs into a second warehouse bootstrapped the same way."""
    from eventanalysis_spark.pipeline import Pipeline, PipelineConfig
    from eventanalysis_spark.streaming.stream_pipeline import start_routing_stream

    rules = spark.createDataFrame(
        [("article", 0, True, "news"), ("login", 0, False, "security")],
        "event_class string, min_version int, enabled boolean, sink string",
    )
    hosts = spark.createDataFrame(
        [(i, h, "custom-registrar") for i, h, _ in datagen.host_info_rows()],
        "host_id int, host string, registrar string",
    )

    def bootstrap(name, cap=20000):
        return Pipeline(
            spark,
            PipelineConfig(warehouse=str(tmp_path / name), cap=cap, default_sink="other"),
            host_info=hosts, rules=rules,
        )

    pipe = bootstrap("wh", cap=None)
    counts = pipe.run_batch(spark.read.parquet(pages_path)).sink_counts
    assert counts["news"] > 0 and counts["other"] > 0
    stream = bootstrap("swh")
    start_routing_stream(
        spark, pages_path, str(tmp_path / "swh"), str(tmp_path / "ckpt"),
        default_sink="other",
    ).awaitTermination()

    def rows(df):
        return {(x.url, x.registrar) for x in df.select("url", "registrar").collect()}

    for sink in ("news", "other"):
        batch_df = pipe.sink_table(sink)
        stream_df = stream.sink_table(sink)
        assert stream_df.columns == batch_df.columns
        assert rows(stream_df) == rows(batch_df), sink
    # hosts missing from the dim table enrich to null
    batch_df = pipe.sink_table("news")
    registrars = {x.registrar for x in batch_df.select("registrar").distinct().collect()}
    assert "custom-registrar" in registrars
    assert registrars <= {"custom-registrar", None}


def test_jsonl_roundtrip_sharded(spark, pages, tmp_path):
    from eventanalysis_spark.sources.exports import export_jsonl, read_jsonl

    src = pages.limit(500).select("url", "warc_ts", "text", "lang")
    out = str(tmp_path / "jsonl")
    export_jsonl(
        src.repartition(4), out, shard_rows=100,
        order_within_shard=["url"],
    )
    import glob

    shards = glob.glob(out + "/part-*.json.gz")
    assert len(shards) >= 5  # 500 rows / 100-row cap over 4 partitions
    back = read_jsonl(
        spark, out, "url string, warc_ts timestamp, text string, lang string"
    )
    rows = back.collect()
    # (filtering on _corrupt_record alone is disallowed by Spark on raw
    # JSON scans — inspect it post-collect)
    assert all(r["_corrupt_record"] is None for r in rows)
    a = {tuple(r) for r in src.collect()}
    b = {tuple(r)[:-1] for r in rows}
    assert a == b


def test_jsonl_corrupt_lines_quarantined_not_fatal(spark, tmp_path):
    from eventanalysis_spark.sources.exports import read_jsonl

    p = tmp_path / "bad"
    p.mkdir()
    (p / "a.json").write_text(
        '{"url": "http://a", "n": 1}\nnot json at all\n{"url": "http://b", "n": 2}\n'
    )
    df = read_jsonl(spark, str(p), "url string, n long")
    rows = df.collect()
    assert len(rows) == 3
    assert sum(r["_corrupt_record"] is not None for r in rows) == 1
    assert {r["url"] for r in rows if r["_corrupt_record"] is None} == {
        "http://a", "http://b",
    }
