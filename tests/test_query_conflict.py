"""Query operators (P1/O1-O3/W2/A7) + conflict modes (U1/U2) + warehouse
snapshot semantics (S10-S12/T4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eventanalysis_spark.operators.conflict import (
    ConflictMode,
    DuplicateKeyError,
    merge_upsert,
    resolve_conflicts,
)
from eventanalysis_spark.operators.parse import parse_pages
from eventanalysis_spark.operators.query import (
    HeaderQuery,
    first_event,
    k_spread_sample,
    query_headers,
    query_ids,
    resolve_host,
)
from eventanalysis_spark.sources.catalog import Warehouse


@pytest.fixture(scope="module")
def parsed(spark, pages):
    df = parse_pages(pages).persist()
    df.count()
    yield df
    df.unpersist()


# ---- HeaderQuery (P1/O1/O2) -------------------------------------------------

def test_conjunctive_predicate_matches_pandas(spark, parsed):
    q = HeaderQuery(
        ts_min="2024-12-01", ts_max="2025-01-15", event_class="article", reverse=False
    )
    got = query_headers(parsed, q).toPandas()
    pdf = parsed.toPandas()
    want = pdf[
        (pdf.warc_ts >= "2024-12-01")
        & (pdf.warc_ts < "2025-01-15")
        & (pdf.event_class == "article")
    ]
    assert len(got) == len(want)
    assert set(got.url) == set(want.url)
    # ordering: (warc_ts, url) ascending
    assert got[["warc_ts", "url"]].apply(tuple, axis=1).is_monotonic_increasing


def test_limit_and_reverse(spark, parsed):
    q = HeaderQuery(lang="en", reverse=True, limit=10)
    got = query_headers(parsed, q).toPandas()
    assert len(got) == 10
    pdf = parsed.toPandas()
    want = (
        pdf[pdf.lang == "en"]
        .sort_values(["warc_ts", "url"], ascending=False)
        .head(10)
    )
    assert list(got.url) == list(want.url)


def test_id_projection(spark, parsed):
    q = HeaderQuery(classes=["error", "login"])
    out = query_ids(parsed, q)
    assert out.columns == ["url"]
    assert out.count() == parsed.where(
        F.col("event_class").isin(["error", "login"])
    ).count()


def test_predicate_pushdown_in_plan(spark, pages):
    """The lang filter must reach the parquet scan (below the parse UDF)."""
    from eventanalysis_spark.operators.parse import parse_pages as pp

    df = pp(pages.where(F.col("lang") == "en"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "lang" in plan.split("PushedFilters:")[1][:200]


def test_first_last_probe(spark, parsed):
    first = first_event(parsed).collect()[0]
    last = first_event(parsed, reverse=True).collect()[0]
    pdf = parsed.select("warc_ts", "url").toPandas().sort_values(["warc_ts", "url"])
    assert (first.warc_ts, first.url) == tuple(pdf.iloc[0])
    assert (last.warc_ts, last.url) == tuple(pdf.iloc[-1])


def test_k_spread_sample_formula(spark, parsed):
    """Exact index parity with ⌊(n−1)·i/(k−1)⌋ (AppSamples.fs:131-139)."""
    k = 7
    sub = parsed.where(F.col("event_class") == "product")
    got = k_spread_sample(sub, k).select("url", "warc_ts").toPandas()
    pdf = (
        sub.select("url", "warc_ts")
        .toPandas()
        .sort_values(["warc_ts", "url"])
        .reset_index(drop=True)
    )
    n = len(pdf)
    idx = sorted({(n - 1) * i // (k - 1) for i in range(k)})
    assert sorted(got.url) == sorted(pdf.iloc[idx].url)
    # k=1 → most recent
    one = k_spread_sample(sub, 1).collect()
    assert len(one) == 1
    assert one[0].url == pdf.iloc[-1].url


_TZ_K_SPREAD = """
import json
from pyspark.sql import functions as F
from eventanalysis_spark.operators.query import k_spread_sample
from eventanalysis_spark.session import get_spark

spark = get_spark("tz-k-spread", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})
# four rows an hour apart across the 2024-11-03 US fall-back hour
df = spark.createDataFrame(
    [(f"http://h/{h}", f"2024-11-03T0{h}:30:00Z") for h in (4, 5, 6, 7)],
    "url string, ts string",
).select("url", F.to_timestamp("ts").alias("warc_ts"))
got = k_spread_sample(df, 4).select(
    "url", F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("ts")
)
print("RESULT " + json.dumps(sorted(tuple(r) for r in got.collect())))
"""


def test_k_spread_sample_is_zone_free(tmp_path):
    """The sampled rows come back with the timestamps they had: under a
    driver TZ with a repeated local hour (America/New_York fall-back) no
    row is shifted. The session zone is UTC, so `ts` is the UTC time."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TZ": "America/New_York",
           "PYTHONPATH": os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))}
    proc = subprocess.run(
        [sys.executable, "-c", _TZ_K_SPREAD],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [x for x in proc.stdout.splitlines() if x.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    got = [tuple(r) for r in json.loads(lines[-1][len("RESULT "):])]
    assert got == [(f"http://h/{h}", f"2024-11-03 0{h}:30:00") for h in (4, 5, 6, 7)]


def test_resolve_host_disambiguation():
    rows = [
        {"host_id": 1, "host": "pages.hothost-alpha.com"},
        {"host_id": 2, "host": "cdn.hothost-beta.net"},
        {"host_id": 3, "host": "www.example.org"},
    ]
    assert resolve_host(rows, "2") == (2, "cdn.hothost-beta.net")
    assert resolve_host(rows, "WWW.EXAMPLE.ORG") == (3, "www.example.org")
    assert resolve_host(rows, "beta") == (2, "cdn.hothost-beta.net")
    with pytest.raises(KeyError, match="ambiguous"):
        resolve_host(rows, "hothost")
    with pytest.raises(KeyError, match="no host"):
        resolve_host(rows, "nosuch")


# ---- conflict modes (U1/U2) -------------------------------------------------

@pytest.fixture()
def dup_rows(spark):
    return spark.createDataFrame(
        [
            ("u1", "2024-01-01 00:00:00", "a"),
            ("u1", "2024-01-02 00:00:00", "b"),
            ("u2", "2024-01-01 00:00:00", "c"),
        ],
        "key string, ts string, val string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_conflict_default_raises(dup_rows):
    with pytest.raises(DuplicateKeyError):
        resolve_conflicts(dup_rows, ["key"], ConflictMode.DEFAULT)


def test_conflict_replace_and_ignore(dup_rows):
    last = resolve_conflicts(dup_rows, ["key"], "replace", order_by=["ts", "val"])
    got = {r.key: r.val for r in last.collect()}
    assert got == {"u1": "b", "u2": "c"}
    first = resolve_conflicts(dup_rows, ["key"], "ignore", order_by=["ts", "val"])
    got = {r.key: r.val for r in first.collect()}
    assert got == {"u1": "a", "u2": "c"}


def test_merge_upsert(spark, dup_rows):
    existing = spark.createDataFrame(
        [("u1", "2023-12-01 00:00:00", "old"), ("u9", "2023-12-01 00:00:00", "keep")],
        "key string, ts string, val string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    replaced = merge_upsert(existing, dup_rows, ["key"], "replace", ["ts", "val"])
    got = {r.key: r.val for r in replaced.collect()}
    assert got == {"u1": "b", "u2": "c", "u9": "keep"}
    ignored = merge_upsert(existing, dup_rows, ["key"], "ignore", ["ts", "val"])
    got = {r.key: r.val for r in ignored.collect()}
    assert got == {"u1": "old", "u2": "c", "u9": "keep"}


# ---- warehouse snapshots (S10-S12, T4) ---------------------------------------

def test_warehouse_incremental_read(spark, tmp_path):
    """read_incremental returns ONLY the files a snapshot added (Iceberg
    incremental-scan analog); snapshot_for_meta resolves commits by batch."""
    wh = Warehouse(str(tmp_path / "whinc"))
    t = wh.table("t")
    s1 = t.append(
        spark.range(5).select(F.col("id"), F.lit("x").alias("v")),
        meta={"batch": "b1"},
    )
    s2 = t.append(
        spark.range(5, 8).select(F.col("id"), F.lit("y").alias("v")),
        meta={"batch": "b2"},
    )
    assert t.read(spark).count() == 8
    inc1 = t.read_incremental(spark, s1)
    inc2 = t.read_incremental(spark, s2)
    assert sorted(r.id for r in inc1.collect()) == [0, 1, 2, 3, 4]
    assert sorted(r.id for r in inc2.collect()) == [5, 6, 7]
    assert t.snapshot_for_meta("batch", "b1") == s1
    assert t.snapshot_for_meta("batch", "b2") == s2
    assert t.snapshot_for_meta("batch", "nope") is None


def test_warehouse_snapshot_lifecycle(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    t = wh.table("t")
    df1 = spark.range(5).select(F.col("id"), F.lit("x").alias("v"))
    df2 = spark.range(5, 8).select(F.col("id"), F.lit("y").alias("v"))
    s1 = t.append(df1, meta={"batch": "b1"})
    s2 = t.append(df2, meta={"batch": "b2"})
    assert t.read(spark).count() == 8
    # time travel to snapshot 1
    assert t.read(spark, snapshot_id=s1).count() == 5
    # row-level delete (S11)
    t.delete_where(spark, "id >= 6")
    assert t.read(spark).count() == 6
    # compact (S12) and expire
    t.compact(spark, target_partitions=1)
    assert t.read(spark).count() == 6
    removed = t.expire_snapshots(keep_last=1)
    assert removed > 0
    assert t.read(spark).count() == 6  # current snapshot untouched


def test_append_schema_validation(spark, tmp_path):
    """Iceberg-style commit-time schema check: a mismatched append fails
    loudly instead of corrupting the table for later reads. Column ORDER
    is irrelevant (parquet reads by name); overwrite may evolve schema."""
    import pytest

    wh = Warehouse(str(tmp_path / "whsv"))
    t = wh.table("t")
    t.append(spark.range(3).select(F.col("id"), F.lit("x").alias("v")))
    # reordered columns are fine
    t.append(spark.range(3).select(F.lit("y").alias("v"), F.col("id")))
    # missing column / retyped column / extra column all refused
    with pytest.raises(ValueError, match="incompatible schema"):
        t.append(spark.range(2).select("id"))
    with pytest.raises(ValueError, match="incompatible schema"):
        t.append(spark.range(2).select(F.col("id").cast("int"), F.lit("z").alias("v")))
    with pytest.raises(ValueError, match="incompatible schema"):
        t.append(spark.range(2).select("id", F.lit("z").alias("v"), F.lit(1).alias("w")))
    assert t.read(spark).count() == 6  # failed appends committed nothing
    # overwrite IS schema evolution
    t.overwrite(spark.range(2).select("id"))
    assert t.read(spark).columns == ["id"]
