"""Incremental watermark edge cases and the task sizing of capped batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from eventanalysis_spark.sources import incremental
from eventanalysis_spark.sources.incremental import (
    Watermark,
    advance,
    above_watermark,
    max_key,
    next_batch,
)


def test_watermark_tie_break_on_equal_ts(spark):
    """Rows sharing the watermark timestamp but with larger url must still
    be selected (the (ts, url) total order, non-unique ts tolerated —
    ArchiveBuilder.cs:145-148 analog)."""
    rows = [
        ("a", "2024-01-01 00:00:00"),
        ("b", "2024-01-01 00:00:00"),
        ("c", "2024-01-01 00:00:00"),
        ("d", "2024-01-02 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "url string, ts string").select(
        "url", F.col("ts").cast("timestamp").alias("warc_ts")
    )
    wm = Watermark(ts="2024-01-01 00:00:00", url="b")
    got = sorted(r.url for r in above_watermark(df, wm).collect())
    assert got == ["c", "d"]


def test_capped_batches_advance_through_ties(spark):
    rows = [(f"u{i:02d}", "2024-01-01 00:00:00") for i in range(10)]
    df = spark.createDataFrame(rows, "url string, ts string").select(
        "url", F.col("ts").cast("timestamp").alias("warc_ts")
    )
    wm = Watermark()
    seen = []
    for _ in range(10):
        b = next_batch(df, wm, cap=3)
        if b is None:
            break
        seen.extend(r.url for r in b.collect())
        m = b.agg(max_key().alias("m")).collect()[0]["m"]
        wm = advance((m["us"], m["url"]), wm)
    assert seen == sorted(seen)
    assert len(seen) == 10  # every tie eventually consumed exactly once


def test_advance_never_moves_the_watermark_back():
    """An epoch whose max key is below the watermark (a stream file of
    older pages) leaves it in place; a key above it still advances it."""
    us = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
    wm = Watermark(ts="2024-01-01 00:00:00", url="m")
    assert advance((us - 1, "z"), wm) == wm
    assert advance((us, "a"), wm) == wm
    assert advance((us, "m"), wm) == wm
    assert advance((us, "n"), wm) == Watermark(ts="2024-01-01 00:00:00", url="n")
    assert advance((us + 1, "a"), wm) == Watermark(
        ts="2024-01-01 00:00:00.000001", url="a"
    )


def test_next_batch_sizes_tasks_by_rows(pages, monkeypatch):
    """A capped batch runs ceil(rows / ROWS_PER_TASK) tasks after a
    round-robin shuffle of its selected rows: the scan and the bound
    filter keep one task per scan partition (no coalesce merges them).
    Uncapped batches keep the scan's partitioning."""
    scanned = pages.rdd.getNumPartitions()
    assert scanned > 3

    def batch(cap):
        return next_batch(pages, Watermark(), cap)

    assert batch(2500).rdd.getNumPartitions() == 1
    plan = batch(2500)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition, REPARTITION_BY_NUM" in plan
    assert "Coalesce" not in plan
    monkeypatch.setattr(incremental, "ROWS_PER_TASK", 1000)
    assert batch(2500).rdd.getNumPartitions() == 3
    assert batch(None).rdd.getNumPartitions() == scanned
