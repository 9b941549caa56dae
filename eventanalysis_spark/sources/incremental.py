"""T1/T2 — incremental source with a high-water mark and bounded batches.

Reference: `OpenDbV2.UpdateFrom` reads MAX(rid) then ingests only records
above it (OpenDbV2.cs:862-870), pushing the watermark predicate INTO the
source (EventRecordSource.cs:65-68); `cap` bounds each run
(PutEvents, OpenDbV2.cs:887-908) and the caller loops until the increment
is 0 (DbTests.cs:589-628).

Spark-first: the watermark is a (warc_ts, url) pair persisted in the state
of the destination warehouse (committed atomically WITH the data — no
lost/duplicated batch on crash). The predicate is a plain Catalyst filter
→ parquet/Iceberg min-max pruning skips whole files below the watermark.
The cap is an ordered limit (TakeOrderedAndProject — no global sort
materialization)."""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_EPOCH = datetime(1970, 1, 1)


@dataclass(frozen=True)
class Watermark:
    ts: str | None = None   # UTC 'yyyy-MM-dd HH:mm:ss[.ffffff]' of last ingested row
    url: str | None = None  # tie-break within equal ts

    @classmethod
    def from_state(cls, state: dict) -> "Watermark":
        return cls(ts=state.get("wm_ts"), url=state.get("wm_url"))

    def to_state(self) -> dict:
        return {"wm_ts": self.ts, "wm_url": self.url}

    def is_unset(self) -> bool:
        return self.ts is None


def _ts_literal(ts: str) -> Column:
    """The watermark timestamp as a Spark literal, independent of the
    driver's and the session's time zone: the stored zone-less string is
    UTC (what `advance` stores, and what older releases stored under the
    UTC driver and session the session factory pins)."""
    return F.lit(ts + "Z").cast("timestamp")


def above_watermark(df: DataFrame, wm: Watermark) -> DataFrame:
    """Strictly-after filter on the (warc_ts, url) total order — the
    `rid > watermark` pushdown analog."""
    if wm.is_unset():
        return df
    ts = _ts_literal(wm.ts)
    return df.where(
        (F.col("warc_ts") > ts)
        | ((F.col("warc_ts") == ts) & (F.col("url") > F.lit(wm.url)))
    )


def max_key() -> Column:
    """max over the (warc_ts, url) order with the timestamp as epoch
    microseconds: the bound reaches the driver as an integer, never as a
    datetime converted through the driver's local zone."""
    return F.max(F.struct(F.unix_micros("warc_ts").alias("us"), F.col("url")))


# Rows per wide-pass task of a capped batch. Every task pays a fixed cost
# before and after its rows: pyspark's worker calls
# importlib.invalidate_caches() per task, which re-reads the zip
# directories of pyspark.zip and the jars on the worker's sys.path
# (150-250 ms of Python CPU per task, timed inside the worker), and each
# task opens one staged writer per sink. Measured on a 4-core host, that
# fixed cost is about 0.2-0.3 s per task against about 0.09 ms of parse per
# doc, so a task breaks even at 2-3k rows; 4096 is the power of two above
# that (cap 2000 → 1 task; cap 20000 → 5).
ROWS_PER_TASK = 4096


def next_batch(df: DataFrame, wm: Watermark, cap: int | None = 20000) -> DataFrame | None:
    """One bounded micro-batch in watermark order, or None when nothing is
    left above the watermark (capped calls only: cap=None → everything
    above the watermark, possibly empty, with no job run here, partitioned
    as scanned). Default cap mirrors the reference's 20k
    (event_db_updater/AppUpdate.fs:44).

    Scale note: a naive `orderBy(...).limit(cap)` plans as
    TakeOrderedAndProject, which funnels the WHOLE batch into ONE
    partition — every downstream stage (the parse UDF, the staged write)
    then runs single-task, collapsing throughput at production cap sizes
    (measured 12x slower at cap=400k). Instead: find the cap-th
    (warc_ts, url) key on a narrow two-column ordered-limit (cheap — the
    top-k only carries the key columns), then select the batch as a
    PARALLEL filter against that bound. The selected row set is
    identical (url is unique within a timestamp, so the bound cuts
    exactly at the cap-th row). Runs one small Spark job, which also
    counts the batch's n rows. The selected rows are then round-robin
    shuffled into ceil(n / ROWS_PER_TASK) partitions: the scan and the
    filter keep one task per scan partition, and only the <= cap selected
    rows cross the shuffle (a coalesce would merge the scan itself into
    those few tasks). Round-robin deals rows, not keys, so the write tasks
    differ by at most one row per scan partition, however skewed the
    hosts."""
    inc = above_watermark(df, wm)
    if cap is None:
        return inc
    row = (
        inc.select("warc_ts", "url")
        .orderBy(F.col("warc_ts").asc(), F.col("url").asc())
        .limit(cap)
        .agg(max_key().alias("m"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    bound = row["m"]
    if bound is None:  # source exhausted
        return None
    b_ts = F.timestamp_micros(F.lit(bound["us"]))
    b_url = F.lit(bound["url"])
    batch = inc.where(
        (F.col("warc_ts") < b_ts)
        | ((F.col("warc_ts") == b_ts) & (F.col("url") <= b_url))
    )
    return batch.repartition(-(-row["n"] // ROWS_PER_TASK))


def advance(batch_max: tuple | None, wm: Watermark) -> Watermark:
    """New watermark from the batch's max (epoch micros, url) key; None
    batch → keep. The timestamp is stored as a zone-less UTC string. A key
    not above the stored watermark keeps it: a capped batch never holds
    one, but a stream epoch may hold only pages older than an earlier
    epoch's."""
    if batch_max is None:
        return wm
    us, url = batch_max
    ts = (_EPOCH + timedelta(microseconds=us)).isoformat(sep=" ")
    if not wm.is_unset() and (datetime.fromisoformat(ts), url) <= (
        datetime.fromisoformat(wm.ts), wm.url
    ):
        return wm
    return Watermark(ts=ts, url=url)
