"""Monthly archival + purge — SURVEY.md §2.1 S5/S6/S11, §2.5 W3, §2.2 P7.

Reference lifecycle (§3.3): seal one calendar month of rid-ordered events
into a gzip'd length-prefixed file with a JSON metadata header
(ArchiveBuilder.cs:228-267), refuse the current (incomplete) month unless
forced (Validate:139-168), purge = transactional range delete of archived
rids (AppArchive.fs:312-370) + VACUUM.

Spark-first: a month of pages is a time-partition materialization —
`where(month window)` → sorted parquet snapshot + JSON metadata sidecar;
completeness gating compares the month end against the source watermark
(event-time semantics, not file order); purge is a row-level delete on the
warehouse table; space is reclaimed by Warehouse.maintain
(compact + expire_snapshots).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventanalysis_spark.sources.catalog import Table


@dataclass
class ArchiveInfo:
    """F14 name codec analog: {machine}.{job}.archive.{yyyy-MM} metadata."""

    machine: str
    job: str
    month: str  # yyyy-MM
    n_rows: int
    url_min: str
    url_max: str
    ts_min: str
    ts_max: str
    sealed: bool = True

    @property
    def name(self) -> str:
        return f"{self.machine}.{self.job}.archive.{self.month}"


class CurrentMonthError(ValueError):
    """Archive of an incomplete month refused (ArchiveBuilder.Validate:159-163)."""


def month_slice(df: DataFrame, month: str) -> DataFrame:
    """W3: event-time tumbling month window, tolerant of duplicate
    timestamps (the reference's rid-probe exists only because SQLite lacks
    event-time windows)."""
    start = F.to_timestamp(F.lit(f"{month}-01"))
    end = F.add_months(start, 1).cast("timestamp")
    return df.where((F.col("warc_ts") >= start) & (F.col("warc_ts") < end))


def build_archive(
    df: DataFrame,
    archive_root: str,
    month: str,
    machine: str = "cluster",
    job: str = "pages",
    watermark_ts: str | None = None,
    allow_current: bool = False,
) -> ArchiveInfo | None:
    """S5: seal one month into an ordered parquet snapshot + JSON meta.

    Completeness gate: the month is sealed only if the source watermark
    has moved PAST the month end (we have seen later data), unless
    allow_current (T5 late-window semantics)."""
    import pandas as pd  # driver-side month arithmetic only

    # compare as timestamps, not strings: str(datetime) uses ' ' while
    # isoformat uses 'T', and ' ' < 'T' would wrongly fail first-of-month
    # watermarks under lexicographic comparison
    month_end = pd.Timestamp(f"{month}-01") + pd.DateOffset(months=1)
    if not allow_current:
        if watermark_ts is None or pd.Timestamp(str(watermark_ts)) < month_end:
            raise CurrentMonthError(
                f"month {month} not complete at watermark {watermark_ts!r}; "
                "pass allow_current=True to force (reference: -allowCurrentMonth)"
            )

    part = month_slice(df, month)
    stats = part.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("url").alias("url_min"),
        F.max("url").alias("url_max"),
        F.min("warc_ts").cast("string").alias("ts_min"),
        F.max("warc_ts").cast("string").alias("ts_max"),
    ).collect()[0]
    if stats["n"] == 0:
        return None

    info = ArchiveInfo(
        machine=machine, job=job, month=month, n_rows=stats["n"],
        url_min=stats["url_min"], url_max=stats["url_max"],
        ts_min=stats["ts_min"], ts_max=stats["ts_max"],
    )
    out = os.path.join(archive_root, info.name)
    tmp = out + ".tmp"
    # ordered snapshot (the reference streams in rid order); atomic rename
    (
        part.repartitionByRange(max(1, stats["n"] // 500_000 + 1), "warc_ts", "url")
        .sortWithinPartitions("warc_ts", "url")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    meta = {**info.__dict__}
    with open(os.path.join(tmp, "_archive.json"), "w") as f:
        json.dump(meta, f, indent=2)
    if os.path.exists(out):
        raise FileExistsError(f"archive collision: {out} (ArchiveBuilder collision check)")
    os.replace(tmp, out)
    return info


def list_archives(archive_root: str) -> list[ArchiveInfo]:
    """S6/F14: parse archive names + sidecars back (ArchiveInfo.TryParse)."""
    out = []
    if not os.path.isdir(archive_root):
        return out
    for d in sorted(os.listdir(archive_root)):
        meta_path = os.path.join(archive_root, d, "_archive.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                out.append(ArchiveInfo(**json.load(f)))
    return out


def read_archive(spark: SparkSession, archive_root: str, name: str) -> DataFrame:
    """S6: stream an archive back."""
    return spark.read.parquet(os.path.join(archive_root, name))


def purge_archived(
    spark: SparkSession,
    table: Table,
    archive_root: str,
    before_month: str,
) -> int:
    """P7/S11: delete table rows covered by SEALED archives strictly older
    than `before_month` (eligibility: sealed ∧ month < cutoff — the
    reference's UtcStart<=before ∧ RidMin>=dbMin checks, AppArchive.fs:
    326-360). Returns number of months purged."""
    purged = 0
    for info in list_archives(archive_root):
        if info.sealed and info.month < before_month:
            start = f"{info.month}-01"
            table.delete_where(
                spark,
                f"warc_ts >= timestamp'{start}' AND "
                f"warc_ts < timestamp'{start}' + interval 1 month",
                meta={"purge_archive": info.name},
            )
            purged += 1
    return purged

