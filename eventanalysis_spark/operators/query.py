"""Filtered / ordered / limited reads — SURVEY.md §2.2 P1/P5/P6, §2.5 W1/W2,
§2.6 O1-O5, §2.4 A7.

The reference's record order is `rid` (monotone insert id ≈ time order).
The pages analog is the total order (warc_ts, url): time-major,
tie-broken by the unique url — deterministic under any parallelism.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


ORDER_COLS = ("warc_ts", "url")


def order_cols(reverse: bool = False) -> list[Column]:
    return [
        (F.col(c).desc() if reverse else F.col(c).asc()) for c in ORDER_COLS
    ]


@dataclass
class HeaderQuery:
    """P1: dynamic conjunctive predicate (OpenDbV2.cs:252-295) — every field
    optional, all AND-combined; plus O1 ordering, O2 limit.
    Catalyst pushes the resulting filters into the parquet scan."""

    ts_min: str | None = None          # stamp >= (inclusive)
    ts_max: str | None = None          # stamp <  (exclusive)
    url_min: str | None = None         # rid-range analog, keyset-pagination
    url_max: str | None = None
    event_class: str | None = None     # eid = analog
    classes: list[str] | None = None   # P5 multi-value IN
    host: str | None = None            # prvid = analog
    lang: str | None = None            # task = analog
    ever: int | None = None            # ever = analog
    reverse: bool = False              # O1 ASC/DESC
    limit: int | None = None           # O2

    def predicate(self) -> Column | None:
        conds: list[Column] = []
        if self.ts_min is not None:
            conds.append(F.col("warc_ts") >= F.lit(self.ts_min))
        if self.ts_max is not None:
            conds.append(F.col("warc_ts") < F.lit(self.ts_max))
        if self.url_min is not None:
            conds.append(F.col("url") > F.lit(self.url_min))
        if self.url_max is not None:
            conds.append(F.col("url") < F.lit(self.url_max))
        if self.event_class is not None:
            conds.append(F.col("event_class") == F.lit(self.event_class))
        if self.classes is not None:
            conds.append(F.col("event_class").isin(self.classes))
        if self.host is not None:
            conds.append(F.col("host") == F.lit(self.host))
        if self.lang is not None:
            conds.append(F.col("lang") == F.lit(self.lang))
        if self.ever is not None:
            conds.append(F.col("ever") == F.lit(self.ever))
        return reduce(and_, conds) if conds else None

    def apply(self, df: DataFrame, columns: list[str] | None = None) -> DataFrame:
        """S2/S3/S4: the three projection widths are just `columns`
        (Parquet column pruning does what the V2 table split did)."""
        p = self.predicate()
        out = df.where(p) if p is not None else df
        out = out.orderBy(*order_cols(self.reverse))
        if self.limit is not None and self.limit > 0:
            out = out.limit(self.limit)
        if columns:
            out = out.select(*columns)
        return out


def query_headers(df: DataFrame, q: HeaderQuery) -> DataFrame:
    """S2 analog: header projection (no payload columns)."""
    cols = [c for c in df.columns if c not in ("html", "text", "text_extracted")]
    return q.apply(df, cols)


def query_ids(df: DataFrame, q: HeaderQuery) -> DataFrame:
    """S4 analog: id-only projection."""
    return q.apply(df, ["url"])


def first_event(df: DataFrame, reverse: bool = False) -> DataFrame:
    """A7/O3: first/last record probe (OpenDbV2.cs:835-847)."""
    return df.orderBy(*order_cols(reverse)).limit(1)


def resolve_host(host_info_rows: list, key: str) -> tuple[int, str]:
    """P6: provider-key disambiguation (AppDump.fs:30-78): numeric id →
    exact name (case-insensitive) → unique substring; raise on 0 or >1.
    Driver-side over the collected dim, as in the reference."""
    try:
        hid = int(key)
        for r in host_info_rows:
            if r["host_id"] == hid:
                return r["host_id"], r["host"]
        raise KeyError(f"no host with id {hid}")
    except ValueError:
        pass
    low = key.lower()
    exact = [r for r in host_info_rows if r["host"].lower() == low]
    if len(exact) == 1:
        return exact[0]["host_id"], exact[0]["host"]
    subs = [r for r in host_info_rows if low in r["host"].lower()]
    if len(subs) == 0:
        raise KeyError(f"no host matches {key!r}")
    if len(subs) > 1:
        raise KeyError(f"ambiguous host key {key!r}: {[r['host'] for r in subs]}")
    return subs[0]["host_id"], subs[0]["host"]


def k_spread_sample(
    df: DataFrame,
    k: int,
    predicate: Column | None = None,
    num_partitions: int | None = None,
    order_by: tuple[str, ...] = ORDER_COLS,
) -> DataFrame:
    """W2: evenly-spread k-sample — pick rows at indices
    ⌊(n−1)·i/(k−1)⌋ for i in 0..k−1 of the ordered match set; k=1 → the
    most recent (AppSamples.fs:124-139 index formula, exactly).

    Two-phase distributed shape (NO single-partition window anywhere):
      1. range-partition the match set on the total order (warc_ts, url)
         and count rows per range partition (one tiny collect);
      2. per-partition row_number (window partitioned by the range id —
         every partition numbers its own rows in parallel) + the driver-
         computed cumulative offset = exact global index; filter
         `global index ∈ target indices`.
    Range partitions are ordered by construction, and (warc_ts, url) is a
    total order (url unique), so local order + offset ≡ the global order.
    The ≤ k sampled rows are materialized to the driver (samples are small
    by contract — AppSamples defaults to tens) so the pinned range cache
    can be released before returning; for approximate sampling at 100 TB
    use df.sample() — this operator exists for exact reference parity."""
    matched = df.where(predicate) if predicate is not None else df
    if k <= 1:
        return matched.orderBy(*[F.col(c).desc() for c in order_by]).limit(1)
    sess = matched.sparkSession
    nparts = num_partitions or sess.sparkContext.defaultParallelism
    # persist pins the sampled range boundaries: the counts job and the
    # final filter must see the SAME partition assignment (range sampling
    # is not guaranteed identical across recomputations); released below
    ranged = (
        matched.repartitionByRange(nparts, *[F.col(c) for c in order_by])
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    try:
        counts = {
            r["__pid"]: r["cnt"]
            for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        n = sum(counts.values())
        if n == 0:
            return matched.limit(0)
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        idx = sorted({(n - 1) * i // (k - 1) for i in range(k)})
        off_df = F.broadcast(
            sess.createDataFrame(
                [(pid, off) for pid, off in offsets.items()], "__pid int, __off long"
            )
        )
        w = Window.partitionBy("__pid").orderBy(*[F.col(c).asc() for c in order_by])
        picked = (
            ranged.join(off_df, "__pid")
            .withColumn("__gidx", F.row_number().over(w) - 1 + F.col("__off"))
            .where(F.col("__gidx").isin(idx))
            .drop("__pid", "__off", "__gidx")
        )
        # through Arrow, not Rows: a collected Row carries a naive
        # driver-local datetime, ambiguous in a DST fall-back hour
        return sess.createDataFrame(picked.toArrow(), picked.schema)
    finally:
        ranged.unpersist()


def chunked_iter(df: DataFrame, chunk: int = 32768, reverse: bool = False):
    """W1: keyset pagination (OpenDbV2.ChunkedQuery:560-647) — kept for
    driver-side consumers that need bounded memory (e.g. export streaming).
    Yields pandas batches in global (warc_ts, url) order via
    toLocalIterator over a range-partitioned sort (no full collect)."""
    chunk = max(chunk, 64)  # reference floor, OpenDbV2.cs:588-591
    ordered = df.orderBy(*order_cols(reverse))
    it = ordered.toLocalIterator(prefetchPartitions=True)
    batch: list = []
    for row in it:
        batch.append(row)
        if len(batch) >= chunk:
            yield batch
            batch = []
    if batch:
        yield batch
