"""Crawl-frontier scheduling: politeness-bounded fetch slots per host.

The piece between link discovery (operators/linkgraph.py) and the next
crawl: given candidate URLs, assign each a fetch SLOT such that no host
receives more than `per_host_slots` fetches per slot (the politeness
budget), higher-priority URLs fetch earlier, and an optional
`max_per_host` cap drops the tail of mega-hosts entirely (crawl budgets
always cap per-host page counts — an unbounded host would otherwise own
the whole frontier).

Spark-first shape: ONE window keyed by host (rank within host by
priority desc, then url for determinism), then pure arithmetic — slot =
floor(rank / per_host_slots). No joins, no second shuffle; the slot
assignment is embarrassingly host-parallel. Hot-host skew is bounded by
`max_per_host` BEFORE any downstream work (here the cap IS the
semantics).

Reference parity note: the reference engine has no crawler; this module
belongs to the training-data-pipeline surface the mission brief makes
first-class (frontier planning next to PageRank/TrustRank/HITS host
scoring, which supply the natural `priority` input).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def frontier_schedule(
    urls: DataFrame,
    per_host_slots: int = 1,
    max_per_host: int | None = None,
    host_col: str = "host",
    url_col: str = "url",
    priority_col: str | None = None,
    budget_col: str | None = None,
) -> DataFrame:
    """Assign (host_rank, slot) to every candidate URL.

      - host_rank: 1-based fetch order within the host — priority DESC
        (when `priority_col` is given), then url ASC for determinism;
      - slot: 0-based politeness window, floor((host_rank - 1) /
        budget) — at most `budget` URLs of a host share a slot, so a
        fetcher draining slot k in parallel never hits one host more
        than the budget allows. The budget is the global
        `per_host_slots` or, when `budget_col` names a per-host POSITIVE
        DOUBLE column, that host's own value: fractional budgets stride
        (budget 0.4 = one fetch every 2-3 slots — exactly robots.txt
        Crawl-delay semantics when a slot is a fixed time quantum);
      - rows past `max_per_host` (if set) are DROPPED — the mega-host
        tail never reaches the fetch queue.

    Output: input columns + (host_rank, slot), deterministic under any
    partitioning."""
    if per_host_slots < 1:
        raise ValueError("per_host_slots must be >= 1")
    order: list[Column] = []
    if priority_col is not None:
        order.append(F.col(priority_col).desc())
    order.append(F.col(url_col).asc())
    w = Window.partitionBy(host_col).orderBy(*order)
    out = urls.withColumn("host_rank", F.row_number().over(w))
    if max_per_host is not None:
        out = out.where(F.col("host_rank") <= max_per_host)
    budget = (
        F.coalesce(F.col(budget_col), F.lit(float(per_host_slots)))
        if budget_col is not None
        else F.lit(per_host_slots)
    )
    return out.withColumn(
        "slot",
        F.floor((F.col("host_rank") - 1) / budget).cast("long"),
    )


def frontier_slot_report(scheduled: DataFrame) -> DataFrame:
    """Per-slot fetch-load report over a frontier_schedule output:
    (slot, n_urls, n_hosts) — the capacity-planning view (how many
    slots until the frontier drains; how parallel each slot is).
    Deterministic order by slot."""
    return (
        scheduled.groupBy("slot")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.count_distinct("host").alias("n_hosts"),
        )
        .orderBy("slot")
    )
