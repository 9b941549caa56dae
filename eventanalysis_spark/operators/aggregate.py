"""Aggregation operators — SURVEY.md §2.4 (A1-A8) + §2.5 W4.

All are single hash-aggregates with map-side partial aggregation; the only
deliberate structural choice vs the reference is A2: the reference joins
the fact INTO the dims and groups (flagged "heavy performance cost",
OpenDbV2.cs:728-734) — here we aggregate the fact FIRST and join dims onto
the (small) grouped result. Catalyst will not reorder that for us; writing
it aggregate-then-join is the 100-TB-safe shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eventanalysis_spark.functions.scalars import period_key


def overview(
    fact: DataFrame,
    host_info: DataFrame | None = None,
    lang_info: DataFrame | None = None,
) -> DataFrame:
    """A2: the Overview — per (host, lang, event_class, ever) count with
    dimension descriptions attached (OpenDbV2.GetOverview, :736-758).
    Aggregate-then-broadcast-join; deterministic report ordering O4."""
    g = fact.groupBy("host", "lang", "event_class", "ever").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    if host_info is not None:
        g = g.join(F.broadcast(host_info), "host", "left")
    if lang_info is not None:
        g = g.join(F.broadcast(lang_info), "lang", "left")
    return g.orderBy("host", "lang", "event_class", "ever")


def group_stats(fact: DataFrame, keys: list[str],
                ts_col: str = "warc_ts", bytes_col: str = "n_bytes") -> DataFrame:
    """A3: per-group count / min / max ts / byte totals
    (RawEventDbV1.cs:226-268 — COUNT, MIN/MAX rid, MIN/MAX ts,
    SUM(LENGTH(xml)))."""
    return (
        fact.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("url").alias("first_url"),
            F.max("url").alias("last_url"),
            F.min(ts_col).alias("ts_min"),
            F.max(ts_col).alias("ts_max"),
            F.sum(bytes_col).alias("total_bytes"),
            F.max(bytes_col).alias("max_bytes"),
            F.avg(bytes_col).alias("avg_bytes"),
        )
        .orderBy(*keys)
    )


def period_rollup(
    fact: DataFrame,
    period: str = "day",
    ts_col: str = "warc_ts",
    bytes_col: str = "n_bytes",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """A5: day / ISO-week / month rollup (AppDiag.fs:29-101 +
    EventRowStatistics.cs:17-98). The reference streams rid-ordered rows and
    emits on bucket change (W4); a hash aggregate needs no order at all —
    same result, shuffle only on the (tiny) bucket key."""
    keys = [period_key(F.col(ts_col), period).alias("period")] + [
        F.col(k) for k in (extra_keys or [])
    ]
    return (
        fact.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(ts_col).alias("ts_min"),
            F.max(ts_col).alias("ts_max"),
            F.sum(bytes_col).alias("total_bytes"),
            F.max(bytes_col).alias("max_bytes"),
            F.avg(bytes_col).alias("avg_bytes"),
        )
        .orderBy("period", *(extra_keys or []))
    )
