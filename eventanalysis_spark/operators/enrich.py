"""M2 — dictionary/lookup enrichment + dimension discovery.

Parity targets:
  - J3/J4: per-row dimension lookups (ProviderInfoCache.cs:23-44,
    TaskInfoCache.cs:21-97) → broadcast hash joins (build side = dims);
  - J5: discovery of unseen dimension keys with id assignment
    (ProviderInfoCache.Observe, ProviderInfoCache.cs:92-136, sequential id
    at :126) → distinct + left_anti join + deterministic ids;
  - Design-v2.md:27-29 null-vs-empty description contract is preserved
    by plain left joins (no coalesce on the description).

Scale notes: dims are small (thousands of hosts/langs vs 10^12 pages) —
`F.broadcast` keeps every enrich join shuffle-free. Discovery reduces the
fact side to `select(key).distinct()` FIRST (map-side partial agg), so the
anti-join runs on the tiny distinct set, not the fact table. The
reference's lazy description loader (TaskInfoCache.Observe:65-79) becomes
"enrich only the new-keys output", same asymptotics.

Growing the dims is the pipeline's (pipeline.py): while they fit the
driver cache it numbers new keys on the driver; past it, new hosts come
from `discover_new_keys` against the dim table and get their ids from
`assign_ids`. Batches and stream epochs grow them the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def enrich_pages(
    parsed: DataFrame,
    host_info: DataFrame,
    lang_info: DataFrame,
    broadcast_host: bool = True,
) -> DataFrame:
    """Composite-view analog (OpenDbV2.cs:1108-1113): fact ⋈ dims, LEFT so
    unknown keys survive with NULL attributes (they are discovery input).
    broadcast_host=False when the host dim has outgrown broadcast size
    (>10^7 hosts at web scale) — AQE then picks the join strategy."""
    host_side = F.broadcast(host_info) if broadcast_host else host_info
    return (
        parsed.join(host_side, "host", "left")
        .join(F.broadcast(lang_info), "lang", "left")
    )


def discover_new_keys(
    fact: DataFrame, dim: DataFrame, keys: list[str], broadcast: bool = True
) -> DataFrame:
    """J5: distinct fact keys not present in the dim (left_anti). The
    distinct() is the map-side combine that makes this scale: the anti-join
    input is |unique keys|, never |fact|. broadcast=False for dims past
    broadcast size (the spilled-dim pipeline path)."""
    from functools import reduce
    from operator import or_

    any_key = reduce(or_, [F.col(k).isNotNull() for k in keys])
    dim_side = dim.select(*keys)
    if broadcast:
        dim_side = F.broadcast(dim_side)
    return (
        fact.select(*keys)
        .where(any_key)
        .distinct()
        .join(dim_side, keys, "left_anti")
    )


def assign_ids(
    new_keys: DataFrame,
    id_col: str,
    order_cols: list[str],
    start_after: int = 0,
) -> DataFrame:
    """Deterministic id assignment for discovered keys.

    Reproduces the reference's next-id counter
    (ProviderInfoCache.cs:126) deterministically: ids are the global rank
    over a total order on the key, offset by the current max id — computed
    two-phase so no single partition ever sees the whole key set (batch 1
    on a cold warehouse discovers EVERY key, 10^7+ hosts at web scale):
    range-partition by key, per-partition counts → cumulative offsets
    (one ~numPartitions-row window), broadcast offsets back, and
    row_number only WITHIN each range partition. Global-rank ids are
    invariant to where the sampled range bounds land, so the result is
    identical to a global row_number."""
    cols = [F.col(c) for c in order_cols]
    npart = new_keys.sparkSession.sparkContext.defaultParallelism
    from eventanalysis_spark.operators.ranks import ranged_with_pid

    ranged = ranged_with_pid(new_keys, cols, npart).withColumnRenamed(
        "__pid", "_pid"
    )
    counts = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_cum = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(w_cum), F.lit(0)).alias("_off")
    )
    w_in = Window.partitionBy("_pid").orderBy(*cols)
    return (
        ranged.join(F.broadcast(offsets), "_pid")
        .withColumn(
            id_col,
            (F.row_number().over(w_in) + F.col("_off") + F.lit(start_after)).cast("int"),
        )
        .drop("_pid", "_off")
    )
