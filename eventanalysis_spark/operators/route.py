"""M3 — rule-based filter + fan-out router.

Parity targets:
  - P3: ShouldProcess(eid, ver) = state.Enabled && ver >= state.MinVersion,
    DEFAULT-ALLOW for unknown ids (EventInfoTracker.cs:44-55); crucially,
    "observe even ignored events!" (EventImportJob.cs:93-94) — dropped rows
    still feed discovery/observation aggregates;
  - the event-job registry (JobRegistry.cs:52-68) becomes the rules table's
    sink column: one parse pass fans out to N sinks.

Spark-first: the rule table is tiny → a literal map lookup
(`rule_lookup`), so routing adds no join, no shuffle and no broadcast;
`route_by` returns ONE DataFrame with (sink, allowed, drop_reason)
columns, and the pipeline writes every sink from that single pass with
one partitionBy(sink) write and rolls the per-class observations,
dropped rows included, up from the staged data (pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

DEFAULT_SINK = "misc"


def rule_lookup(rules: DataFrame, class_col: str = "event_class") -> Column:
    """Each row's rule as a struct (min_version, enabled, sink), null when
    its class has no rule.

    The rule table (one row per event class, a few dozen at most) is
    collected here and becomes a literal map keyed by class: the lookup
    is a plain expression, no join and no broadcast job. Collecting a
    driver-built local relation runs no Spark job either. A null class
    never matches (left-join semantics); two rules for one class fail as
    a duplicate map key instead of duplicating the class's rows.

    Building the map takes a few driver round trips per rule, so a caller
    that routes many frames with the same rules builds it once and
    passes it to `route_by`."""
    fields = {f.name: f.dataType for f in rules.schema.fields}
    value_type = StructType([
        StructField(c, fields[c]) for c in ("min_version", "enabled", "sink")
    ])
    entries = []
    for r in rules.select(class_col, *value_type.names).collect():
        if r[0] is not None:
            entries += [
                F.lit(r[0]),
                F.struct(*[F.lit(r[f.name]).cast(f.dataType).alias(f.name)
                           for f in value_type.fields]),
            ]
    if not entries:
        return F.lit(None).cast(value_type)
    return F.try_element_at(F.create_map(*entries), F.col(class_col))


def route_by(
    enriched: DataFrame,
    rule: Column,
    default_sink: str = DEFAULT_SINK,
    version_col: str = "ever",
) -> DataFrame:
    """Routing columns from a `rule_lookup` column:

      allowed     : enabled && version >= min_version, default-allow when
                    the class has no rule (EventInfoTracker.cs:50-54)
      sink        : rule sink, or `default_sink` for unknown classes
      drop_reason : null for routed rows; 'disabled' | 'min_version' for
                    dropped ones — rides into the quarantine partition so
                    quarantined data is triageable without re-deriving
                    which rule fired

    All three are added in one projection. No rows are dropped here —
    observation happens on the full frame."""
    enabled = F.coalesce(rule["enabled"], F.lit(True))
    ver_ok = F.coalesce(F.col(version_col), F.lit(0)) >= F.coalesce(
        rule["min_version"], F.lit(0)
    )
    allowed = enabled & ver_ok
    return enriched.withColumns({
        "allowed": allowed,
        "drop_reason": F.when(allowed, F.lit(None).cast("string"))
        .when(~enabled, F.lit("disabled"))
        .otherwise(F.lit("min_version")),
        "sink": F.coalesce(rule["sink"], F.lit(default_sink)),
    })
