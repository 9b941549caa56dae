"""M2/M3 — enrichment joins, dimension discovery, rule routing."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from eventanalysis_spark import datagen
from eventanalysis_spark.operators.enrich import (
    assign_ids,
    discover_new_keys,
    enrich_pages,
)
from eventanalysis_spark.operators.parse import parse_pages
from eventanalysis_spark.operators.route import route_by, rule_lookup


@pytest.fixture(scope="module")
def parsed(spark, pages):
    df = parse_pages(pages).persist()
    df.count()
    yield df
    df.unpersist()


def test_enrich_broadcast_plan(spark, parsed):
    """Both dim joins must be broadcast hash joins — zero fact shuffles."""
    e = enrich_pages(parsed, datagen.host_info_df(spark), datagen.lang_info_df(spark))
    plan = e._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_enrich_left_join_nulls(spark, parsed):
    e = enrich_pages(parsed, datagen.host_info_df(spark), datagen.lang_info_df(spark))
    pdf = e.select("host", "host_id", "lang", "lang_name").toPandas()
    # the 4 undictionaried hosts survive with NULL host_id
    missing = set(datagen.HOSTS[-4:])
    assert set(pdf[pdf.host_id.isna()].host.unique()) == missing
    # null-vs-empty lang_name contract preserved (zh → null, ru → '')
    assert pdf[pdf.lang == "zh"].lang_name.isna().all()
    assert (pdf[pdf.lang == "ru"].lang_name == "").all()


def test_discovery_finds_exactly_missing_keys(spark, parsed):
    new = discover_new_keys(parsed, datagen.host_info_df(spark), ["host"])
    got = {r.host for r in new.collect()}
    assert got == set(datagen.HOSTS[-4:])
    new_langs = discover_new_keys(parsed, datagen.lang_info_df(spark), ["lang"])
    assert {r.lang for r in new_langs.collect()} == {"pt", "it", "xx"}


def test_sequential_id_assignment(spark, parsed):
    """Ids continue from the dim's max, deterministically ordered by key
    (ProviderInfoCache.cs:126 semantics)."""
    dim = datagen.host_info_df(spark)
    start = dim.agg(F.max("host_id")).collect()[0][0]
    new = assign_ids(
        discover_new_keys(parsed, dim, ["host"]), "host_id", ["host"], start_after=start
    )
    rows = sorted(new.collect(), key=lambda r: r.host)
    assert start == len(datagen.HOSTS) - 4
    assert [r.host_id for r in rows] == [start + 1 + i for i in range(4)]
    # grown dim has no id collisions
    ids = [r.host_id for r in dim.unionByName(new, allowMissingColumns=True).collect()]
    assert len(ids) == len(set(ids)) == len(datagen.HOSTS)


def test_routing_semantics(spark, parsed):
    wr = route_by(
        enrich_pages(parsed, datagen.host_info_df(spark), datagen.lang_info_df(spark)),
        rule_lookup(datagen.route_rules_df(spark)),
    )
    pdf = wr.select("event_class", "ever", "allowed", "sink").toPandas()
    # default-allow: unknown classes → allowed, misc sink
    unknown = pdf[pdf.event_class.isin(["media", "api"])]
    assert unknown.allowed.all()
    assert (unknown.sink == "misc").all()
    # disabled class dropped entirely
    login = pdf[pdf.event_class == "login"]
    assert (~login.allowed).all()
    assert (login.sink == "security").all()
    # min_version: product requires ever >= 2
    product = pdf[pdf.event_class == "product"]
    assert (product[product.ever >= 2].allowed).all()
    assert (~product[product.ever < 2].allowed).all()
    # row preservation: the rule join must not drop or duplicate rows
    assert len(pdf) == parsed.count()


def test_drop_reason_triage(spark, parsed):
    """Quarantined rows carry WHY they were dropped ('disabled' vs
    'min_version'); routed rows carry null."""
    wr = route_by(
        enrich_pages(parsed, datagen.host_info_df(spark), datagen.lang_info_df(spark)),
        rule_lookup(datagen.route_rules_df(spark)),
    )
    pdf = wr.select("event_class", "ever", "allowed", "drop_reason").toPandas()
    assert pdf[pdf.allowed].drop_reason.isna().all()
    login = pdf[pdf.event_class == "login"]  # enabled=False rule
    assert (login.drop_reason == "disabled").all()
    prod_low = pdf[(pdf.event_class == "product") & (pdf.ever < 2)]
    assert (prod_low.drop_reason == "min_version").all()


def test_rule_lookup_reused_across_frames(spark, parsed):
    """One rule lookup, built once, routes any number of frames exactly
    like a lookup built anew for each frame."""
    enriched = enrich_pages(
        parsed, datagen.host_info_df(spark), datagen.lang_info_df(spark)
    )
    rules = datagen.route_rules_df(spark)
    rule = rule_lookup(rules)
    cols = ["url", "allowed", "drop_reason", "sink"]
    for frame in (enriched, enriched.where(F.col("ever") >= 2)):
        got = route_by(frame, rule).select(cols).collect()
        want = route_by(frame, rule_lookup(rules)).select(cols).collect()
        assert got and Counter(map(tuple, got)) == Counter(map(tuple, want))


def test_rules_join_is_broadcast(spark, parsed):
    wr = route_by(
        enrich_pages(parsed, datagen.host_info_df(spark), datagen.lang_info_df(spark)),
        rule_lookup(datagen.route_rules_df(spark)),
    )
    plan = wr._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_assign_ids_two_phase_no_data_funnel(spark):
    """Sequential ids = global rank by key, computed WITHOUT a global
    single-partition window over the data: the only SinglePartition
    exchange in the plan is the ~numPartitions-row offsets rollup (batch 1
    at web scale discovers every key — the data side must stay parallel)."""
    from pyspark.sql import functions as F

    from eventanalysis_spark.operators.enrich import assign_ids

    keys = spark.range(5000).select(
        F.concat(F.lit("h"), F.lpad((F.col("id") * 7919) % 5000, 6, "0")).alias("host")
    ).distinct()
    got = assign_ids(keys, "host_id", ["host"], start_after=42)
    rows = sorted(got.collect(), key=lambda r: r["host"])
    assert [r["host_id"] for r in rows] == list(range(43, 43 + len(rows)))
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the data side is range-partitioned into ONE checkpoint
    # materialization (shared boundaries for both branches —
    # ranks.ranged_with_pid), and every SinglePartition exchange in the
    # plan feeds from the ~numPartitions-row _pid counts rollup — never
    # from the raw key data. (AQE's toString prints final+initial
    # plans, so occurrence counts are not stable; structural child
    # checks are.)
    assert "existingrdd" in plan.lower()
    assert "rangepartitioning" not in plan.lower()
    lines = plan.split("\n")
    sp = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    assert sp, "expected the offsets rollup exchange"
    for i in sp:
        child = "\n".join(lines[i + 1 : i + 3])
        assert "_pid" in child, f"SinglePartition over data, not counts:\n{child}"
