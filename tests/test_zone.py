"""Zone / registry config fidelity (EventDataZone.cs:20-101,
JobRegistry.cs:52-68): tag files, read-only enforcement, duplicate
job/channel rejection."""

import json
import os

import pyarrow as pa
import pytest

from eventanalysis_spark.sources.zone import (
    DataZone,
    JobConfig,
    JobRegistry,
    ReadOnlyZoneError,
    RegistryError,
    ZoneConfigError,
)


def test_zone_creates_root_and_tagfile(tmp_path):
    z = DataZone(str(tmp_path), "alpha")
    assert z.zone == "ALPHA"  # uppercased like the reference machine name
    assert os.path.isdir(z.root)
    tag = os.path.join(str(tmp_path), "alpha.zonecfg.json")
    assert os.path.exists(tag)
    assert json.load(open(tag))["zone"] == "ALPHA"


def test_zone_tagfile_mismatch_is_fatal(tmp_path):
    # a tag file claiming another zone name is the reference's fatal
    # "Machine name mismatch"
    with open(os.path.join(str(tmp_path), "alpha.zonecfg.json"), "w") as f:
        json.dump({"zone": "BETA"}, f)
    with pytest.raises(ZoneConfigError, match="mismatch"):
        DataZone(str(tmp_path), "alpha")
    # corrupt JSON is fatal too
    with open(os.path.join(str(tmp_path), "gamma.zonecfg.json"), "w") as f:
        f.write("{not json")
    with pytest.raises(ZoneConfigError, match="Fatal error"):
        DataZone(str(tmp_path), "gamma")


def test_readonly_zone_touches_nothing(tmp_path):
    z = DataZone(str(tmp_path), "quiet", read_only=True)
    assert not os.path.isdir(z.root)  # no folder creation
    assert not os.path.exists(z.tag_file)  # no tag write
    with pytest.raises(ReadOnlyZoneError):
        z.register_job("job_a", "chan_a")
    wh = z.warehouse()
    assert wh.tables() == []  # listing a missing read-only root is empty
    with pytest.raises(ReadOnlyZoneError):
        wh.table("t").set_state(x=1)


def test_readonly_warehouse_blocks_every_mutation(tmp_path, spark):
    # build a table through a writable zone, then reopen read-only
    z = DataZone(str(tmp_path), "rw")
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    z.warehouse().table("t").append(df)

    zr = DataZone(str(tmp_path), "rw", read_only=True)
    t = zr.warehouse().table("t")
    assert t.read(spark).count() == 1  # reads still work
    for call in (
        lambda: t.append(df),
        lambda: t.overwrite(df),
        lambda: t.append_rows(pa.table({"id": pa.array([2], pa.int32()), "v": ["b"]})),
        lambda: t.register_dir(str(tmp_path)),
        lambda: t.set_state(x=1),
        lambda: t.delete_where(spark, "id = 1"),
        lambda: t.compact(spark),
        lambda: t.expire_snapshots(),
    ):
        with pytest.raises(ReadOnlyZoneError):
            call()
    # nothing committed: still exactly one snapshot
    assert len(t.snapshots()) == 1


def test_registry_rejection_semantics():
    r = JobRegistry("Z")
    r.register(JobConfig("job_a", "ChanA"))
    # same pair re-registers fine (replace), case-insensitive lookups
    r.register(JobConfig("job_a", "ChanA"))
    assert r.find_by_job("JOB_A").channel == "ChanA"
    assert r.find_by_channel("chana").name == "job_a"
    # another job stealing the channel → rejected
    with pytest.raises(RegistryError, match="Duplicate channel"):
        r.register(JobConfig("job_b", "ChanA"))
    # same job switching channel → rejected
    with pytest.raises(RegistryError, match="Duplicate job"):
        r.register(JobConfig("job_a", "ChanB"))
    # bad job name grammar → rejected
    with pytest.raises(RegistryError, match="invalid job name"):
        r.register(JobConfig("Bad Name", "c"))
    assert len(r.jobs) == 1


def test_registry_persists_and_reloads(tmp_path):
    z = DataZone(str(tmp_path), "pers")
    z.register_job("job_a", "chan_a")
    z.register_job("job_b", "chan_b", admin={"owner": "x"})
    z2 = DataZone(str(tmp_path), "pers")
    assert {j.name for j in z2.registry.jobs} == {"job_a", "job_b"}
    assert z2.registry.find_by_job("job_b").admin == {"owner": "x"}
    # skip_registry opens even when the registry file is corrupt
    with open(os.path.join(z.root, DataZone.REGISTRY_FILE), "w") as f:
        f.write("[broken")
    with pytest.raises(ZoneConfigError):
        DataZone(str(tmp_path), "pers")
    z3 = DataZone(str(tmp_path), "pers", skip_registry=True)
    assert z3.registry.jobs == []


def test_pipeline_rejects_duplicate_class_rules(tmp_path, spark):
    """The load-bearing case: two differing rules for one event class
    would duplicate fact rows through the routing broadcast join."""
    from eventanalysis_spark.pipeline import Pipeline, PipelineConfig

    rules = spark.createDataFrame(
        [("click", 0, True, "content"), ("click", 0, True, "commerce")],
        "event_class string, min_version int, enabled boolean, sink string",
    )
    with pytest.raises(ValueError, match="Duplicate channel"):
        Pipeline(
            spark,
            PipelineConfig(warehouse=str(tmp_path / "wh1")),
            rules=rules,
        )
    # exact duplicates are replace-semantics: accepted and deduped
    rules2 = spark.createDataFrame(
        [("click", 0, True, "content"), ("click", 0, True, "content")],
        "event_class string, min_version int, enabled boolean, sink string",
    )
    p = Pipeline(
        spark, PipelineConfig(warehouse=str(tmp_path / "wh2")), rules=rules2
    )
    assert p._rules_df.count() == 1


def test_registry_channel_case_insensitive_replace():
    """Re-registering the same job/channel pair with different channel
    case is an idempotent replace (InvariantCultureIgnoreCase semantics),
    not a duplicate rejection."""
    r = JobRegistry("Z")
    r.register(JobConfig("job_a", "ChanA"))
    r.register(JobConfig("job_a", "chana"))  # must NOT raise
    assert r.find_by_channel("CHANA").channel == "chana"
    with pytest.raises(RegistryError):
        r.register(JobConfig("job_b", "chana"))
