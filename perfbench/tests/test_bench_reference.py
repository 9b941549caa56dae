"""The DuckDB reference on a 3k-row input, against a plain-Python oracle,
and the warehouse check on a hand-built warehouse."""

import json
import os
import re
from collections import Counter

import inputs
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
import reference
import workloads

from eventanalysis_spark import datagen

N = 3000
SEED = 11


@pytest.fixture(scope="module")
def pages(tmp_path_factory):
    return inputs.pages_input(str(tmp_path_factory.mktemp("in")), SEED, N, parts=3)


@pytest.fixture(scope="module")
def ref(pages):
    return reference.IngestReference(reference.connect(), pages, datagen.route_rules_rows())


def python_oracle(pages_dir):
    """Row-at-a-time routing written without DuckDB or the package."""
    rules = {c: (v, e, s) for c, v, e, s in datagen.route_rules_rows()}
    tbl = pq.read_table(pages_dir).to_pylist()
    urls, agg = {}, Counter()
    for r in tbl:
        html = r["html"].decode("utf-8")
        host = re.match(r"^[a-z]+://([^/]+)", r["url"]).group(1)
        cls = re.search(r'<meta name="ea:class" content="([^"]*)"', html).group(1)
        raw = re.search(r'<meta name="ea:ver" content="([^"]*)"', html).group(1)
        ver = int(raw, 16) if raw.startswith("0x") else int(raw)
        min_v, enabled, sink = rules.get(cls, (0, True, "misc"))
        if not (enabled and ver >= min_v):
            continue
        urls.setdefault(sink, set()).add(r["url"])
        agg[(sink, host, r["lang"], cls, r["warc_ts"].strftime("%Y-%m-%d"))] += 1
    return urls, dict(agg)


def test_reference_matches_python_oracle(pages, ref):
    urls, agg = python_oracle(pages)
    assert ref.n_docs == N
    assert ref.urls == urls
    assert ref.agg == agg
    assert set(ref.counts) == {"content", "commerce", "security", "misc"}


def test_reference_drops_disabled_and_old_versions(ref):
    # 'login' is disabled and 'product' needs version >= 2: both drop rows
    routed = sum(ref.counts.values())
    assert 0 < routed < N
    assert not any(k[3] == "login" for k in ref.agg)
    assert all(k[0] == "security" for k in ref.agg if k[3] == "error")


def _write_table(root, name, rows, schema):
    d = os.path.join(root, name, "data-0")
    os.makedirs(d)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), os.path.join(d, "part-0.parquet"))
    with open(os.path.join(root, name, "_manifest.json"), "w") as f:
        json.dump({"current": 1, "snapshots": [{"id": 1, "dirs": ["data-0"]}]}, f)


def _fake_warehouse(root, ref, drop_one: bool):
    for s, urls in ref.urls.items():
        keep = sorted(urls)[1:] if drop_one and s == "content" else sorted(urls)
        _write_table(root, f"sink_{s}", [{"url": u} for u in keep],
                     pa.schema([("url", pa.string())]))
    agg_schema = pa.schema([("sink", pa.string()), ("host", pa.string()),
                            ("lang", pa.string()), ("event_class", pa.string()),
                            ("bucket", pa.string()), ("n", pa.int64())])
    rows = [dict(zip(agg_schema.names, (*k, n))) for k, n in ref.agg.items()]
    rows.append(dict(zip(agg_schema.names, ("__quarantine", "h", "en", "login", "d", 5))))
    _write_table(root, "sink_agg", rows, agg_schema)


def test_check_ingest_accepts_exact_warehouse(tmp_path, ref):
    _fake_warehouse(str(tmp_path), ref, drop_one=False)
    con = reference.connect()
    assert reference.check_ingest(con, str(tmp_path), ref, workloads.SINKS) == []


def test_check_ingest_reports_a_missing_row(tmp_path, ref):
    _fake_warehouse(str(tmp_path), ref, drop_one=True)
    con = reference.connect()
    problems = reference.check_ingest(con, str(tmp_path), ref, workloads.SINKS)
    assert len(problems) == 1 and problems[0].startswith("sink_content")
