"""M1 golden tests — the reference's testing pattern (SURVEY.md §5): small
deterministic fixtures, exact assertions. Byte-identical text per url is
the BASELINE.json per-row invariant."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from eventanalysis_spark.datagen import generate_pages_batch
from eventanalysis_spark.operators.parse import (
    extract_text_series,
    meta_map_batch,
    parse_batch,
    parse_hex_or_dec,
    parse_pages,
    parse_pages_fused,
)


def test_text_byte_identity_pandas(pages_pdf):
    ext = extract_text_series(pages_pdf["html"])
    assert (ext == pages_pdf["text"]).all()
    # bytes, not just str equality
    assert all(
        a.encode() == b.encode() for a, b in zip(ext, pages_pdf["text"])
    )


def test_text_byte_identity_spark(spark, pages, pages_pdf):
    got = (
        parse_pages(pages)
        .select("url", "text_extracted")
        .toPandas()
        .set_index("url")["text_extracted"]
        .sort_index()
    )
    want = pages_pdf.set_index("url")["text"].sort_index()
    assert (got == want).all()


def test_parse_fields_match_pandas_oracle(spark, pages, pages_pdf):
    spark_out = parse_pages(pages).toPandas().sort_values("url").reset_index(drop=True)
    oracle = parse_batch(pages_pdf["url"], pages_pdf["html"])
    oracle["url"] = pages_pdf["url"]
    oracle = oracle.sort_values("url").reset_index(drop=True)
    for col in ["host", "tld", "charset", "meta_lang", "event_class", "ever_raw"]:
        assert spark_out[col].fillna("∅").tolist() == oracle[col].fillna("∅").tolist(), col
    assert spark_out["path_depth"].tolist() == oracle["path_depth"].tolist()
    assert spark_out["ever"].tolist() == oracle["ever"].astype("int64").tolist()
    assert spark_out["n_tokens"].tolist() == oracle["n_tokens"].astype("int64").tolist()
    assert spark_out["n_bytes"].tolist() == oracle["n_bytes"].astype("int64").tolist()


def test_parse_transports_agree(spark, pages):
    """The two parse transports — the pandas_udf struct column the query
    paths use and the pipeline's mapInPandas pass — give the same value
    in every column of parse_pages, row by row (joined on url)."""
    struct = parse_pages(pages)
    fused = parse_pages_fused(pages).select(*struct.columns)
    a = struct.toPandas().sort_values("url").reset_index(drop=True)
    b = fused.toPandas().sort_values("url").reset_index(drop=True)
    assert len(a) == len(b) == pages.count() and a["url"].is_unique
    pd.testing.assert_frame_equal(a, b)


def test_title_null_vs_empty(spark, pages):
    """Null = <title> absent; '' = present but empty (semantic distinction,
    XmlStringValueConversions.cs:99-106)."""
    out = parse_pages(pages).select("title").toPandas()["title"]
    assert out.isna().sum() > 0
    assert (out == "").sum() > 0
    assert (out.fillna("x").str.len() > 0).sum() > 0


def test_hex_or_dec():
    """F4 semantics (XmlStringValueConversions.cs:27-59) +
    the XmlTests.cs:139-144 golden: 0xa3fc → 41980."""
    assert parse_hex_or_dec("0xa3fc") == 41980
    assert parse_hex_or_dec("0X10") == 16
    assert parse_hex_or_dec("42") == 42
    assert parse_hex_or_dec("") is None
    assert parse_hex_or_dec(None) is None
    assert parse_hex_or_dec("-5") == -5


def test_hex_version_rows_canonicalized(spark, pages):
    pdf = parse_pages(pages).select("ever", "ever_raw").toPandas()
    hex_rows = pdf[pdf.ever_raw.str.startswith("0x", na=False)]
    assert len(hex_rows) > 0
    assert (hex_rows.ever == hex_rows.ever_raw.map(lambda s: int(s, 16))).all()


def test_control_char_roundtrip():
    """FixXml path (XmlUtilities.cs:28-58): control chars survive both the
    raw and the numeric-entity wire form."""
    pdf = generate_pages_batch(np.arange(500))
    has_ctrl = pdf["text"].map(lambda t: any(ord(c) < 0x20 and c != "\n" for c in t))
    assert has_ctrl.sum() > 0
    ext = extract_text_series(pdf["html"])
    assert (ext == pdf["text"]).all()


def test_malformed_input_never_throws():
    """Web-scale robustness: garbage ea:ver content, out-of-range numeric
    entities, and out-of-Int32 versions degrade to nulls / raw text —
    a 10^12-doc scan must never die on one bad document."""
    from eventanalysis_spark.operators.parse import _unescape

    html = pd.Series(
        [
            b'<html><head><meta name="ea:ver" content="xyz"></head>'
            b"<body><p>ok</p></body></html>",
            b'<html><head><meta name="ea:ver" content="99999999999"></head>'
            b"<body><p>&#x110000; stays</p></body></html>",
            b'<html><head><meta name="ea:ver" content="0xZZ"></head>'
            b"<body><p>&#xFFFFFFFFFF; too</p></body></html>",
        ]
    )
    url = pd.Series(["https://a.com/x", "https://a.com/y", "https://a.com/z"])
    out = parse_batch(url, html)
    assert out["ever"].isna().all()
    assert out["ever_raw"].tolist() == ["xyz", "99999999999", "0xZZ"]
    assert out["text_extracted"].tolist() == [
        "ok", "&#x110000; stays", "&#xFFFFFFFFFF; too"
    ]
    assert _unescape("&#x41;") == "A"  # valid entities still decode


def test_meta_map_positional_fallback():
    """$XNN naming for unnamed entries (XmlDissector.cs:96-99)."""
    html = pd.Series(
        [
            b'<html><head><meta name="a" content="1"><meta content="anon1">'
            b'<meta name="b" content="2"><meta content="anon2"></head></html>'
        ]
    )
    m = meta_map_batch(html)[0]
    assert m == {"a": "1", "$X01": "anon1", "b": "2", "$X02": "anon2"}


def test_empty_text_is_empty_string_not_null(spark, pages):
    out = parse_pages(pages).select("text_extracted").toPandas()["text_extracted"]
    assert (out == "").sum() > 0
    assert out.isna().sum() == 0
