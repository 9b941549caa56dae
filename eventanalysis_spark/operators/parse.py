"""M1 — vectorized field extraction from the html/text payload.

Parity target: the reference's XML dissection layer —
  - XmlEventDissector.cs:30-95 (typed header extraction: 14 accessors),
  - XmlDissector.cs:56-108 (XPath eval + EventData map, `$XNN` fallback),
  - XmlUtilities.FixXml:28-58 (control-char repair),
  - XmlStringValueConversions.cs:27-59 (hex-or-decimal int parse).

Spark-first design: ONE Arrow-batched pandas UDF returning a StructType
(no per-row Python UDF in the plan; pandas str ops run compiled regex over
whole batches). Catalyst treats the UDF as a black box, so callers must
`select` only (url, html) into it — column pruning for the UDF input is
explicit, the prune of everything downstream is automatic.

The extracted `text` must be byte-identical to the ground-truth `text`
column per url (BASELINE.json invariant); `extract_text_series` is that
contract and is golden-tested against the datagen oracle.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# ---- unescape: exact inverse of the datagen/_escape wire form -------------
# numeric first, then lt/gt, then amp LAST (so "&amp;lt;" can't double-decode)
_NUM_ENT = re.compile(r"&#x([0-9A-Fa-f]+);|&#([0-9]+);")


def _ent_char(m: re.Match) -> str:
    """Decode one numeric entity; out-of-range codepoints (&#x110000;+,
    possible in arbitrary web input) keep their raw text instead of
    killing the task — a 10^12-doc scan must never die on one bad doc."""
    try:
        return chr(int(m.group(1), 16)) if m.group(1) else chr(int(m.group(2)))
    except (ValueError, OverflowError):
        return m.group(0)


def _unescape(s: str) -> str:
    if "&" not in s:
        return s
    if "&#" in s:  # numeric entities are rare — skip the regex pass otherwise
        s = _NUM_ENT.sub(_ent_char, s)
    return s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")


_P_TAG = re.compile(r"<p>(.*?)</p>", re.DOTALL)
_TITLE = re.compile(r"<title>(.*?)</title>", re.DOTALL)
_CHARSET = re.compile(r'<meta charset="([^"]*)"')
_META = r'<meta name="ea:%s" content="([^"]*)"'
_CLASS = re.compile(_META % "class")
_VER = re.compile(_META % "ver")
_LANG_ATTR = re.compile(r'<html lang="([^"]*)"')
_HOST = re.compile(r"^[a-z]+://([^/]+)")
_TOKEN = re.compile(r"\S+")


def _extract_text(doc: str) -> str:
    """<p>…</p> bodies in document order, '\\n'-joined, entity-unescaped.

    Hand-rolled str.find scan, semantically identical to
    `_P_TAG.findall` + per-paragraph `_unescape` (the non-greedy regex
    pairs each '<p>' with the NEAREST following '</p>' and resumes after
    it — exactly this loop) but ~3x faster: substring search runs at C
    speed, and the single post-join unescape is safe because entities
    never span the inserted '\\n' (no entity contains a newline)."""
    find = doc.find
    pos = find("<p>")
    if pos == -1:
        return ""
    parts = []
    while pos != -1:
        end = find("</p>", pos + 3)
        if end == -1:
            break
        parts.append(doc[pos + 3 : end])
        pos = find("<p>", end + 4)
    return _unescape("\n".join(parts))


def _find_quoted(doc: str, marker: str) -> str | None:
    """Value of `marker…"` up to the closing quote — the str.find twin of
    the `<meta …="([^"]*)"` regexes. Exactly like regex search, a marker
    occurrence with NO closing quote anywhere after it (truncated tail)
    fails that position and the scan resumes at the next occurrence —
    without this, regex and scan diverged on malformed input where a later
    well-formed occurrence exists."""
    i = doc.find(marker)
    while i != -1:
        j = doc.find('"', i + len(marker))
        if j != -1:
            return doc[i + len(marker) : j]
        i = doc.find(marker, i + 1)
    return None


def extract_text_series(html: pd.Series) -> pd.Series:
    """html bytes → extracted text, byte-identical to ground truth.

    Rule (explicit, byte-level — SURVEY.md §7.3 risk item): decode utf-8,
    find all <p>…</p> bodies in document order, entity-unescape
    (numeric → lt → gt → amp), join with '\\n'. No <p> → '' (empty,
    not null: the empty-vs-null distinction is semantic, reference
    XmlStringValueConversions.cs:99-106)."""
    return html.map(
        lambda b: _extract_text(b.decode("utf-8", errors="replace"))
        if b is not None
        else None
    )


def parse_hex_or_dec(s: str | None) -> int | None:
    """Hex-or-decimal integer parse, '' → None, '0x' prefix → base 16.
    Reference: XmlStringValueConversions.cs:27-59."""
    if s is None or s == "":
        return None
    t = s.strip()
    neg = t.startswith("-")
    if neg:
        t = t[1:]
    v = int(t, 16) if t[:2].lower() == "0x" else int(t, 10)
    return -v if neg else v


_CHARSET_MARK = '<meta charset="'
_CLASS_MARK = '<meta name="ea:class" content="'
_VER_MARK = '<meta name="ea:ver" content="'
_LANG_MARK = '<html lang="'


def parse_batch(url: pd.Series, html: pd.Series, _with_tokens: bool = False):
    """Pure-python core of the parse stage (shared with the test oracle).

    ONE loop over the Arrow batch instead of seven pandas str passes: each
    field uses a C-speed str.find scan with semantics identical to the
    module's regex constants (kept above as the executable spec; golden +
    hypothesis tests pin the equivalence). Measured ~3x faster per core
    than the pandas multi-pass form — this is the engine's hottest code.

    _with_tokens=True additionally returns the per-doc token lists so the
    fused feature pass can reuse them instead of re-tokenizing.
    Tokenization is str.split() ≡ `\\S+` findall (same Unicode whitespace
    classes, verified incl. 0x1C-0x1F / 0x85 / 0xA0)."""
    hmatch = _HOST.match
    hosts, tlds, depths, titles, charsets = [], [], [], [], []
    mlangs, eclasses, evers, ever_raws = [], [], [], []
    texts, ntoks, nbs = [], [], []
    tok_lists: list = []
    for u, b in zip(url.tolist(), html.tolist()):
        # ---- url side: host ([a-z]+://<up to first '/'>) → tld, path depth
        if u is None:
            host = tld = None
            rest = None
        else:
            m = hmatch(u)
            if m:
                host = m.group(1)
                tld = host.rsplit(".", 1)[-1]
                rest = u[m.end() :]
            else:
                host = tld = None
                rest = u  # unmatched scheme: whole url is the 'tail'
        if rest is None:
            depth = 0
        else:
            qi = rest.find("?")
            hi = rest.find("#")
            cut = hi if qi == -1 else (qi if hi == -1 else min(qi, hi))
            depth = (rest if cut == -1 else rest[:cut]).count("/")
        hosts.append(host)
        tlds.append(tld)
        depths.append(depth)

        # ---- html side
        if b is None:
            titles.append(None)
            charsets.append(None)
            mlangs.append(None)
            eclasses.append(None)
            evers.append(None)
            ever_raws.append(None)
            texts.append(None)
            tok_lists.append([])
            ntoks.append(0)
            nbs.append(0)
            continue
        doc = b.decode("utf-8", errors="replace")
        nbs.append(len(b))
        charsets.append(_find_quoted(doc, _CHARSET_MARK))
        eclasses.append(_find_quoted(doc, _CLASS_MARK))
        mlangs.append(_find_quoted(doc, _LANG_MARK))
        ever_raw = _find_quoted(doc, _VER_MARK)
        ever_raws.append(ever_raw)
        # malformed version strings in arbitrary web input → null value,
        # raw kept for triage (TryParse semantics,
        # XmlStringValueConversions.cs:27-59) — never a task-killing throw
        if ever_raw:
            try:
                ever = parse_hex_or_dec(ever_raw)
                if ever is not None and not (-(2**31) <= ever < 2**31):
                    ever = None  # out of Int32 range (schema type)
            except ValueError:
                ever = None
        else:
            ever = None
        evers.append(ever)
        i = doc.find("<title>")
        if i == -1:
            titles.append(None)
        else:
            j = doc.find("</title>", i + 7)
            titles.append(_unescape(doc[i + 7 : j]) if j != -1 else None)
        text = _extract_text(doc)
        texts.append(text)
        toks = text.split()
        tok_lists.append(toks)
        ntoks.append(len(toks))

    out = pd.DataFrame(
        {
            "host": hosts,
            "tld": tlds,
            "path_depth": np.asarray(depths, dtype=np.int32),
            "title": titles,
            "charset": charsets,
            "meta_lang": mlangs,
            "event_class": eclasses,
            "ever": pd.array(evers, dtype="Int32"),
            "ever_raw": ever_raws,
            "text_extracted": texts,
            "n_tokens": pd.array(ntoks, dtype="Int32"),
            "n_bytes": pd.array(nbs, dtype="Int64"),
        }
    )
    if _with_tokens:
        return out, tok_lists
    return out


# ---- fused text features (UDF-side twins of operators/textstats.py) -------
# Computing these inside the SAME Arrow batch as the parse reuses the
# already-decoded text and its token list: measured 4.3s/1.6M docs cheaper
# than the equivalent JVM regex expressions bolted on after the UDF
# (each JVM feature is another full pass over the text column).

_STOPSETS = {
    "en": frozenset("the and of to in is that for with was".split()),
    "de": frozenset("der die das und ist nicht mit ein von zu".split()),
    "fr": frozenset("le la les et est pas pour que une dans".split()),
    "es": frozenset("el la los las que es por con una para".split()),
}
_FP_MOD = (1 << 31) - 1
# deletion tables: len(t) - len(t.translate(tbl)) counts the class members
# at C speed (≈3x faster than regex findall on these hot paths)
_PUNCT_DEL = str.maketrans("", "", ".,;:!?")
_UPPER_DEL = str.maketrans("", "", "ABCDEFGHIJKLMNOPQRSTUVWXYZ")
_STOPITEMS = tuple(_STOPSETS.items())


def _doc_features(t: str, toks: list[str]) -> tuple:
    """quality score / lang-id / fingerprint for ONE doc (formulas mirror
    operators/textstats.py). Fingerprint is the SAME rolling per-token
    polynomial as textstats.fingerprint — h = (h*1000003 + hash(tok)) mod
    2^31-1 from 2166136261 — with crc32 as the token hash (python has no
    xxhash64), so VALUES differ from the JVM operator but the structure is
    identical: whitespace-run-insensitive, order-sensitive, partitioning-
    independent."""
    from zlib import crc32

    n_tok = len(toks)
    n_chars = len(t)
    if n_chars:
        punct_r = (n_chars - len(t.translate(_PUNCT_DEL))) / n_chars
        upper_r = (n_chars - len(t.translate(_UPPER_DEL))) / n_chars
    else:
        punct_r = upper_r = 0.0
    avg_wl = (n_chars / n_tok) if n_tok else 0.0
    # token boundaries are whitespace and lower() never maps to/from
    # whitespace, so lowering the whole text then splitting equals
    # lowering each token — but runs at C speed in two passes
    low = set(t.lower().split()) if n_tok else frozenset()
    n_stop = len(low & _STOPSETS["en"])
    stop_hit = (n_stop / 10.0) if n_tok else 0.0
    score = (
        min(n_tok / 100.0, 1.0) * 0.4
        + min(stop_hit * 2, 1.0) * 0.3
        + (1.0 - min(punct_r * 10, 1.0)) * 0.2
        + (1.0 - min(upper_r * 5, 1.0)) * 0.1
    )
    best_lang, best_hits = "und", 0
    for lg, ws in _STOPITEMS:
        h = len(low & ws)
        if h > best_hits or (h == best_hits and h > 0 and lg > best_lang):
            best_lang, best_hits = lg, h
    fp = 2166136261
    for tok in toks:
        fp = (fp * 1000003 + crc32(tok.encode())) % _FP_MOD
    return (
        round(avg_wl, 6),
        round(punct_r, 6),
        round(upper_r, 6),
        round(score, 6),
        best_lang if best_hits > 0 else "und",
        fp,
    )


_FEATURE_COLS = (
    "q_avg_word_len", "q_punct_ratio", "q_upper_ratio", "q_score",
    "lang_detected", "doc_fingerprint",
)


# powers of 1000003 mod 2^31-1, grown on demand and cached per process so
# the vectorized fingerprint fold is a pure table lookup per token
_PW_CACHE = np.ones(1, dtype=np.uint64)


def _pow_table(n: int) -> np.ndarray:
    global _PW_CACHE
    if len(_PW_CACHE) <= n:
        m = len(_PW_CACHE)
        ext = np.empty(n + 1, dtype=np.uint64)
        ext[:m] = _PW_CACHE
        p = np.uint64(1000003)
        M = np.uint64(_FP_MOD)
        for i in range(m, n + 1):
            ext[i] = ext[i - 1] * p % M
        _PW_CACHE = ext
    return _PW_CACHE


def _fingerprint_fold(tok_lists: list) -> np.ndarray:
    """Vectorized twin of _doc_features' rolling fingerprint: for token
    hashes h_1..h_n, fold((acc*1000003 + h) % M) from seed s equals
    (s*p^n + Σ h_i·p^(n-i)) mod M — computed batch-wide over the flattened
    token stream (crc32 per token is the only remaining Python-level
    iteration). Empty docs keep the raw seed, exactly like the scalar
    loop which never reduces an un-updated accumulator."""
    from zlib import crc32

    n = len(tok_lists)
    lens = np.fromiter(map(len, tok_lists), dtype=np.int64, count=n)
    out = np.full(n, 2166136261, dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return out
    from itertools import chain

    hashes = np.fromiter(
        map(crc32, map(str.encode, chain.from_iterable(tok_lists))),
        dtype=np.uint64,
        count=total,
    )
    M = np.uint64(_FP_MOD)
    pw = _pow_table(int(lens.max()))
    ends = np.cumsum(lens)
    starts = ends - lens
    # exponent of each token = (doc_len - 1 - position_in_doc)
    pos = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
    exp = np.repeat(lens, lens) - 1 - pos
    terms = (hashes % M) * pw[exp] % M  # < 2^31 each; products < 2^62
    # exclusive-prefix-sum segment sums (reduceat mishandles empty segs);
    # cumsum of <2^31 terms stays exact in uint64 up to ~2^33 tokens
    cums = np.concatenate(([np.uint64(0)], np.cumsum(terms)))
    segsum = (cums[ends] - cums[starts]) % M
    seed = np.uint64(2166136261 % _FP_MOD)
    fp = (seed * pw[lens] % M + segsum) % M
    nz = lens > 0
    out[nz] = fp[nz].astype(np.int64)
    return out


def text_feature_batch(text: pd.Series, tokens=None) -> pd.DataFrame:
    """quality score / lang-id / fingerprint per doc. `tokens` (parallel
    iterable of token lists) skips re-tokenizing when the caller already
    tokenized — the fused parse path reuses parse_batch's lists.

    Batch-vectorized form of the scalar spec `_doc_features` (kept above;
    a property test pins elementwise equality): the per-doc loop keeps
    only the C-speed str scans (translate counts, stopword set
    intersections), while ratios / score arithmetic and the fingerprint
    polynomial fold run as whole-batch numpy — measured ~1.7x faster per
    core than the scalar loop, straight off the wide-pass hot path."""
    texts = [(t if t is not None else "") for t in text]
    if tokens is None:
        tok_lists = [t.split() for t in texts]
    else:
        tok_lists = tokens if isinstance(tokens, list) else list(tokens)
    n = len(texts)
    if n == 0:
        return pd.DataFrame({c: [] for c in _FEATURE_COLS})
    # char / char-class counts: one Arrow (re2, SIMD-friendly C) pass per
    # class beats str.translate deletion tables ~5x; the classes are pure
    # ASCII so utf8 codepoint semantics match len()/translate exactly
    import pyarrow as _pa
    import pyarrow.compute as _pc

    arr = _pa.array(texts, type=_pa.string())
    nchars = _pc.utf8_length(arr).to_numpy(zero_copy_only=False).astype(np.float64)
    punct_cnt = _pc.count_substring_regex(arr, r"[.,;:!?]").to_numpy(
        zero_copy_only=False
    ).astype(np.float64)
    upper_cnt = _pc.count_substring_regex(arr, r"[A-Z]").to_numpy(
        zero_copy_only=False
    ).astype(np.float64)
    ntok = np.fromiter(map(len, tok_lists), dtype=np.float64, count=n)
    stop_cnt = np.zeros(n, dtype=np.float64)
    langs: list = []
    en = _STOPSETS["en"]
    items = _STOPITEMS
    lang_append = langs.append
    for i, t in enumerate(texts):
        if ntok[i]:
            low = set(t.lower().split())
            stop_cnt[i] = len(low & en)
            best_lang, best_hits = "und", 0
            for lg, ws in items:
                h = len(low & ws)
                if h > best_hits or (h == best_hits and h > 0 and lg > best_lang):
                    best_lang, best_hits = lg, h
            lang_append(best_lang if best_hits > 0 else "und")
        else:
            lang_append("und")
    # vectorized arithmetic, operation order matching _doc_features exactly
    # (left-assoc sums, score from UNrounded ratios)
    has_c = nchars > 0
    safe_c = np.where(has_c, nchars, 1.0)
    punct_r = np.where(has_c, punct_cnt / safe_c, 0.0)
    upper_r = np.where(has_c, upper_cnt / safe_c, 0.0)
    has_t = ntok > 0
    avg_wl = np.where(has_t, nchars / np.where(has_t, ntok, 1.0), 0.0)
    stop_hit = np.where(has_t, stop_cnt / 10.0, 0.0)
    score = (
        np.minimum(ntok / 100.0, 1.0) * 0.4
        + np.minimum(stop_hit * 2, 1.0) * 0.3
        + (1.0 - np.minimum(punct_r * 10, 1.0)) * 0.2
        + (1.0 - np.minimum(upper_r * 5, 1.0)) * 0.1
    )
    fps = _fingerprint_fold(tok_lists)
    # scalar round(x, 6): correctly-rounded decimal semantics, identical
    # to the scalar spec (np.round's scale-rint-divide can differ by 1ulp)
    return pd.DataFrame(
        {
            "q_avg_word_len": [round(v, 6) for v in avg_wl.tolist()],
            "q_punct_ratio": [round(v, 6) for v in punct_r.tolist()],
            "q_upper_ratio": [round(v, 6) for v in upper_r.tolist()],
            "q_score": [round(v, 6) for v in score.tolist()],
            "lang_detected": langs,
            "doc_fingerprint": fps,
        }
    )


PARSED_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("tld", StringType()),
        StructField("path_depth", IntegerType()),
        StructField("title", StringType()),
        StructField("charset", StringType()),
        StructField("meta_lang", StringType()),
        StructField("event_class", StringType()),
        StructField("ever", IntegerType()),
        StructField("ever_raw", StringType()),
        StructField("text_extracted", StringType()),
        StructField("n_tokens", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)


@F.pandas_udf(PARSED_SCHEMA)
def _parse_udf(url: pd.Series, html: pd.Series) -> pd.DataFrame:
    return parse_batch(url, html)


from pyspark.sql.types import DoubleType  # noqa: E402

FEATURED_SCHEMA = StructType(
    PARSED_SCHEMA.fields
    + [
        StructField("q_avg_word_len", DoubleType()),
        StructField("q_punct_ratio", DoubleType()),
        StructField("q_upper_ratio", DoubleType()),
        StructField("q_score", DoubleType()),
        StructField("lang_detected", StringType()),
        StructField("doc_fingerprint", LongType()),
    ]
)


_META_ANY = re.compile(r'<meta name="([^"]*)" content="([^"]*)">|<meta content="([^"]*)">')


def meta_map_batch(html: pd.Series) -> pd.Series:
    """F2 analog (XmlDissector.MapData:83-108): all <meta> name→content as an
    ordered dict; unnamed metas get positional fallback names $X01, $X02…"""

    def one(b: bytes | None) -> dict | None:
        if b is None:
            return None
        doc = b.decode("utf-8", errors="replace")
        out: dict[str, str] = {}
        anon = 0
        for m in _META_ANY.finditer(doc):
            if m.group(1) is not None:
                out[m.group(1)] = m.group(2)
            else:
                anon += 1
                out[f"$X{anon:02d}"] = m.group(3)
        return out

    return html.map(one)


@F.pandas_udf(MapType(StringType(), StringType()))
def meta_map_udf(html: pd.Series) -> pd.Series:
    return meta_map_batch(html)


def parse_pages_fused(pages: DataFrame) -> DataFrame:
    """Pipeline wide-pass variant of parse_pages: mapInPandas instead of a
    pandas_udf struct column, with the text features (text_feature_batch)
    computed in the same Arrow batch. The passthrough columns (url,
    warc_ts, lang) ride the Arrow batch through Python and the output rows
    come back fully assembled — no JVM-side struct expand / input-batch
    zip. Measured ~5-8% faster end-to-end than the struct form, and
    steadier under CPU contention.

    Trade-off: mapInPandas is a pushdown BARRIER — downstream filters on
    (url, warc_ts, lang) cannot reach the scan through it. The pipeline's
    batch is already fully filtered when parsed, so nothing is lost there;
    composable query paths keep the filter-transparent parse_pages."""
    from pyspark.sql.types import StructField, TimestampType

    out_schema = StructType(
        [
            StructField("url", StringType()),
            StructField("warc_ts", TimestampType()),
            StructField("lang", StringType()),
        ]
        + FEATURED_SCHEMA.fields
    )

    def gen(batches):
        for pdf in batches:
            base, toks = parse_batch(pdf["url"], pdf["html"], _with_tokens=True)
            yield pd.concat(
                [pdf[["url", "warc_ts", "lang"]].reset_index(drop=True), base,
                 text_feature_batch(base["text_extracted"], tokens=toks)],
                axis=1,
            )

    valid = pages.where(F.col("url").isNotNull() & F.col("warc_ts").isNotNull())
    return valid.select("url", "warc_ts", "lang", "html").mapInPandas(gen, out_schema)


def parse_pages(pages: DataFrame, keep_payload: bool = False) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → parsed header frame.

    Emits the narrow 'EventHeader-analog' projection by default — the
    reference's V2 header/payload split (Design-v2.md:64-69) falls out of
    Parquet column pruning + dropping the blob after extraction. Filters on
    (url, warc_ts, lang) stay pushable below the UDF; parsed-column filters
    apply after. Validity filter per EventRecordSource.cs:75-78: drop rows
    missing identity or timestamp."""
    valid = pages.where(F.col("url").isNotNull() & F.col("warc_ts").isNotNull())
    parsed = valid.withColumn("p", _parse_udf(F.col("url"), F.col("html")))
    cols = ["url", "warc_ts", "lang"] + [f"p.{f.name}" for f in PARSED_SCHEMA.fields]
    if keep_payload:
        cols = ["url", "warc_ts", "lang", "html", "text"] + cols[3:]
    return parsed.select(*cols)
