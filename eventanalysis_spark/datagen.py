"""Deterministic synthetic `pages` table generator (BASELINE.json input_hint):

    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Every field is a pure function of (seed, doc_id) via a splitmix64 counter
stream — NO global RNG state — so generation is embarrassingly parallel:
the same rows come out whether generated in one pandas call (tests/oracle)
or distributed over `spark.range(n).mapInPandas(...)` at any partitioning.
That property is what makes the byte-identical-text invariant testable and
what lets the generator scale to bench sizes without a driver bottleneck.

Fixture contract follows FIXTURES.md §1: Zipf-ish hosts with ≥2 hot hosts
(skew exercise), ≥3 calendar months and non-unique timestamps
(archive-window exercise, reference ArchiveBuilder.cs:145-148), control
chars 0x01-0x1F in some html (FixXml repair path, XmlUtilities.cs:28-58),
empty-vs-null title distinction (XmlStringValueConversions.cs:99-106),
langs absent from the dictionary (dimension discovery J5).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from eventanalysis_spark.operators.route import DEFAULT_SINK

_MASK = (1 << 64) - 1
_GOLDEN = 0x9E3779B97F4A7C15

DEFAULT_SEED = 42

# ---- closed vocabularies -------------------------------------------------

HOSTS = [
    # two deliberately hot hosts first (skew exercise)
    "pages.hothost-alpha.com",
    "cdn.hothost-beta.net",
    "www.example.org",
    "blog.sample.io",
    "news.daily-web.com",
    "shop.mega-store.net",
    "forum.tech-talk.org",
    "wiki.openfacts.org",
    "docs.devhub.dev",
    "media.streamly.tv",
    "api.dataplane.io",
    "app.cloudsuite.com",
    "static.assets-cdn.net",
    "mail.webletter.org",
    "photos.snapshare.com",
    "video.cliphouse.tv",
    "code.gitforge.dev",
    "maps.geoview.org",
    "weather.skycast.net",
    "sports.scoreline.com",
]

LANGS = ["en", "en", "en", "de", "fr", "es", "zh", "ru", "ja", "pt", "it", "xx"]
# dictionary (lang_info) deliberately lacks: pt, it, xx  → J5 discovery

EVENT_CLASSES = ["article", "product", "forum", "login", "error", "media", "listing", "api"]

CHARSETS = ["utf-8", "utf-8", "utf-8", "iso-8859-1", "windows-1252"]

_WORDS = (
    "the quick brown fox jumps over lazy dog data spark shuffle partition "
    "broadcast join filter aggregate window event log channel provider task "
    "opcode record archive page crawl host lang token byte stream batch "
    "commit resume checkpoint lineage metric salt skew hash range scan "
    "column prune push predicate limit order sample export rollup month week "
    "day bucket count total average north rule oracle parquet arrow pandas"
).split()

_PATH_SEGS = (
    "index home about news item post thread user view edit list archive "
    "topic page detail search result category tag feed"
).split()


def _sm64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64."""
    z = (x + np.uint64(_GOLDEN)).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _rng(ids: np.ndarray, seed: int, ctr: int) -> np.ndarray:
    """counter-mode stream: rnd(doc_id, ctr) — uint64 per id."""
    base = (ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)) ^ np.uint64(
        (seed * 0xD1B54A32D192ED03) & _MASK
    )
    return _sm64(base + np.uint64((ctr * 0x8CB92BA72F3D8DD7) & _MASK))


def _u01(ids: np.ndarray, seed: int, ctr: int) -> np.ndarray:
    return (_rng(ids, seed, ctr) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


_ESC = {"&": "&amp;", "<": "&lt;", ">": "&gt;"}
# control chars the reference's FixXml escapes (XmlUtilities.cs:28-58)
_CTRL = "".join(chr(c) for c in list(range(0x01, 0x09)) + [0x0B, 0x0C] + list(range(0x0E, 0x20)))


def _escape(s: str, numeric_ctrl: bool) -> str:
    out = []
    for ch in s:
        if ch in _ESC:
            out.append(_ESC[ch])
        elif ch in _CTRL and numeric_ctrl:
            out.append(f"&#x{ord(ch):04X};")
        else:
            out.append(ch)
    return "".join(out)


def generate_pages_batch(ids: np.ndarray, seed: int = DEFAULT_SEED) -> pd.DataFrame:
    """Pure function: doc ids → pages rows. The single source of truth used
    by BOTH the Spark distributed generator and the pure-pandas oracle."""
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)

    # ---- host: hot-host skew then power-law tail
    r_host = _u01(ids, seed, 1)
    tail = (np.power(_u01(ids, seed, 2), 2.0) * (len(HOSTS) - 2)).astype(np.int64) + 2
    host_idx = np.where(r_host < 0.22, 0, np.where(r_host < 0.38, 1, tail))

    lang_idx = (_rng(ids, seed, 3) % np.uint64(len(LANGS))).astype(np.int64)
    cls_idx = (_rng(ids, seed, 4) % np.uint64(len(EVENT_CLASSES))).astype(np.int64)
    charset_idx = (_rng(ids, seed, 5) % np.uint64(len(CHARSETS))).astype(np.int64)

    # ---- warc_ts: 2024-11-10 .. 2025-02-20 UTC, second resolution,
    # quantized to a coarse grid so exact-duplicate timestamps occur.
    t0 = np.int64(pd.Timestamp("2024-11-10T00:00:00Z").value // 1_000_000_000)
    span = np.int64(102 * 24 * 3600)  # ~102 days → Nov, Dec, Jan, Feb
    tsec = t0 + ((_rng(ids, seed, 6) % np.uint64(span // 300)).astype(np.int64)) * 300
    warc_ts = pd.to_datetime(tsec * 1_000_000_000).tz_localize(None)

    # ---- event version: mostly 1-3; carried in html as decimal or 0x-hex
    ever = ((_rng(ids, seed, 7) % np.uint64(3)).astype(np.int64) + 1).astype(np.int64)
    ver_hex = _u01(ids, seed, 8) < 0.25  # hex wire-form exercise (F4)

    # ---- per-row variable content (python loop over the Arrow batch:
    # this is datagen, not the query hot path)
    n_paras = (_rng(ids, seed, 9) % np.uint64(6)).astype(np.int64)  # 0..5
    title_mode = (_rng(ids, seed, 10) % np.uint64(10)).astype(np.int64)
    ctrl_mode = (_rng(ids, seed, 11) % np.uint64(17)).astype(np.int64)
    nw = len(_WORDS)

    urls: list[str] = []
    htmls: list[bytes] = []
    texts: list[str] = []
    titles: list[str | None] = []

    for i in range(n):
        did = int(ids[i])
        hv = int(_rng(ids[i : i + 1], seed, 12)[0])
        seg1 = _PATH_SEGS[hv % len(_PATH_SEGS)]
        seg2 = _PATH_SEGS[(hv >> 8) % len(_PATH_SEGS)]
        depth = hv % 3
        path = "/" + seg1 + ("" if depth == 0 else f"/{seg2}") + (
            "" if depth < 2 else f"/{did % 97}"
        )
        q = f"?id={did}" if (hv >> 16) % 4 == 0 else ""
        url = f"https://{HOSTS[int(host_idx[i])]}{path}{q}#d{did}"
        # '#d{did}' fragment guarantees url uniqueness (rid role)

        # paragraphs
        paras = []
        wstream = int(_rng(ids[i : i + 1], seed, 13)[0])
        for p in range(int(n_paras[i])):
            k = 3 + (wstream >> (p * 3)) % 10
            words = [
                _WORDS[(wstream + p * 131 + w * 17 + did) % nw] for w in range(k)
            ]
            para = " ".join(words)
            if int(ctrl_mode[i]) == p:  # inject a control char in one para
                para = para + _CTRL[did % len(_CTRL)]
            if (wstream + p) % 11 == 0:  # markup-sensitive chars
                para = para + " a&b <tag> c>d"
            paras.append(para)
        text = "\n".join(paras)  # "" when no paragraphs (empty ≠ null)

        tm = int(title_mode[i])
        if tm == 0:
            title = None  # <title> absent entirely
        elif tm == 1:
            title = ""  # present but empty (null vs empty is semantic)
        else:
            title = f"{seg1.capitalize()} {did % 1000} & more"

        numeric_ctrl = did % 2 == 0  # half raw control bytes, half &#x..; form
        body = "".join(f"<p>{_escape(p, numeric_ctrl)}</p>" for p in paras)
        title_tag = "" if title is None else f"<title>{_escape(title, True)}</title>"
        ver_str = f"0x{int(ever[i]):x}" if ver_hex[i] else str(int(ever[i]))
        html = (
            f'<!DOCTYPE html><html lang="{LANGS[int(lang_idx[i])]}"><head>'
            f'<meta charset="{CHARSETS[int(charset_idx[i])]}">'
            f'<meta name="ea:class" content="{EVENT_CLASSES[int(cls_idx[i])]}">'
            f'<meta name="ea:ver" content="{ver_str}">'
            f"{title_tag}</head><body>{body}</body></html>"
        )
        urls.append(url)
        htmls.append(html.encode("utf-8"))
        texts.append(text)
        titles.append(title)

    return pd.DataFrame(
        {
            "url": pd.Series(urls, dtype="object"),
            "warc_ts": warc_ts,
            "html": pd.Series(htmls, dtype="object"),
            "text": pd.Series(texts, dtype="object"),
            "lang": pd.Series([LANGS[int(j)] for j in lang_idx], dtype="object"),
        }
    )


# ---- Spark-side distributed generation ------------------------------------

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def pages_df(spark, n_rows: int, seed: int = DEFAULT_SEED, partitions: int | None = None):
    """Distributed pages generation: spark.range → mapInPandas over the pure
    batch function. Identical bytes at any partitioning (counter-mode RNG)."""
    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)

    def gen(it):
        for pdf in it:
            yield generate_pages_batch(pdf["id"].to_numpy(), seed)

    return spark.range(0, n_rows, 1, parts).mapInPandas(gen, PAGES_DDL)


def write_pages(spark, path: str, n_rows: int, seed: int = DEFAULT_SEED,
                partitions: int | None = None) -> None:
    pages_df(spark, n_rows, seed, partitions).write.mode("overwrite").parquet(path)


# ---- dimension / rule fixtures (FIXTURES.md §2-3) --------------------------

def host_info_rows() -> list[tuple[int, str, str | None]]:
    """ProviderInfo analog (RawEventDbV2.cs:1138-1143): unique name, assigned
    id, nullable attribute. Deliberately incomplete: the last 4 hosts are
    missing so the pipeline must discover them (J5)."""
    rows = []
    for i, h in enumerate(HOSTS[:-4]):
        registrar = None if i % 5 == 3 else f"registrar-{i % 4}"
        rows.append((i + 1, h, registrar))
    return rows


def lang_info_rows() -> list[tuple[str, str | None]]:
    """TaskInfo analog (Design-v2.md:27-29): null desc = unknown,
    empty = lookup failed permanently. pt/it/xx absent → discovery."""
    return [
        ("en", "English"),
        ("de", "German"),
        ("fr", "French"),
        ("es", "Spanish"),
        ("zh", None),  # unknown (null)
        ("ru", ""),  # permanently-failed lookup (empty)
        ("ja", "Japanese"),
    ]


def route_rules_rows() -> list[tuple[str, int, bool, str]]:
    """EventState analog (RawEventDbV1.cs:666-671 + EventInfoTracker.cs:44-55):
    per-class enable flag + min version + target sink. Classes absent here
    are default-allowed into the 'misc' sink."""
    return [
        ("article", 0, True, "content"),
        ("forum", 0, True, "content"),
        ("product", 2, True, "commerce"),  # min_version filter exercise
        ("listing", 0, True, "commerce"),
        ("login", 0, False, "security"),  # disabled → dropped but observed
        ("error", 0, True, "security"),
        # 'media' and 'api' unknown → default-allow to 'misc'
    ]


def host_info_df(spark):
    return spark.createDataFrame(
        host_info_rows(), "host_id int, host string, registrar string"
    )


def lang_info_df(spark):
    return spark.createDataFrame(lang_info_rows(), "lang string, lang_name string")


def route_rules_df(spark):
    return spark.createDataFrame(
        route_rules_rows(),
        "event_class string, min_version int, enabled boolean, sink string",
    )

SINKS = ["content", "commerce", "security", DEFAULT_SINK]
