"""Export sinks — SURVEY.md §2.1 S7-S9.

S7  CSV sink        (XsvBuffer writer, AppDump.fs:175-222)  → df.write.csv
S8  sample docs     (XML sample files, AppSamples.fs:141-150) → k-spread
                    sample collected + per-record files (low volume by
                    construction — the reference writes individual files)
S9  metadata sink   (nested provider→task→op skeleton JSON,
                    ChannelDto.cs:65-109) → nested struct/collect_list JSON

The dump lifecycle (§3.2) is reproduced Spark-first: instead of
schema-discovery-from-newest-row + per-row re-dissection, the export spec
fixes the columns (plans/extract_spec.py) and ONE vectorized pass
extracts them.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventanalysis_spark.operators.query import HeaderQuery, k_spread_sample
from eventanalysis_spark.plans.extract_spec import ExportSpec, compile_spec


def export_csv(df: DataFrame, path: str, single_file: bool = False,
               order_by: list[str] | None = None) -> None:
    """S7: CSV with header. single_file=True coalesces (driver-side-ish,
    only for small exports — the reference's CSV files are per-query
    reports, not bulk data)."""
    out = df
    if order_by:
        out = out.orderBy(*order_by)
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").option("header", True).csv(path)


def export_spec_csv(
    parsed_with_payload: DataFrame, spec: ExportSpec, path: str
) -> DataFrame:
    """§3.2 dump: class filter → spec-compiled extraction → CSV.
    Returns the extracted frame (rows with _err != null are excluded from
    the CSV and returned for quarantine routing)."""
    extracted = compile_spec(spec, parsed_with_payload)
    good = extracted
    if "_err" in extracted.columns:
        good = extracted.where(F.col("_err").isNull()).drop("_err")
    export_csv(good, path, order_by=["url"])
    return extracted


_XML_TOKEN = re.compile(r"<[^>]*>|[^<]+")


def indent_xml(xml: str, fragment: bool = True, indent: str = "  ") -> str:
    """F10: re-indent markup — the IndentXml analog
    (/root/reference/Lcl.EventLog/Utilities/XmlUtilities.cs:95-125):
    elements nest with 2-space indentation, text-only elements stay on one
    line, self-closing tags normalize to `<x />`, whitespace-only text
    nodes between elements are dropped, and fragment=False prepends the
    XML declaration (ConformanceLevel.Document). Like the reference's
    FixXml pre-pass, malformed input degrades gracefully (unbalanced tags
    clamp depth; this never raises) — values are an analog of the .NET
    writer's output, not byte-identical to it."""
    toks = [t for t in _XML_TOKEN.findall(xml or "")]
    lines: list[str] = []
    depth = 0

    def is_tag(t: str) -> bool:
        return t.startswith("<")

    def is_close(t: str) -> bool:
        return t.startswith("</")

    def is_leaf(t: str) -> bool:  # self-closing / PI / comment / doctype
        return t.endswith("/>") or t.startswith(("<?", "<!"))

    def norm(t: str) -> str:
        if t.endswith("/>") and not t.endswith(" />"):
            return t[:-2].rstrip() + " />"
        return t

    i = 0
    while i < len(toks):
        t = toks[i]
        if not is_tag(t):
            if t.strip():
                lines.append(indent * depth + t.strip())
            i += 1
            continue
        if is_close(t):
            depth = max(0, depth - 1)
            lines.append(indent * depth + t)
            i += 1
            continue
        if is_leaf(t):
            lines.append(indent * depth + norm(t))
            i += 1
            continue
        # opening tag: text-only element stays on one line
        if (
            i + 2 < len(toks)
            and not is_tag(toks[i + 1])
            and toks[i + 1].strip()
            and is_close(toks[i + 2])
        ):
            lines.append(indent * depth + t + toks[i + 1].strip() + toks[i + 2])
            i += 3
            continue
        if i + 1 < len(toks) and is_close(toks[i + 1]):  # empty element pair
            lines.append(indent * depth + t + toks[i + 1])
            i += 2
            continue
        lines.append(indent * depth + t)
        depth += 1
        i += 1
    body = "\n".join(lines)
    if fragment:
        return body
    return '<?xml version="1.0" encoding="utf-8"?>\n' + body + "\n"


def export_samples(
    df: DataFrame,
    out_dir: str,
    k: int = 5,
    predicate=None,
    content_col: str = "text_extracted",
    fmt: str = "text",
) -> list[str]:
    """S8: evenly-spread k samples written as individual files (the
    reference's per-event XML sample files, AppSamples.fs:141-150).
    Collect is bounded by k. fmt='xml' re-indents the content column
    through indent_xml (the reference pretty-prints each sampled event
    via XmlUtilities.IndentXml) and writes .xml files."""
    os.makedirs(out_dir, exist_ok=True)
    rows = k_spread_sample(df, k, predicate).collect()
    paths = []
    ext = "xml" if fmt == "xml" else "txt"
    for i, r in enumerate(rows):
        # the index keeps names unique; the url part is only a readable hint
        safe = "".join(c if c.isalnum() else "_" for c in r["url"])[:120]
        p = os.path.join(out_dir, f"sample-{i:04d}-{safe}.{ext}")
        content = r[content_col]
        if isinstance(content, (bytes, bytearray)):
            content = content.decode("utf-8", errors="replace")
        with open(p, "w") as f:
            if fmt == "xml":
                f.write(
                    indent_xml(
                        f"<sample url={json.dumps(r['url'])} "
                        f"warc_ts={json.dumps(str(r['warc_ts']))}>"
                        + (content or "")
                        + "</sample>",
                        fragment=False,
                    )
                )
            else:
                f.write(f"url: {r['url']}\nwarc_ts: {r['warc_ts']}\n\n")
                f.write(content or "")
        paths.append(p)
    return paths


def export_metadata_json(
    host_info: DataFrame,
    lang_info: DataFrame,
    overview: DataFrame,
    path: str | None = None,
) -> str:
    """S9: nested metadata skeleton — hosts with their observed
    (lang, event_class) children and counts, as one JSON document
    (ChannelDto.FromJob analog). Built with collect_list of structs so the
    nesting happens distributed, not in a driver loop."""
    nested = (
        overview.groupBy("host")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct("lang", "event_class", "ever", "n_events")
                )
            ).alias("classes"),
            F.sum("n_events").alias("total_events"),
        )
        .join(F.broadcast(host_info), "host", "left")
        .select("host", "host_id", "registrar", "total_events", "classes")
        .orderBy("host")
    )
    doc = {
        "hosts": [json.loads(r) for r in nested.toJSON().collect()],
        "langs": [
            {"lang": r["lang"], "lang_name": r["lang_name"]}
            for r in lang_info.orderBy("lang").collect()
        ],
    }
    s = json.dumps(doc, indent=2)
    if path:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(s)
        os.replace(tmp, path)
    return s


def export_query_csv(
    df: DataFrame, q: HeaderQuery, path: str, columns: list[str] | None = None
) -> None:
    """§3.2 filtered/ordered/limited header dump to CSV."""
    export_csv(q.apply(df, columns), path)


# ---- JSONL corpus shards (the LLM-training interchange format) -------------


def export_jsonl(
    df: DataFrame,
    path: str,
    shard_rows: int | None = None,
    compression: str = "gzip",
    order_within_shard: list[str] | None = None,
) -> None:
    """Sharded JSONL export — the standard interchange format for web-text
    training corpora (one JSON object per line, gzip shards).

    Spark-first: `df.write.json` IS JSONL (one object per line, one shard
    per task); `shard_rows` caps shard size via maxRecordsPerFile — a
    WRITER-side rotation, so no repartition/count job is needed to hit a
    target shard size at any input scale. Column order in each object
    follows the frame's schema (fixed, not per-row discovered), and
    `order_within_shard` makes shard contents deterministic under a
    deterministic partitioning (sortWithinPartitions — a partition-local
    sort, no Exchange)."""
    out = df
    if order_within_shard:
        out = out.sortWithinPartitions(*order_within_shard)
    w = out.write.mode("overwrite")
    if shard_rows:
        w = w.option("maxRecordsPerFile", int(shard_rows))
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSONL corpus reader with a FIXED schema (never schema-inference:
    at 100 TB an inference pass is a full extra scan, and corrupt lines
    would silently widen types). Malformed lines land in a
    `_corrupt_record` column instead of killing the scan (PERMISSIVE),
    mirroring the pipeline's never-throw parse contract."""
    return (
        spark.read.schema(schema + ", _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
