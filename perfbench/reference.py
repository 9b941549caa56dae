"""Independent reference results, computed in DuckDB.

The ingest reference is derived from the generated `pages` parquet alone:
the host comes from the url, `ea:class` / `ea:ver` from the html (decimal
or 0x-hex), and the routing rules are applied in SQL. It does not call the
package's parser, router or aggregates.

Read-side references run the same query in SQL over the parquet files a
warehouse table's current snapshot lists.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb

MISC_SINK = "misc"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def parquet_list(dirs: list[str]) -> str:
    """DuckDB list literal of every parquet file under the given dirs."""
    files = sorted(
        f for d in dirs
        for f in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    )
    if not files:
        raise FileNotFoundError(f"no parquet files under {dirs}")
    return "[" + ", ".join(_sql_str(f) for f in files) + "]"


def routed_pages_sql(pages_dir: str,
                     rules: list[tuple[str, int, bool, str]]) -> str:
    """One row per page with its routing decision. `rules` rows are
    (event_class, min_version, enabled, sink)."""
    values = ", ".join(
        f"({_sql_str(c)}, {int(v)}, {'TRUE' if e else 'FALSE'}, {_sql_str(s)})"
        for c, v, e, s in rules
    )
    return f"""
    WITH pages AS (
      SELECT url, warc_ts::TIMESTAMP AS warc_ts, lang, decode(html) AS h
      FROM read_parquet({_sql_str(os.path.join(pages_dir, '*.parquet'))})
      WHERE url IS NOT NULL AND warc_ts IS NOT NULL
    ), parsed AS (
      SELECT url, warc_ts, lang,
             regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
             regexp_extract(h, '<meta name="ea:class" content="([^"]*)"', 1) AS event_class,
             TRY_CAST(trim(regexp_extract(h, '<meta name="ea:ver" content="([^"]*)"', 1))
                      AS INTEGER) AS ever
      FROM pages
    ), rules(r_class, r_minver, r_enabled, r_sink) AS (VALUES {values})
    SELECT p.*,
           COALESCE(r_enabled, TRUE) AND COALESCE(ever, 0) >= COALESCE(r_minver, 0)
             AS allowed,
           COALESCE(r_sink, {_sql_str(MISC_SINK)}) AS sink
    FROM parsed p LEFT JOIN rules ON p.event_class = r_class
    """


class IngestReference:
    """Expected per-sink row counts, url sets and the
    (sink, host, lang, event_class, day) aggregate of a pages input."""

    def __init__(self, con, pages_dir: str, rules):
        con.execute(f"CREATE OR REPLACE TEMP TABLE ref_routed AS "
                    f"{routed_pages_sql(pages_dir, rules)}")
        rows = con.execute(
            "SELECT sink, url, strftime(warc_ts, '%Y-%m') FROM ref_routed WHERE allowed"
        ).fetchall()
        self.urls: dict[str, set[str]] = {}
        self.month_of: dict[str, str] = {}
        for sink, url, month in rows:
            self.urls.setdefault(sink, set()).add(url)
            self.month_of[url] = month
        self.counts = {s: len(u) for s, u in self.urls.items()}
        self.agg = {
            (s, h, lg, c, d): n
            for s, h, lg, c, d, n in con.execute(
                "SELECT sink, host, lang, event_class, strftime(warc_ts, '%Y-%m-%d'), "
                "count(*) FROM ref_routed WHERE allowed GROUP BY ALL"
            ).fetchall()
        }
        self.n_docs = con.execute("SELECT count(*) FROM ref_routed").fetchone()[0]

    def urls_without_month(self, sink: str, month: str) -> set[str]:
        return {u for u in self.urls.get(sink, set()) if self.month_of[u] != month}


# ---- warehouse-side readers (package output, read back independently) -----

def table_dirs(wh_root: str, table: str) -> list[str]:
    """Directories of a table's current snapshot, from its manifest."""
    with open(os.path.join(wh_root, table, "_manifest.json")) as f:
        m = json.load(f)
    snap = next(s for s in m["snapshots"] if s["id"] == m["current"])
    return [os.path.join(wh_root, table, d) for d in snap["dirs"]]


def table_urls(con, wh_root: str, table: str) -> list[str]:
    return [r[0] for r in con.execute(
        f"SELECT url FROM read_parquet({parquet_list(table_dirs(wh_root, table))})"
    ).fetchall()]


def warehouse_agg(con, wh_root: str) -> dict[tuple, int]:
    """Current totals of the pipeline's per-batch sink aggregate table."""
    return {
        (s, h, lg, c, b): int(n)
        for s, h, lg, c, b, n in con.execute(
            "SELECT sink, host, lang, event_class, bucket, sum(n) "
            f"FROM read_parquet({parquet_list(table_dirs(wh_root, 'sink_agg'))}) "
            "WHERE sink <> '__quarantine' GROUP BY ALL"
        ).fetchall()
    }


def check_ingest(con, wh_root: str, ref: IngestReference,
                 sinks: list[str]) -> list[str]:
    """Mismatches between a drained warehouse and the reference."""
    problems = []
    for s in sinks:
        expected = ref.urls.get(s, set())
        tbl = f"sink_{s}"
        if not os.path.exists(os.path.join(wh_root, tbl, "_manifest.json")):
            if expected:
                problems.append(f"{tbl}: missing, expected {len(expected)} rows")
            continue
        got = table_urls(con, wh_root, tbl)
        if len(got) != len(expected) or set(got) != expected:
            problems.append(f"{tbl}: {len(got)} rows vs {len(expected)} expected "
                            f"({len(set(got) ^ expected)} urls differ)")
    got_agg = warehouse_agg(con, wh_root)
    if got_agg != ref.agg:
        diff = set(got_agg.items()) ^ set(ref.agg.items())
        problems.append(f"sink_agg: {len(diff)} (key, n) pairs differ")
    return problems
