"""Warehouse / table layer with Iceberg-style snapshot semantics.

Production target is Apache Iceberg (`df.writeTo(tbl).append()`, ACID
commit, row-level delete, rewrite_data_files) — the sandbox image ships no
Iceberg jars, so this module provides the same contract on plain parquet:

  - every commit writes data files into a NEW immutable directory, then
    atomically swaps a JSON manifest (os.replace) listing the live
    directories → readers see whole snapshots only (the reference's
    transactional batch commit, EventImportJob2.cs:33-62, T4);
  - appends carry arbitrary commit metadata (watermark, lineage, metrics —
    the tag-file analog, EventJob.cs:125-159, T3);
  - delete() drops/rewrites directories (S11 purge,
    OpenDbV2.DeleteEvents:1053-1079); compact() is rewrite_data_files /
    VACUUM (S12, OpenDbV2.cs:1086-1097);
  - time travel: read any previous snapshot id.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass
class Snapshot:
    snapshot_id: int
    dirs: list[str]
    meta: dict
    parent: int | None


class Table:
    """One logical table = <warehouse>/<name>/ with data dirs + manifest.

    `read_only=True` (EventDataZone.cs:20-101 zone flag, propagated through
    Warehouse) makes every mutation raise and the constructor touch nothing
    on disk."""

    MANIFEST = "_manifest.json"

    def __init__(self, root: str, name: str, read_only: bool = False):
        self.path = os.path.join(root, name)
        self.name = name
        self.read_only = read_only
        if not read_only:
            os.makedirs(self.path, exist_ok=True)

    def _check_writable(self) -> None:
        if self.read_only:
            from eventanalysis_spark.sources.zone import ReadOnlyZoneError

            raise ReadOnlyZoneError(
                f"table {self.name!r} belongs to a read-only zone"
            )

    # ---- manifest ----------------------------------------------------
    def _mpath(self) -> str:
        return os.path.join(self.path, self.MANIFEST)

    def _load(self) -> dict:
        if not os.path.exists(self._mpath()):
            return {"current": None, "snapshots": [], "schema": None, "state": {}}
        with open(self._mpath()) as f:
            return json.load(f)

    def _commit(self, m: dict) -> None:
        self._check_writable()
        tmp = self._mpath() + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._mpath())  # atomic snapshot swap

    # ---- introspection -------------------------------------------------
    def exists(self) -> bool:
        return self._load()["current"] is not None

    def current_snapshot(self) -> Snapshot | None:
        m = self._load()
        if m["current"] is None:
            return None
        s = next(x for x in m["snapshots"] if x["id"] == m["current"])
        return Snapshot(s["id"], s["dirs"], s.get("meta", {}), s.get("parent"))

    def snapshots(self) -> list[dict]:
        return self._load()["snapshots"]

    def state(self) -> dict:
        """Small mutable key-value state riding the manifest (watermarks,
        batch bookkeeping) — committed atomically with data."""
        return self._load().get("state", {})

    # ---- read ----------------------------------------------------------
    def _apply_read_drop(self, m: dict, df: DataFrame) -> DataFrame:
        """Manifest-recorded read-side projection: columns that physically
        exist in the data files but are NOT part of the table's logical
        schema (e.g. the router's drop_reason triage column, which is
        quarantine-only — always-null in routed sink partitions adopted
        from the same partitionBy write). DataFrame.drop is a no-op for
        absent columns, so mixed old/new file layouts read uniformly."""
        rd = m.get("read_drop") or []
        return df.drop(*rd) if rd else df

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        m = self._load()
        sid = snapshot_id if snapshot_id is not None else m["current"]
        if sid is None:
            if m["schema"]:
                return spark.createDataFrame([], StructType.fromJson(json.loads(m["schema"])))
            raise FileNotFoundError(f"table {self.name} is empty and has no schema")
        snap = next(x for x in m["snapshots"] if x["id"] == sid)
        dirs = [os.path.join(self.path, d) for d in snap["dirs"]]
        if not dirs:
            return spark.createDataFrame([], StructType.fromJson(json.loads(m["schema"])))
        return self._apply_read_drop(m, spark.read.parquet(*dirs))

    def read_incremental(self, spark: SparkSession, snapshot_id: int) -> DataFrame:
        """Read ONLY the files added by `snapshot_id` (Iceberg incremental-
        scan analog) — lets per-batch readers skip the table's history."""
        m = self._load()
        snap = next(x for x in m["snapshots"] if x["id"] == snapshot_id)
        parent = snap.get("parent")
        parent_dirs = set(
            next((x["dirs"] for x in m["snapshots"] if x["id"] == parent), [])
        )
        dirs = [
            os.path.join(self.path, d) for d in snap["dirs"] if d not in parent_dirs
        ]
        if not dirs:
            return spark.createDataFrame([], StructType.fromJson(json.loads(m["schema"])))
        return self._apply_read_drop(m, spark.read.parquet(*dirs))

    def snapshot_for_meta(self, key: str, value) -> int | None:
        """Newest snapshot id whose commit metadata has meta[key] == value."""
        for s in reversed(self._load()["snapshots"]):
            if s.get("meta", {}).get(key) == value:
                return s["id"]
        return None

    # ---- write ---------------------------------------------------------
    def _add_snapshot(
        self,
        m: dict,
        d: str,
        op: str,
        meta: dict | None,
        state_update: dict | None,
    ) -> int:
        """Commit manifest `m` with a new current snapshot whose dirs are
        the live dirs plus `d` (op "append") or `d` alone ("overwrite")."""
        prev = m["current"]
        dirs = [d]
        if op == "append" and prev is not None:
            dirs = next(x for x in m["snapshots"] if x["id"] == prev)["dirs"] + dirs
        sid = (prev or 0) + 1
        m["snapshots"].append(
            {
                "id": sid,
                "parent": prev,
                "dirs": dirs,
                "meta": {**(meta or {}), "op": op, "committed_at": time.time()},
            }
        )
        m["current"] = sid
        if state_update:
            m.setdefault("state", {}).update(state_update)
        self._commit(m)
        return sid

    def _write_dir(
        self,
        df: DataFrame,
        partition_by: list[str] | None,
        coalesce: int | None = None,
    ) -> str:
        self._check_writable()
        d = f"data-{uuid.uuid4().hex[:12]}"
        if coalesce is not None:
            # Small commits (per-batch aggregates, observation stats, dim
            # snapshots) inherit the shuffle partitioning — up to
            # shuffle.partitions near-empty files per commit. Persisted
            # inputs pin their partitioning before AQE can coalesce, so the
            # caller states the target file count explicitly. Size it to
            # expected-rows/file-target at cluster scale; 1 for driver-built
            # or cardinality-bounded frames. repartition, NOT coalesce:
            # coalesce(1) folds upstream compute into one task (a cold
            # persisted agg materializes serially; a driver-built frame
            # walks its 32 python slices through one worker, ~4s vs 0.5s
            # measured) while the round-robin shuffle keeps it parallel.
            df = df.repartition(coalesce)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(os.path.join(self.path, d))
        return d

    def _check_schema(self, m: dict, schema: StructType) -> None:
        """Iceberg-style append-time schema validation: a mismatched frame
        fails LOUDLY at commit time, not as a cryptic merge error at some
        later read. Field order is irrelevant (parquet reads by name);
        names + types must match exactly."""
        if m["schema"] is None:
            return
        want = {
            (f["name"], json.dumps(f["type"], sort_keys=True))
            for f in json.loads(m["schema"])["fields"]
        }
        got = {
            (f["name"], json.dumps(f["type"], sort_keys=True))
            for f in json.loads(schema.json())["fields"]
        }
        if want != got:
            missing = sorted(n for n, _ in want - got)
            extra = sorted(n for n, _ in got - want)
            raise ValueError(
                f"append to table {self.name!r} with incompatible schema: "
                f"missing/retyped {missing}, unexpected/retyped {extra}"
            )

    def append(
        self,
        df: DataFrame,
        meta: dict | None = None,
        partition_by: list[str] | None = None,
        state_update: dict | None = None,
        coalesce: int | None = None,
    ) -> int:
        m = self._load()
        self._check_schema(m, df.schema)
        d = self._write_dir(df, partition_by, coalesce)
        m["schema"] = m["schema"] or df.schema.json()
        return self._add_snapshot(m, d, "append", meta, state_update)

    def overwrite(
        self,
        df: DataFrame,
        meta: dict | None = None,
        partition_by: list[str] | None = None,
        state_update: dict | None = None,
        coalesce: int | None = None,
    ) -> int:
        m = self._load()
        d = self._write_dir(df, partition_by, coalesce)
        m["schema"] = df.schema.json()
        return self._add_snapshot(m, d, "overwrite", meta, state_update)

    def register_dir(
        self,
        src_dir: str,
        meta: dict | None = None,
        state_update: dict | None = None,
        read_drop: list[str] | None = None,
    ) -> int:
        """Adopt an already-written parquet directory as an append snapshot
        WITHOUT moving it (Iceberg model: data files written in place, the
        manifest commit makes them live). Absolute paths are stored as-is —
        os.path.join in read() passes absolute dirs through — so a crash
        between fan-out commits leaves the staging data intact and the
        re-run fully idempotent."""
        m = self._load()
        d = os.path.abspath(src_dir)
        if read_drop:
            m["read_drop"] = sorted(set(m.get("read_drop") or []) | set(read_drop))
        return self._add_snapshot(m, d, "append", meta, state_update)

    def append_rows(
        self,
        rows: pa.Table,
        meta: dict | None = None,
        state_update: dict | None = None,
    ) -> int:
        """Driver-side small-table append: ONE parquet file written via
        pyarrow — no Spark job at all. Per-batch commits the driver already
        holds (observation stats, dim growth, the per-batch aggregate) are
        part of the pipeline's serial fraction; a Spark write job costs
        0.2-0.5 s of driver scheduling, the arrow write a few ms. Same
        append-time schema validation as DataFrame appends, on the Spark
        types of the arrow columns."""
        self._check_writable()
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        m = self._load()
        schema = from_arrow_schema(rows.schema)
        self._check_schema(m, schema)
        d = f"data-{uuid.uuid4().hex[:12]}"
        os.makedirs(os.path.join(self.path, d), exist_ok=True)
        pq.write_table(rows, os.path.join(self.path, d, "part-00000.parquet"))
        m["schema"] = m["schema"] or schema.json()
        return self._add_snapshot(m, d, "append", meta, state_update)

    def set_state(self, **kv) -> None:
        m = self._load()
        m.setdefault("state", {}).update(kv)
        self._commit(m)

    def delete_where(self, spark: SparkSession, condition: str, meta: dict | None = None) -> int:
        """S11: row-level delete = rewrite of live data minus matches
        (Iceberg copy-on-write semantics)."""
        cur = self.read(spark)
        kept = cur.where(f"NOT ({condition})")
        return self.overwrite(kept, meta={**(meta or {}), "op": "delete", "condition": condition})

    def compact(self, spark: SparkSession, target_partitions: int | None = None) -> int:
        """S12: rewrite_data_files analog — collapse all live dirs into one
        freshly-written snapshot (also expires nothing; see expire())."""
        cur = self.read(spark)
        if target_partitions:
            cur = cur.coalesce(target_partitions)
        return self.overwrite(cur, meta={"op": "compact"})

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Iceberg expire_snapshots analog: physically remove data dirs
        referenced only by snapshots older than the kept window."""
        self._check_writable()
        m = self._load()
        if m["current"] is None:
            return 0
        keep_ids = [s["id"] for s in m["snapshots"]][-keep_last:]
        if m["current"] not in keep_ids:
            keep_ids.append(m["current"])
        live: set[str] = set()
        for s in m["snapshots"]:
            if s["id"] in keep_ids:
                live.update(s["dirs"])
        removed = 0
        for s in m["snapshots"]:
            for d in s["dirs"]:
                p = os.path.join(self.path, d)
                if d not in live and os.path.exists(p):
                    shutil.rmtree(p)
                    removed += 1
        m["snapshots"] = [s for s in m["snapshots"] if s["id"] in keep_ids]
        self._commit(m)
        return removed


class Warehouse:
    def __init__(self, root: str, read_only: bool = False):
        self.root = root
        self.read_only = read_only
        if not read_only:
            os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> Table:
        return Table(self.root, name, read_only=self.read_only)

    def tables(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        )

    def maintain(
        self,
        spark: SparkSession,
        keep_snapshots: int = 2,
        target_partitions: int | None = None,
        prefixes: tuple[str, ...] = ("sink_", "quarantine"),
    ) -> dict[str, dict]:
        """S12 at warehouse scope — the reference's VACUUM maintenance pass
        (AppArchive.fs:57 'up to some tens of minutes', OpenDbV2.cs:1086):
        for every data table, compact the live snapshot (many per-batch
        snappy staging dirs → one zstd-written dir, the Iceberg
        rewrite_data_files analog) and expire superseded snapshots so
        their directories are physically reclaimed. State/dim/agg tables
        are excluded by default — they are tiny single-file commits.
        Returns per-table {dirs_before, dirs_removed}."""
        out: dict[str, dict] = {}
        for name in self.tables():
            if not any(name == p or name.startswith(p) for p in prefixes):
                continue
            t = self.table(name)
            snap = t.current_snapshot()
            if snap is None:
                continue
            before = len(snap.dirs)
            if before > 1:
                t.compact(spark, target_partitions=target_partitions)
            removed = t.expire_snapshots(keep_last=keep_snapshots)
            out[name] = {"dirs_before": before, "dirs_removed": removed}
        return out
