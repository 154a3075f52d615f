"""Iceberg-style snapshot catalog over parquet directories.

The container ships no Iceberg runtime jar (re-verified every round), so this
implements the part of the table format the north rule actually leans on —
ATOMIC visibility of stage output, resume from the last committed snapshot,
and time travel — with the same metadata design Iceberg uses (public spec:
versioned metadata files + an atomically swapped current pointer; Netflix's
Iceberg paper / iceberg.apache.org/spec):

    <root>/<table>/
        data/snap-<uuid>/           immutable parquet data files, one dir
                                    per snapshot (never rewritten)
        metadata/snap-<uuid>.json   snapshot manifest: schema, row count,
                                    checksum, wall_ms, parent pointer, run_id
        metadata/current            the ONLY mutable file: name of the
                                    current snapshot manifest, swapped via
                                    os.replace (atomic on POSIX)

Commit protocol (crash-safe at every step):
    1. write parquet under data/snap-<uuid>/   (invisible: no manifest)
    2. write metadata/snap-<uuid>.json         (invisible: not current)
    3. os.replace a tmp file onto metadata/current  (the commit point)
A crash before (3) leaves the previous snapshot current and the partial
data dir orphaned; `gc()` removes data/metadata not reachable from the
snapshot chain.  A reader never sees a half-written table because `current`
is only ever swapped onto a fully-written manifest.

On a real cluster this maps 1:1 onto Iceberg snapshot commits (the catalog
swap becomes the metastore/REST-catalog CAS).  The data is written and its
stats taken by the same ``write_stage`` as PipelineRunner's stages; the
manifest keeps only the stage totals, not the per-partition lineage.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from .materialize import stage_totals, write_stage


class SnapshotError(RuntimeError):
    pass


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ layout
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _meta(self, table: str) -> str:
        return os.path.join(self._tdir(table), "metadata")

    def _data(self, table: str, snap: str) -> str:
        return os.path.join(self._tdir(table), "data", f"snap-{snap}")

    def _manifest_path(self, table: str, snap: str) -> str:
        return os.path.join(self._meta(table), f"snap-{snap}.json")

    # ----------------------------------------------------------- reading
    def current_snapshot(self, table: str) -> str | None:
        ptr = os.path.join(self._meta(table), "current")
        try:
            with open(ptr) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def manifest(self, table: str, snap: str | None = None) -> dict:
        snap = snap or self.current_snapshot(table)
        if snap is None:
            raise SnapshotError(f"table {table!r} has no committed snapshot")
        with open(self._manifest_path(table, snap)) as f:
            return json.load(f)

    def read(self, table: str, snapshot_id: str | None = None) -> DataFrame:
        """Current table state, or time travel to any retained snapshot."""
        m = self.manifest(table, snapshot_id)
        return self.spark.read.parquet(m["data_path"])

    def history(self, table: str) -> list[dict]:
        """Snapshot chain, newest first, by walking parent pointers."""
        out: list[dict] = []
        snap = self.current_snapshot(table)
        while snap is not None:
            m = self.manifest(table, snap)
            out.append(m)
            snap = m.get("parent")
        return out

    # ---------------------------------------------------------- writing
    def commit(
        self,
        table: str,
        df: DataFrame,
        run_id: str = "r0",
        properties: dict | None = None,
    ) -> dict:
        """Write `df` as a new immutable snapshot and atomically make it
        current.  Returns the committed manifest."""
        snap = uuid.uuid4().hex[:16]
        data_path = self._data(table, snap)
        os.makedirs(self._meta(table), exist_ok=True)
        t0 = time.time()
        out, parts = write_stage(df, data_path, "errorifexists")  # immutable dir
        rows, checksum = stage_totals(parts)
        manifest = {
            "snapshot_id": snap,
            "parent": self.current_snapshot(table),
            "table": table,
            "data_path": data_path,
            "schema": out.schema.jsonValue(),
            "rows": rows,
            "checksum": checksum,
            "wall_ms": int((time.time() - t0) * 1000),
            "run_id": run_id,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "properties": properties or {},
        }
        mp = self._manifest_path(table, snap)
        tmp = mp + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, mp)
        # THE commit point: swap the current pointer atomically.
        # Optimistic-concurrency check (r5 advice): a second committer that
        # raced us would have recorded the same parent; last-writer-wins
        # would silently orphan one commit (then gc() deletes it).  Re-read
        # `current` immediately before the swap and refuse to clobber a
        # commit we did not build on — Iceberg's CAS commit, minus the
        # atomic compare (os.replace has no CAS; the residual window is the
        # gap between this check and the replace, documented here).
        cur_now = self.current_snapshot(table)
        if cur_now != manifest["parent"]:
            raise SnapshotError(
                f"concurrent commit detected for {table!r}: current moved "
                f"from {manifest['parent']!r} to {cur_now!r} while this "
                "commit was writing; retry on top of the new current"
            )
        ptr_tmp = os.path.join(self._meta(table), f".current-{snap}.tmp")
        with open(ptr_tmp, "w") as f:
            f.write(snap)
            f.flush()
            os.fsync(f.fileno())
        os.replace(ptr_tmp, os.path.join(self._meta(table), "current"))
        return manifest

    def rollback(self, table: str, snapshot_id: str) -> None:
        """Point `current` back at an earlier retained snapshot (its data
        dir is immutable, so this is purely a pointer swap)."""
        if not os.path.exists(self._manifest_path(table, snapshot_id)):
            raise SnapshotError(f"unknown snapshot {snapshot_id!r} for {table!r}")
        ptr_tmp = os.path.join(self._meta(table), f".current-{snapshot_id}.tmp")
        with open(ptr_tmp, "w") as f:
            f.write(snapshot_id)
            f.flush()
            os.fsync(f.fileno())
        os.replace(ptr_tmp, os.path.join(self._meta(table), "current"))

    # --------------------------------------------------------- maintenance
    def gc(self, table: str) -> list[str]:
        """Remove data dirs and manifests not reachable from the current
        snapshot chain (crashed half-commits, rolled-back-over snapshots).
        Returns the removed snapshot ids.  Safe concurrently with readers of
        RETAINED snapshots only — like Iceberg's expire_snapshots."""
        import shutil

        keep = {m["snapshot_id"] for m in self.history(table)} if (
            self.current_snapshot(table)
        ) else set()
        removed: list[str] = []
        data_root = os.path.join(self._tdir(table), "data")
        for d in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
            snap = d.removeprefix("snap-")
            if snap not in keep:
                shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)
                try:
                    os.remove(self._manifest_path(table, snap))
                except FileNotFoundError:
                    pass
                removed.append(snap)
        return removed


class SnapshotRunner:
    """PipelineRunner-compatible facade that materializes each stage as a
    SnapshotCatalog table: `run()` resumes from the last committed snapshot
    (same contract as PipelineRunner.run, but the commit is a single atomic
    pointer swap instead of a renamed ``_metrics`` directory, and every
    historical stage output stays time-travel readable until gc())."""

    def __init__(self, spark: SparkSession, out_dir: str, run_id: str = "r0"):
        self.catalog = SnapshotCatalog(spark, out_dir)
        self.run_id = run_id

    def stage_committed(self, stage: str) -> bool:
        return self.catalog.current_snapshot(stage) is not None

    def run(self, stage: str, build, force: bool = False) -> DataFrame:
        if not force and self.stage_committed(stage):
            return self.catalog.read(stage)
        df = build()
        self.catalog.commit(stage, df, run_id=self.run_id)
        return self.catalog.read(stage)

    def metrics(self, stage: str) -> dict:
        m = self.catalog.manifest(stage)
        return {k: m[k] for k in ("rows", "checksum", "wall_ms", "run_id")}
