"""Incremental SHACL re-validation over a triple stream.

Semantics: the accumulated graph is the data graph; each micro-batch is a
delta (new triples).  Rather than re-validating the world per batch (the
reference's updateDataGraph does exactly that, index.js:235-248), each batch
re-validates only the focus nodes it can affect — the subjects and objects
appearing in the batch — against all target shapes, and upserts their report
rows.  This is sound for constraints whose value nodes are within one path
hop of the focus (all core constraints; recursive paths widen the affected
set by the batch's reachable frontier, handled by the `extra_hops` knob).

Plumbing: foreachBatch (exactly-once per epoch with checkpointing), graph
accumulates as parquet (Iceberg append at cluster scale), report maintained
as per-focus upserts keyed on the bubble (target focus) string.

Report store layout: `report/bucket=K/` with K = pmod(hash(bubble),
n_buckets) — a batch rewrites ONLY the buckets its re-validated targets hash
into (staged write + per-bucket directory swap); unaffected buckets' files
are untouched, so per-batch report I/O is O(affected buckets), not O(full
report).  A crash mid-swap leaves some buckets old and some new; the
foreachBatch replay re-runs the same bubble-keyed upsert, which is
idempotent, so mixed states heal (Iceberg MERGE replaces the swap at cluster
scale).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import subject_decomposed, object_decomposed
from ..localgraph import LocalGraph
from ..validation import VIOL_COLS, Engine


class IncrementalValidator:
    def __init__(self, spark: SparkSession, shapes: LocalGraph, work_dir: str,
                 registry=None, extra_hops: int = 0, n_buckets: int = 16):
        self.spark = spark
        self.shapes = shapes
        self.registry = registry
        self.graph_dir = os.path.join(work_dir, "graph")
        self.report_dir = os.path.join(work_dir, "report")
        self.extra_hops = extra_hops
        os.makedirs(work_dir, exist_ok=True)
        # bucket count is a property of the STORE, not the session: a restart
        # with a different n_buckets would strand rows in old-hash buckets
        # that no batch ever rewrites, so an existing store's value wins
        meta_path = os.path.join(work_dir, "report_meta.json")
        if os.path.isfile(meta_path):
            import json

            with open(meta_path) as fh:
                stored = json.load(fh)["n_buckets"]
            if stored != n_buckets:
                import logging

                logging.getLogger(__name__).warning(
                    "report store was created with n_buckets=%d; ignoring "
                    "requested n_buckets=%d", stored, n_buckets,
                )
            self.n_buckets = stored
        else:
            import json

            with open(meta_path, "w") as fh:
                json.dump({"n_buckets": n_buckets}, fh)
            self.n_buckets = n_buckets

    def _bucket(self, col):
        # Murmur3 with Spark's fixed seed: stable across batches and runs
        return F.pmod(F.hash(col), F.lit(self.n_buckets)).cast("int")

    def _recover_buckets(self, sweep_staging: bool = False) -> None:
        """Finish any bucket swap interrupted by a crash: a `bucket=K.old`
        dir whose `bucket=K` is missing means the crash hit between the
        rename-aside and the move-in — restore the old data (the replayed
        batch will re-upsert it); if `bucket=K` exists the swap completed,
        drop the leftover.

        `sweep_staging` additionally drops orphaned `<report_dir>.staging-*`
        siblings left by a crash between the staged write and the swaps (a
        repeatedly-crashing stream would otherwise accumulate them).  ONLY
        the batch-start recovery path may sweep: batches run serially per
        stream, so at batch start no staging dir can be live — whereas
        report() may be called concurrently with an in-flight batch, and
        sweeping there would delete that batch's staging dir mid-swap and
        lose its buckets."""
        if sweep_staging:
            parent, base = os.path.split(os.path.abspath(self.report_dir))
            if os.path.isdir(parent):
                for entry in os.listdir(parent):
                    if entry.startswith(base + ".staging-"):
                        shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
        if not os.path.isdir(self.report_dir):
            return
        for entry in os.listdir(self.report_dir):
            if not entry.endswith(".old"):
                continue
            old = os.path.join(self.report_dir, entry)
            final = os.path.join(self.report_dir, entry[: -len(".old")])
            if os.path.isdir(final):
                shutil.rmtree(old)
            else:
                os.rename(old, final)

    # -- the foreachBatch callback -------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self._recover_buckets(sweep_staging=True)
        batch_df.write.mode("append").parquet(self.graph_dir)
        # RDF set semantics over the accumulated graph: replayed batches
        # (at-least-once delivery) re-append the same triples; without the
        # dedup they inflate counts and duplicate report rows (at cluster
        # scale this is an Iceberg MERGE instead of append+dropDuplicates)
        full = self.spark.read.parquet(self.graph_dir).dropDuplicates(["s", "p", "o"])
        engine = Engine(self.spark, full, self.shapes, registry=self.registry)

        affected = (
            batch_df.select(*subject_decomposed("s", "focus"))
            .unionByName(batch_df.select(*object_decomposed("focus")))
            .dropDuplicates(["focus"])
        )
        # widen by n hops for deep paths: any subject that can reach an
        # affected node within extra_hops is also affected
        frontier = affected
        for _ in range(self.extra_hops):
            trips = engine.trips()
            frontier = (
                trips.join(frontier, trips["t_o"] == frontier["focus"], "left_semi")
                .select(*subject_decomposed("t_s", "focus"))
                .dropDuplicates(["focus"])
            )
            affected = affected.unionByName(frontier).dropDuplicates(["focus"])

        out = None
        revalidated = None
        for shape in engine.ir.shapes_with_target():
            targets = engine.targets_frame(shape).join(
                affected.select("focus"), "focus", "left_semi"
            )
            revalidated = (
                targets.select("focus")
                if revalidated is None
                else revalidated.unionByName(targets.select("focus"))
            )
            # keep the bubble column (the shape's TARGET focus): nested
            # property violations are recorded under the child focus, so
            # the report upsert must key on bubble — deleting by recorded
            # focus left stale grandchild rows to duplicate across batches
            v = engine.shape_violations(shape, targets).select(*VIOL_COLS)
            out = v if out is None else out.unionByName(v)
        if out is None:
            return
        # only the staged write reads new_rows; reval is read twice (the
        # bucket collect below and the upsert's anti-join), so it is pinned
        new_rows = out.withColumn("bucket", self._bucket(F.col("bubble")))
        reval = (
            revalidated.dropDuplicates(["focus"])
            .withColumnRenamed("focus", "bubble")
            .withColumn("bucket", self._bucket(F.col("bubble")))
            .persist()
        )

        # buckets this batch touches: those of the re-validated targets (rows
        # to delete) — new rows are a subset (every new row's bubble is a
        # re-validated target).  Bounded by n_buckets, so collect is safe.
        affected = sorted(
            r["bucket"] for r in reval.select("bucket").dropDuplicates().collect()
        )

        if not affected:  # batch touched no target of any shape
            reval.unpersist()
            return

        # upsert only the affected buckets: read them (partition-pruned),
        # drop rows keyed by a re-validated bubble, append the fresh rows
        if os.path.isdir(self.report_dir) and affected:
            prev = (
                self.spark.read.option("basePath", self.report_dir)
                .parquet(*[f"{self.report_dir}/bucket={b}" for b in affected
                           if os.path.isdir(f"{self.report_dir}/bucket={b}")])
                if any(os.path.isdir(f"{self.report_dir}/bucket={b}") for b in affected)
                else None
            )
            # select: buckets written before the _batch column was retired
            # still carry it, and the union below matches columns by name
            kept = (
                prev.select(*VIOL_COLS, "bucket")
                .join(reval.select("bubble"), "bubble", "left_anti")
                if prev is not None
                else None
            )
        else:
            kept = None
        merged = new_rows if kept is None else kept.unionByName(new_rows)

        # staged write + per-bucket swap: unaffected buckets are never
        # rewritten (their files stay byte-identical across the batch).
        # Swap order is crash-safe: rename the old bucket ASIDE first, move
        # the staged one in, then drop the aside copy — a crash in any gap
        # leaves either the .old dir (restored by _recover_buckets on the
        # replayed batch) or a completed swap, never a lost bucket.
        staging = f"{self.report_dir}.staging-{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").partitionBy("bucket").parquet(staging)
        os.makedirs(self.report_dir, exist_ok=True)
        for b in affected:
            dst = f"{self.report_dir}/bucket={b}"
            src = f"{staging}/bucket={b}"
            aside = dst + ".old"
            if os.path.isdir(dst):
                os.rename(dst, aside)
            if os.path.isdir(src):
                shutil.move(src, dst)
            # else: every row of this bucket was deleted and none added
            if os.path.isdir(aside):
                shutil.rmtree(aside)
        shutil.rmtree(staging, ignore_errors=True)
        reval.unpersist()

    # -- stream wiring ---------------------------------------------------
    def start(self, stream_df: DataFrame, checkpoint_dir: str, trigger_available_now: bool = True):
        writer = stream_df.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def report(self) -> DataFrame:
        self._recover_buckets()
        has_data = os.path.isdir(self.report_dir) and any(
            e.startswith("bucket=") for e in os.listdir(self.report_dir)
        )
        if not has_data:
            from pyspark.sql.types import StringType, StructField, StructType

            schema = StructType(
                [StructField(c, StringType(), True) for c in VIOL_COLS]
            )
            return self.spark.createDataFrame([], schema)
        # select, not drop("bucket"): stores written before the _batch
        # column was retired still carry it
        return self.spark.read.parquet(self.report_dir).select(*VIOL_COLS)
