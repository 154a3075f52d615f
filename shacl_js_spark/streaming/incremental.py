"""Incremental SHACL re-validation over a triple stream.

Semantics: the accumulated graph is the data graph; each micro-batch is a
delta (new triples).  Rather than re-validating the world per batch (the
reference's updateDataGraph does exactly that, index.js:235-248), each batch
re-validates only the targets whose result its triples can change, and
upserts their report rows.  Which those are is decided by the shapes'
compiled read set (program.Program.read_set): a list of anchors (predicate
or any, the triple side a check reads it at, the reversed path from that
node back to the target focus).  For every anchor whose predicate the batch
carries, the batch's nodes on that side are walked back along the path over
the accumulated graph (validation.eval_path, its fixpoint included); the
union is the focus of one Engine (`Engine(focus=...)`), which plans every
shape in one pass over the targets among them.  So sh:class re-validates
the referrers of a node whose rdf:type arrives late, and nested sh:node
and multi-step paths the targets that reach a changed node, however many
steps back.  The anchors come from the batch's own triples, not only the
appended absent ones, so a replayed batch re-validates the same targets
and heals a crash before the swap.  sh:targetNode terms are targets before
any triple names them, so they are foci of every batch; a batch that
matches no anchor and has no such term re-validates nothing.

Every target is re-validated (`focus=None`) when the shapes have no
bounded read set: a recursive shape reference, dash:uniqueValueForClass or
a registry validator; and when the batch carries rdfs:subClassOf, which
every class closure reads.

A batch is one append, one small driver step and one fused validate-and-
upsert write.  The append keeps RDF set semantics: only the batch's distinct
triples that `graph/` lacks are appended (a left anti-join on (s, p, o); an
Iceberg MERGE at cluster scale), so `graph/` is distinct, every read of it
is a plain scan, and a replayed batch appends nothing.  The append job also
observes the batch's predicates, which select the anchors, and its
rdfs:subClassOf edges, which extend the class hierarchy collected once when
the store is opened.  The write observes, at its root, the report buckets
of the re-validated targets, so a walked-back focus costs no job of its own.

Report store layout: `report/bucket=K/` with K = pmod(hash(bubble),
n_buckets) — a batch rewrites ONLY the buckets of its re-validated targets
(staged write + per-bucket directory swap); other buckets' files are
untouched, and the write reads only those buckets (their partitions are
pruned at run time by the broadcast bucket set), so per-batch report I/O is
O(affected buckets), not O(full report).  A crash mid-swap leaves some
buckets old and some new; the foreachBatch replay re-runs the same
bubble-keyed upsert, which is idempotent, so mixed states heal (Iceberg
MERGE replaces the swap at cluster scale).
"""

from __future__ import annotations

import functools
import json
import logging
import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..graph import local_frame, object_decomposed, subject_decomposed, terms_frame
from ..localgraph import LocalGraph
from ..program import Program
from ..shapes import ShapesIR
from ..validation import _KINDS, SUBCLASS_ENC, VIOL_COLS, VIOL_SCHEMA, Engine, eval_path

# a report bucket's rows: the violation columns and the bucket partition
REPORT_SCHEMA = StructType([*VIOL_SCHEMA.fields, StructField("bucket", IntegerType())])


def _buckets(report_dir: str) -> set[str]:
    """The K of the `bucket=K` dirs under `report_dir` (none if it is absent)."""
    if not os.path.isdir(report_dir):
        return set()
    return {e[len("bucket="):] for e in os.listdir(report_dir) if e.startswith("bucket=")}


class IncrementalValidator:
    def __init__(self, spark: SparkSession, shapes: LocalGraph, work_dir: str,
                 registry=None, n_buckets: int = 16):
        self.spark = spark
        self.shapes = shapes
        self.registry = registry
        self.read_set = Program(ShapesIR(shapes, registry), _KINDS).read_set
        self.graph_dir = os.path.join(work_dir, "graph")
        self.report_dir = os.path.join(work_dir, "report")
        os.makedirs(work_dir, exist_ok=True)
        # bucket count is a property of the STORE, not the session: a restart
        # with a different n_buckets would strand rows in old-hash buckets
        # that no batch ever rewrites, so an existing store's value wins
        meta_path = os.path.join(work_dir, "report_meta.json")
        meta = {"n_buckets": n_buckets}
        if os.path.isfile(meta_path):
            with open(meta_path) as fh:
                meta = json.load(fh)
            if meta["n_buckets"] != n_buckets:
                logging.getLogger(__name__).warning(
                    "report store was created with n_buckets=%d; ignoring "
                    "requested n_buckets=%d", meta["n_buckets"], n_buckets,
                )
        self.n_buckets = meta["n_buckets"]
        # format 2: graph/ holds each (s, p, o) once.  A store without it
        # appended replayed batches raw (its reads de-duplicated), so graph/
        # is rewritten distinct once; a crash after the delete leaves only
        # the rewritten copy, which the next start moves in
        if meta.get("format") != 2:
            distinct = self.graph_dir + ".distinct"
            if os.path.isdir(self.graph_dir):
                (spark.read.parquet(self.graph_dir).dropDuplicates(["s", "p", "o"])
                 .write.mode("overwrite").parquet(distinct))
                shutil.rmtree(self.graph_dir)
            if os.path.isdir(distinct):
                os.rename(distinct, self.graph_dir)
            with open(meta_path, "w") as fh:
                json.dump({**meta, "format": 2}, fh)
        # parent -> children over graph/'s rdfs:subClassOf edges: collected
        # once here and extended from each batch's edges, observed on its
        # append, so a batch's Engine runs no subclass collect of its own
        self.subclass_edges: dict[str, set[str]] = {}
        if os.path.isdir(self.graph_dir):
            self._add_subclass_edges(
                spark.read.schema("s string, p string, o string").parquet(self.graph_dir)
                .filter(F.col("p") == SUBCLASS_ENC).select("s", "o").collect()
            )

    def _add_subclass_edges(self, edges) -> None:
        for child, parent in edges:
            self.subclass_edges.setdefault(parent, set()).add(child)

    def _bucket(self, col):
        # Murmur3 with Spark's fixed seed: stable across batches and runs.
        # pmod by a positive literal is never null, but Spark types it
        # nullable; the coalesce types it non-null, so a join on a bucket
        # column infers no isnotnull filter, which pushed down into the
        # targets frames would keep their shuffles from being reused
        return F.coalesce(F.pmod(F.hash(col), F.lit(self.n_buckets)).cast("int"), F.lit(0))

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
        # append the absent distinct triples, observing the batch's
        # predicates and subClassOf edges
        obs = Observation()
        new = batch_df.observe(
            obs,
            F.collect_set("p").alias("p"),
            F.collect_set(F.when(F.col("p") == SUBCLASS_ENC, F.array("s", "o"))).alias("sub"),
        ).dropDuplicates(["s", "p", "o"])
        if os.path.isdir(self.graph_dir):
            graph = self.spark.read.schema(batch_df.schema).parquet(self.graph_dir)
            new = new.join(graph, ["s", "p", "o"], "left_anti")
        new.write.mode("append").parquet(self.graph_dir)
        self._add_subclass_edges(obs.get["sub"])
        full = self.spark.read.schema(batch_df.schema).parquet(self.graph_dir)

        # the foci: every target, or those reached from the batch's own
        # triples (also on a replay, which heals a crash before the swap)
        # along the read set
        focus = None
        if not (obs.get["sub"] or self.read_set.unbounded):
            focus = self._walk_back(batch_df, full, set(obs.get["p"]))
            if focus is None:
                return
        engine = Engine(self.spark, full, self.shapes, registry=self.registry,
                        subclass_edges=self.subclass_edges, focus=focus)
        shapes = engine.ir.shapes_with_target()
        if not shapes:
            return
        # one fused plan over every shape; rows keep the bubble column (the
        # shape's TARGET focus): nested property violations are recorded
        # under the child focus, so the upsert must key on bubble
        new_rows = engine._all_violations().withColumn("bucket", self._bucket(F.col("bubble")))
        # the re-validated targets (the memoized frames the plan scans) and
        # their buckets, which the write rewrites and the swap replaces
        reval = functools.reduce(DataFrame.unionByName, [
            engine.targets_frame(shape).select(F.col("focus").alias("bubble"))
            for shape in shapes
        ])
        buckets = reval.select(self._bucket(F.col("bubble")).alias("bucket"))
        rows = new_rows
        if focus is not None and _buckets(self.report_dir):
            # a stored row's bubble was a target when it was written and
            # still is (graph/ only grows), so it is re-validated iff it is
            # a focus (every stored row is, without one).  Keep the stored
            # rows of the re-validated buckets (their partitions pruned at
            # run time by this broadcast bucket set) whose bubble is no
            # focus, and add the fresh rows
            prev = self.spark.read.schema(REPORT_SCHEMA).parquet(self.report_dir)
            rows = (prev.join(F.broadcast(buckets), "bucket", "left_semi")
                    .join(focus, prev["bubble"] == focus["focus"], "left_anti")
                    .unionByName(new_rows))
        # the buckets are observed at the root of the write, which no
        # empty-relation rewrite can remove (below it, a batch that reaches
        # no target or a bare sh:target lost the observation): one marker
        # row per target, its violation columns null, is counted and then
        # filtered out (a violation row's bubble is never null)
        touched = Observation()
        merged = (rows.unionByName(buckets, allowMissingColumns=True)
                  .observe(touched, F.collect_set("bucket").alias("b"))
                  .filter(F.col("bubble").isNotNull()))

        # staged write + per-bucket swap: unaffected buckets are never
        # rewritten (their files stay byte-identical across the batch).
        # Swap order is crash-safe: rename the old bucket ASIDE first, move
        # the staged one in, then drop the aside copy — a crash in any gap
        # leaves either the .old dir (restored by _recover_buckets on the
        # replayed batch) or a completed swap, never a lost bucket.
        staging = f"{self.report_dir}.staging-{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").partitionBy("bucket").parquet(staging)
        os.makedirs(self.report_dir, exist_ok=True)
        for b in touched.get["b"]:
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

    def _walk_back(self, batch: DataFrame, full: DataFrame, preds: set[str]) -> DataFrame | None:
        """The terms reached from the batch's triples along each anchor of
        the read set whose predicate the batch carries (`preds`, encoded):
        the nodes on the anchor's side, walked back to a focus over `full`;
        and the sh:targetNode terms, which are targets before any triple
        names them.  None when there are neither: the batch changes no
        target's result."""
        walks: dict[tuple, set] = {}
        for a in self.read_set.anchors:
            if a.pred is None or f"<{a.pred}>" in preds:
                walks.setdefault((a.side, a.back), set()).add(a.pred)
        frames = []
        if self.read_set.nodes:
            frames.append(terms_frame(self.spark, list(self.read_set.nodes)).select("focus"))
        for (side, back), anchor_preds in walks.items():
            trips = batch
            if None not in anchor_preds:
                trips = batch.filter(F.col("p").isin(sorted(f"<{p}>" for p in anchor_preds)))
            nodes = trips.select(*(subject_decomposed("s", "focus") if side == "s"
                                   else object_decomposed("focus")))
            if back is not None:
                nodes = eval_path(full, back, nodes).select(F.col("value").alias("focus"))
            frames.append(nodes.select("focus"))
        return functools.reduce(DataFrame.unionByName, frames) if frames else None

    # -- stream wiring ---------------------------------------------------
    def start(self, stream_df: DataFrame, checkpoint_dir: str):
        return (stream_df.writeStream.foreachBatch(self.process_batch)
                .option("checkpointLocation", checkpoint_dir)
                .trigger(availableNow=True).start())

    def report(self) -> DataFrame:
        self._recover_buckets()
        if not _buckets(self.report_dir):
            return local_frame(self.spark, [], VIOL_SCHEMA)
        # the report schema, so no job infers it; select, not drop("bucket"):
        # stores written before the _batch column was retired still carry it
        return self.spark.read.schema(REPORT_SCHEMA).parquet(self.report_dir).select(*VIOL_COLS)
