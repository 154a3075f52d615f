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
the store is opened.  The walked-back focus is planned into the write, so
it costs no job of its own.

Report store: `report/`, one parquet directory of violation rows.  A
batch writes `prev ▷ reval ∪ fresh` to a sibling `report.staging-<uuid>`:
`prev` is the stored report, read whenever `report/` exists; `reval` the
re-validated targets (the union of the Engine's targets frames, already
kept to the focus); `▷` a left anti-join on the row's bubble, the target
it was recorded under; `fresh` the Engine's violations of those targets.
A stored row whose bubble is no current target (the shapes changed when
the store was reopened) is kept, whatever the focus.  The swap replaces
the directory: `report` is renamed aside to `report.old`, the staging dir
renamed to `report`, and `report.old` dropped.  A crash in a gap leaves
`report.old` without `report` (restored when the next batch starts, and
the replayed upsert is idempotent), or both (the leftover is dropped);
a crash before the swap leaves only a staging dir, swept at the next
batch start.  `report()` never writes: it reads `report/`, else
`report.old`, else nothing, so it may run beside a batch (Iceberg MERGE
replaces the swap at cluster scale).

The store used to be 16 `bucket=K` dirs, K = pmod(hash(bubble), 16), and a
batch swapped only its targets' buckets.  A traced perfbench
shacl_incremental batch (seed 1, `local[4]`) still rewrote 11.5 of 16
buckets, holding 24.5 report rows in 97.5 KB of mostly parquet file
overhead, and a batch of 44 targets reaches about 15 of 16 in expectation:
the buckets cost code and saved no I/O.  A store in that layout opens as
it is: reading `report/` drops its partition column, and the next batch
writes it flat.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..graph import local_frame, object_decomposed, subject_decomposed, terms_frame
from ..localgraph import LocalGraph
from ..program import Program
from ..shapes import ShapesIR
from ..validation import _KINDS, SUBCLASS_ENC, VIOL_COLS, VIOL_SCHEMA, Engine, eval_path


class IncrementalValidator:
    def __init__(self, spark: SparkSession, shapes: LocalGraph, work_dir: str, registry=None):
        self.spark = spark
        self.shapes = shapes
        self.registry = registry
        self.read_set = Program(ShapesIR(shapes, registry), _KINDS).read_set
        self.graph_dir = os.path.join(work_dir, "graph")
        self.report_dir = os.path.join(work_dir, "report")
        os.makedirs(work_dir, exist_ok=True)
        # format 2: graph/ holds each (s, p, o) once.  A store without it
        # appended replayed batches raw (its reads de-duplicated), so graph/
        # is rewritten distinct once; a crash after the delete leaves only
        # the rewritten copy, which the next start moves in.  Other keys
        # (the retired n_buckets) are ignored
        meta_path = os.path.join(work_dir, "report_meta.json")
        meta = {}
        if os.path.isfile(meta_path):
            with open(meta_path) as fh:
                meta = json.load(fh)
        if meta.get("format") != 2:
            distinct = self.graph_dir + ".distinct"
            if os.path.isdir(self.graph_dir):
                (spark.read.parquet(self.graph_dir).dropDuplicates(["s", "p", "o"])
                 .write.mode("overwrite").parquet(distinct))
                shutil.rmtree(self.graph_dir)
            if os.path.isdir(distinct):
                os.rename(distinct, self.graph_dir)
            with open(meta_path, "w") as fh:
                json.dump({"format": 2}, fh)
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

    def _recover(self) -> None:
        """Finish a swap a crash interrupted: drop orphaned staging dirs,
        and restore `report.old` if `report` is missing (the crash hit
        between the rename-aside and the move-in), else drop it.  Only a
        batch start may do this: batches run serially per stream, so no
        staging dir is live then."""
        parent, base = os.path.split(os.path.abspath(self.report_dir))
        for entry in os.listdir(parent):
            if entry.startswith(base + ".staging-"):
                shutil.rmtree(os.path.join(parent, entry))
        old = self.report_dir + ".old"
        if os.path.isdir(old):
            if os.path.isdir(self.report_dir):
                shutil.rmtree(old)
            else:
                os.rename(old, self.report_dir)

    def _read_report(self, path: str) -> DataFrame:
        # the violation schema, so no job infers it; the select drops what
        # older stores carry besides: the bucket partition column and the
        # retired _batch column
        return self.spark.read.schema(VIOL_SCHEMA).parquet(path).select(*VIOL_COLS)

    # -- the foreachBatch callback -------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self._recover()
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
        # under the child focus, so the upsert keys on bubble, and on the
        # re-validated targets rather than the focus: a focus that is no
        # current target keeps its stored rows
        rows = engine._all_violations()
        if os.path.isdir(self.report_dir):
            reval = functools.reduce(DataFrame.unionByName, [
                engine.targets_frame(shape).select(F.col("focus").alias("bubble"))
                for shape in shapes
            ])
            rows = (self._read_report(self.report_dir).join(reval, "bubble", "left_anti")
                    .unionByName(rows))

        # staged write, then the swap: rename the old report ASIDE, move the
        # staged one in, drop the aside copy; a crash in any gap leaves the
        # .old dir (restored by the next batch's _recover) or a completed
        # swap, never a lost report
        staging = f"{self.report_dir}.staging-{uuid.uuid4().hex[:8]}"
        rows.write.parquet(staging)
        old = self.report_dir + ".old"
        if os.path.isdir(self.report_dir):
            os.rename(self.report_dir, old)
        os.rename(staging, self.report_dir)
        if os.path.isdir(old):
            shutil.rmtree(old)

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
        """The stored report.  Read-only, so it may run beside a batch: a
        batch between its rename-aside and its move-in leaves only
        `report.old`, which holds the report before that batch.  The frame
        reads the files it lists, which the next swap deletes: act on it
        before the next batch."""
        for path in (self.report_dir, self.report_dir + ".old"):
            if os.path.isdir(path):
                return self._read_report(path)
        return local_frame(self.spark, [], VIOL_SCHEMA)
