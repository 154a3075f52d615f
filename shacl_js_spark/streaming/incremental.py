"""Incremental SHACL re-validation over a triple stream.

Semantics: the accumulated graph is the data graph; each micro-batch is a
delta (new triples).  Rather than re-validating the world per batch (the
reference's updateDataGraph does exactly that, index.js:235-248), each batch
re-validates only the focus nodes it can affect — the subjects and objects
appearing in the batch — against all target shapes, and upserts their report
rows.  That covers a focus whose own triples changed.  It misses a focus
whose result depends on triples of its value nodes: `sh:class` reads the
value node's own rdf:type, so a node whose type arrives in a later batch
leaves stale rows on its referrers unless `extra_hops >= 1`; deep paths and
`sh:node` over k hops need `extra_hops >= k`.  `extra_hops` adds every
subject that reaches an affected node within that many hops.  It defaults to
0: a batch's objects include the classes it types nodes with, so one hop
adds every instance of each such class to the batch.

A batch is one append, one small driver step and one fused validate-and-
upsert write.  The append keeps RDF set semantics: only the batch's distinct
triples that `graph/` lacks are appended (a left anti-join on (s, p, o); an
Iceberg MERGE at cluster scale), so `graph/` is distinct, every read of it
is a plain scan, and a replayed batch appends nothing.  The append job also
observes the report buckets of all the batch's terms (with `extra_hops`, one
more job adds the widened terms'), a superset of the re-validated targets'
buckets that needs no job of its own, and the batch's rdfs:subClassOf edges,
which extend the class hierarchy collected once when the store is opened.
One Engine restricted to those terms (`Engine(focus=...)`) plans every shape
in one pass.

Report store layout: `report/bucket=K/` with K = pmod(hash(bubble),
n_buckets) — a batch rewrites ONLY the buckets of its terms (staged write +
per-bucket directory swap); other buckets' files are untouched, so
per-batch report I/O is O(affected buckets), not O(full report).  Only
buckets holding rows are written, so the superset costs few: perfbench's
shacl_incremental at n_buckets=256 (seeds 1, 2; 4 cores) rewrote 8.5 and 5
buckets per batch where the targets' own buckets were 7 and 4.  A crash
mid-swap leaves some buckets old and some new; the foreachBatch replay
re-runs the same bubble-keyed upsert, which is idempotent, so mixed states
heal (Iceberg MERGE replaces the swap at cluster scale).
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

from ..graph import local_frame, t_triples
from ..localgraph import LocalGraph
from ..validation import SUBCLASS_ENC, VIOL_COLS, VIOL_SCHEMA, Engine

# a report bucket's rows: the violation columns and the bucket partition
REPORT_SCHEMA = StructType([*VIOL_SCHEMA.fields, StructField("bucket", IntegerType())])


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
        # append the absent distinct triples, observing the batch's buckets
        # and subClassOf edges
        obs = Observation()
        new = batch_df.observe(
            obs,
            F.collect_set(self._bucket(F.col("s"))).alias("s"),
            F.collect_set(self._bucket(F.col("o"))).alias("o"),
            F.collect_set(F.when(F.col("p") == SUBCLASS_ENC, F.array("s", "o"))).alias("sub"),
        ).dropDuplicates(["s", "p", "o"])
        if os.path.isdir(self.graph_dir):
            graph = self.spark.read.schema(batch_df.schema).parquet(self.graph_dir)
            new = new.join(graph, ["s", "p", "o"], "left_anti")
        new.write.mode("append").parquet(self.graph_dir)
        buckets = set(obs.get["s"]) | set(obs.get["o"])
        self._add_subclass_edges(obs.get["sub"])
        full = self.spark.read.schema(batch_df.schema).parquet(self.graph_dir)

        # the batch's terms, also on a replay (which heals a crash before
        # the swap), plus any subject reaching one within extra_hops
        focus = batch_df.select(F.col("s").alias("focus")).unionByName(
            batch_df.select(F.col("o").alias("focus"))
        )
        if self.extra_hops:
            frontier, hops = focus, []
            for _ in range(self.extra_hops):
                trips = t_triples(full)
                frontier = (trips.join(frontier, trips["t_o"] == frontier["focus"], "left_semi")
                            .select(F.col("t_s").alias("focus")))
                hops.append(frontier)
            widened = functools.reduce(DataFrame.unionByName, hops)
            # the widened terms are graph terms: one job collects their buckets
            buckets |= set(widened.agg(F.collect_set(self._bucket(F.col("focus")))).first()[0])
            focus = focus.unionByName(widened)

        engine = Engine(self.spark, full, self.shapes, registry=self.registry,
                        subclass_edges=self.subclass_edges, focus=focus)
        shapes = engine.ir.shapes_with_target()
        if not shapes or not buckets:
            return
        # one fused plan over every shape; rows keep the bubble column (the
        # shape's TARGET focus): nested property violations are recorded
        # under the child focus, so the upsert must key on bubble
        new_rows = engine._all_violations().withColumn("bucket", self._bucket(F.col("bubble")))
        # the re-validated targets: the same memoized frames the plan scans
        reval = functools.reduce(DataFrame.unionByName, [
            engine.targets_frame(shape).select(F.col("focus").alias("bubble"))
            for shape in shapes
        ])

        # upsert only the touched buckets: read them (partition-pruned),
        # drop rows keyed by a re-validated bubble, append the fresh rows
        present = [d for b in buckets if os.path.isdir(d := f"{self.report_dir}/bucket={b}")]
        merged = new_rows
        if present:
            prev = (self.spark.read.schema(REPORT_SCHEMA)
                    .option("basePath", self.report_dir).parquet(*present))
            merged = prev.join(reval, "bubble", "left_anti").unionByName(new_rows)

        # staged write + per-bucket swap: unaffected buckets are never
        # rewritten (their files stay byte-identical across the batch).
        # Swap order is crash-safe: rename the old bucket ASIDE first, move
        # the staged one in, then drop the aside copy — a crash in any gap
        # leaves either the .old dir (restored by _recover_buckets on the
        # replayed batch) or a completed swap, never a lost bucket.
        staging = f"{self.report_dir}.staging-{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").partitionBy("bucket").parquet(staging)
        os.makedirs(self.report_dir, exist_ok=True)
        for b in buckets:
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
        if not (os.path.isdir(self.report_dir)
                and any(e.startswith("bucket=") for e in os.listdir(self.report_dir))):
            return local_frame(self.spark, [], VIOL_SCHEMA)
        # the report schema, so no job infers it; select, not drop("bucket"):
        # stores written before the _batch column was retired still carry it
        return self.spark.read.schema(REPORT_SCHEMA).parquet(self.report_dir).select(*VIOL_COLS)
