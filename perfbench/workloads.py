"""The benchmark's workloads.  Each runs as a closed loop with one client:
the next operation starts only after the previous one returned.

A workload has these phases, driven by ``run.py``:
    generate()   - make the seeded inputs (pure Python, no Spark)
    prepare()    - Spark-side set-up and warm-up
    before_op(i) - untimed preparation of operation i
    op(i)        - the timed operation; returns what check() needs
    check(out)   - the untimed output check of one operation -> ``OpResult``
    finish()     - the untimed output check of the whole run
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import shutil
import sys
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen
from tracing import tree_bytes, tree_state, written_bytes

EX = "http://example.org/kg#"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

SIZES = {
    # bench: the measured size; smoke: the self-test size (sf0.001-like)
    "bench": {"kg_docs": 30, "kg_replicas": 2, "inc_docs": 400, "inc_batches": 16},
    "smoke": {"kg_docs": 10, "kg_replicas": 2, "inc_docs": 200, "inc_batches": 16},
}


@dataclass
class OpResult:
    ok: bool            # output check passed
    triples: int        # work units completed (triples)
    layer: dict = field(default_factory=dict)  # per-op workload numbers (traced)


def program_hash() -> str:
    """Hash of the program's sources: state recorded by one version of the
    program is never compared with the output of another."""
    import shacl_js_spark

    root = os.path.dirname(shacl_js_spark.__file__)
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


class Workload:
    name = ""
    op_s = 1.0    # nominal seconds of one operation: --seconds S times
    max_ops = 1   # min(max_ops, max(1, S // op_s)) operations

    def __init__(self, work: str, state: str, seed: int, size: str):
        self.work = work    # scratch space of this run
        self.state = state  # kept across runs in the checkout
        self.seed = seed
        self.size = SIZES[size]

    @classmethod
    def n_ops(cls, seconds: float) -> int:
        """The fixed number of timed operations of a run: it depends on
        --seconds only, never on how fast the operations go."""
        return min(cls.max_ops, max(1, int(seconds // cls.op_s)))

    def attach(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer

    def install_tracing(self) -> None:
        """Wrap the program's public calls in spans (traced runs only)."""
        from shacl_js_spark.localgraph import LocalGraph
        from shacl_js_spark.validation import Engine

        t = self.tracer
        t.wrap(LocalGraph, "from_turtle", "turtle.parse")
        t.wrap(Engine, "__init__", "shapes.compile")
        t.wrap(Engine, "_all_violations", "validation.plan_build")

    def before_op(self, i: int) -> None:
        """Untimed per-op preparation."""
        self.settle()

    def finish(self) -> bool:
        """Untimed check after the timed loop over everything the run did;
        False fails every operation of the run."""
        return True

    def settle(self) -> None:
        """Drop the previous operation's garbage before timing the next:
        collecting Python-side DataFrame references lets the JVM collect
        their plans and Spark's context cleaner unpersist their caches."""
        gc.collect()
        self.spark._jvm.System.gc()


# --------------------------------------------------------------- kg_build

# PipelineRunner stage -> layer name in the per-layer metrics
STAGE_LAYER = {
    "documents": "synth", "mentions": "extract", "links": "link",
    "raw_triples": "emit", "canonical_map": "canonicalize",
    "triples": "canonicalize", "nodes": "nodes", "edges": "edges",
    "validation_report": "report",
}

# independent counts over the materialized parquet, in DuckDB.  {t} is the
# triples table, {m} the mentions table.
TRIPLES = "(SELECT * FROM read_parquet('{t}/*.parquet'))"
# the violations KG_SHAPES_TTL must report: one row per failing focus for
# min/maxCount, one per failing (focus, value) pair for value constraints
KG_VIOLATIONS_SQL = f"""
WITH t AS {TRIPLES},
ent AS (SELECT DISTINCT s FROM t WHERE p = '{RDF_TYPE}' AND o = '<{EX}Entity>'),
doc AS (SELECT DISTINCT s FROM t WHERE p = '{RDF_TYPE}' AND o = '<{EX}Document>')
SELECT
  (SELECT count(*) FROM ent WHERE s NOT IN (
     SELECT s FROM t WHERE p = '<http://www.w3.org/2000/01/rdf-schema#label>'))
+ (SELECT count(*) FROM t WHERE s IN (SELECT s FROM ent)
     AND p = '<http://www.w3.org/2000/01/rdf-schema#label>'
     AND NOT (o_kind = 'literal'
              AND o_dt = 'http://www.w3.org/2001/XMLSchema#string'))
+ (SELECT count(*) FROM t WHERE s IN (SELECT s FROM ent)
     AND p = '<{EX}coOccursWith>' AND o_kind <> 'iri')
+ (SELECT count(*) FROM doc WHERE s NOT IN (
     SELECT s FROM t WHERE p = '<{EX}language>'))
+ (SELECT count(*) FROM (SELECT s FROM t WHERE s IN (SELECT s FROM doc)
     AND p = '<{EX}language>' GROUP BY s HAVING count(DISTINCT o) > 1))
+ (SELECT count(*) FROM t WHERE s IN (SELECT s FROM doc)
     AND p = '<{EX}mentions>' AND o NOT IN (SELECT s FROM ent))
+ (SELECT count(*) FROM t WHERE s IN (SELECT s FROM doc)
     AND p = '<{EX}hasMedia>' AND o_kind <> 'iri')
"""
# the nodes and edges stages, as run_pipeline defines them
KG_NODES_SQL = f"SELECT count(*) FROM (SELECT DISTINCT s, o FROM {TRIPLES} WHERE p = '{RDF_TYPE}')"
KG_EDGES_SQL = f"SELECT count(*) FROM {TRIPLES} WHERE o_kind = 'iri'"
# replica k of a document is a shuffle of its tokens, so every replica must
# yield the same mentions: (base doc, surface) groups whose count differs
# across the {k} replicas
KG_MENTIONS_SQL = f"""
WITH m AS (SELECT CAST(substr(doc_id, 5) AS BIGINT) AS id, surface
           FROM read_parquet('{{m}}/*.parquet')),
c AS (SELECT id % {gen.KEY_OFFSET} AS d, id // {gen.KEY_OFFSET} AS k, surface, count(*) AS n
      FROM m GROUP BY ALL)
SELECT count(*) FROM (SELECT d, surface FROM c GROUP BY d, surface
                      HAVING count(*) <> {{k}} OR min(n) <> max(n))
"""


def _stage_metrics(out_dir: str) -> dict[str, tuple[int, str]]:
    """stage -> (output_rows, checksum) from PipelineRunner's _metrics; a
    stage with no rows has an empty metrics table."""
    out = {}
    for stage in STAGE_LAYER:
        rows = pq.read_table(os.path.join(out_dir, "_metrics", stage)).to_pylist()
        out[stage] = (int(rows[0]["output_rows"]), str(rows[0]["checksum"])) if rows else (0, "")
    return out


class KgBuild(Workload):
    """run_pipeline(validate=True) into a fresh out-dir, once per run: the
    first build of a fresh session, as a batch job runs it."""

    name = "kg_build"
    max_ops = 1

    def generate(self) -> None:
        self.docs = gen.documents(self.seed, self.size["kg_docs"], self.size["kg_replicas"])

    def install_tracing(self) -> None:
        super().install_tracing()
        from shacl_js_spark.pipeline.materialize import PipelineRunner

        self.tracer.wrap(PipelineRunner, "run",
                         lambda _self, stage, *a, **k: f"pipeline.{STAGE_LAYER[stage]}")

    def prepare(self) -> None:
        self.docs_dir = gen.write_documents(self.docs, os.path.join(self.work, "docs"))
        # stage counts and checksums of the first checked run of this seed
        # and program version; every later such run must reproduce them
        corpus = f"{self.size['kg_docs']}x{self.size['kg_replicas']}"
        self.record = os.path.join(self.state, f"kg_build-{corpus}-s{self.seed}-{program_hash()}.json")
        # no warm-up: the first build of a fresh session is what a batch job
        # pays on every run, code generation and JIT warm-up included

    def op(self, i: int) -> str:
        from shacl_js_spark.pipeline.materialize import run_pipeline

        out = os.path.join(self.work, f"out{i}")
        run_pipeline(self.spark, self.docs_dir, out, validate=True)
        return out

    def check(self, out: str) -> OpResult:
        import duckdb

        got = {k: list(v) for k, v in _stage_metrics(out).items()}
        paths = {"t": os.path.join(out, "triples"), "m": os.path.join(out, "mentions")}
        with duckdb.connect() as con:
            def count(sql: str) -> int:
                return con.execute(sql.format(**paths, k=self.size["kg_replicas"])).fetchone()[0]

            expected = {
                "documents": self.size["kg_docs"] * self.size["kg_replicas"],
                "nodes": count(KG_NODES_SQL),
                "edges": count(KG_EDGES_SQL),
                "validation_report": count(KG_VIOLATIONS_SQL),
            }
            bad_mentions = count(KG_MENTIONS_SQL)
        errors = [f"{stage}: {got[stage][0]} rows, expected {n}"
                  for stage, n in expected.items() if got[stage][0] != n]
        if bad_mentions or not got["mentions"][0]:
            errors.append(f"mentions: {got['mentions'][0]} rows, {bad_mentions} "
                          "(document, surface) groups differ across replicas")
        if not errors:
            if not os.path.exists(self.record):
                tmp = f"{self.record}.{os.getpid()}"
                with open(tmp, "w") as fh:
                    json.dump(got, fh)
                os.replace(tmp, self.record)
            with open(self.record) as fh:
                recorded = json.load(fh)
            errors += [f"{stage}: {got[stage]}, recorded {v}"
                       for stage, v in recorded.items() if got[stage] != v]
        for e in errors:
            print(f"kg_build check: {e}", file=sys.stderr)
        n_triples = got["triples"][0]
        layer = {}
        for stage, (rows, _sum) in got.items():
            key = f"pipeline.{STAGE_LAYER[stage]}.rows_out"
            layer[key] = layer.get(key, 0) + rows
        layer["pipeline.materialize.bytes_written_per_triple"] = tree_bytes(out) / n_triples
        layer["report.bytes_written"] = tree_bytes(os.path.join(out, "validation_report"))
        layer["validation.violations"] = got["validation_report"][0]
        shutil.rmtree(out)
        return OpResult(not errors, n_triples, layer)


# ------------------------------------------------------ shacl_incremental

class ShaclIncremental(Workload):
    """IncrementalValidator.process_batch over document-sliced delta
    batches appended to a base graph holding half the KG."""

    name = "shacl_incremental"
    op_s = 12.0
    max_ops = SIZES["bench"]["inc_batches"]

    def generate(self) -> None:
        self.base, self.deltas = gen.kg_graph(self.seed, self.size["inc_docs"],
                                              self.size["inc_batches"])

    def install_tracing(self) -> None:
        super().install_tracing()
        from shacl_js_spark.streaming.incremental import IncrementalValidator
        from shacl_js_spark.validation import Engine

        # process_batch builds its plans shape by shape instead of through
        # _all_violations
        self.tracer.wrap(Engine, "shape_violations", "validation.plan_build")
        self.tracer.wrap(IncrementalValidator, "process_batch", "incremental.process_batch")

    def prepare(self) -> None:
        from shacl_js_spark.localgraph import LocalGraph
        from shacl_js_spark.pipeline.materialize import KG_SHAPES_TTL
        from shacl_js_spark.streaming.incremental import IncrementalValidator

        inputs = os.path.join(self.work, "inc_in")
        os.makedirs(inputs)
        self.paths = []
        for k, table in enumerate([self.base, *self.deltas]):
            path = os.path.join(inputs, f"batch{k}.parquet")
            pq.write_table(table, path)
            self.paths.append(path)
        self.ckpt = os.path.join(self.work, "checkpoints")
        self.spark.sparkContext.setCheckpointDir(self.ckpt)
        store = os.path.join(self.work, "inc")
        self.shapes = LocalGraph.from_turtle(KG_SHAPES_TTL)
        self.iv = IncrementalValidator(self.spark, self.shapes, store)
        self.dirs = {"graph": self.iv.graph_dir, "report": self.iv.report_dir, "ckpt": self.ckpt}
        # batch 0, the base graph, warms the session; timed operation i
        # processes delta batch i
        self._process(0)

    def _process(self, k: int) -> None:
        self.iv.process_batch(self.spark.read.parquet(self.paths[k]), k)

    def before_op(self, i: int) -> None:
        super().before_op(i)
        self.before = {name: tree_state(d) for name, d in self.dirs.items()}

    def op(self, i: int) -> int:
        self._process(i)
        return i

    def check(self, k: int) -> OpResult:
        """Per-batch storage numbers; the report itself is checked once, by
        finish(), against a full re-validation of the final graph."""
        after = {name: tree_state(d) for name, d in self.dirs.items()}
        delta_bytes = os.path.getsize(self.paths[k])
        written = {name: written_bytes(self.before[name], after[name]) for name in after}
        buckets = {os.path.relpath(p, self.iv.report_dir).split(os.sep)[0]
                   for p, v in after["report"].items() if self.before["report"].get(p) != v}
        report_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in after["report"]
                          if p.endswith(".parquet"))
        layer = {
            "incremental.delta_bytes": delta_bytes,
            "incremental.bytes_written_per_delta_byte":
                (written["graph"] + written["report"]) / delta_bytes,
            "incremental.report_buckets_rewritten": len(buckets),
            "report.bytes_written": written["report"],
            "validation.violations": report_rows,
            "graph.checkpoint_bytes": written["ckpt"],
        }
        return OpResult(True, self.deltas[k - 1].num_rows, layer)

    def finish(self) -> bool:
        """The incremental report must equal, row for row, a full
        Engine.report_df() over the final accumulated graph."""
        from collections import Counter

        from shacl_js_spark.validation import RECORD_COLS, Engine

        self.settle()
        full_graph = self.spark.read.parquet(self.iv.graph_dir).dropDuplicates(["s", "p", "o"])
        engine = Engine(self.spark, full_graph, self.shapes)
        full = Counter(tuple(r) for r in engine.report_df().select(*RECORD_COLS).collect())
        engine.release()
        inc = Counter(tuple(r) for r in self.iv.report().select(*RECORD_COLS).collect())
        if inc != full or not full:
            print(f"incremental report: {sum(inc.values())} rows, full re-validation: "
                  f"{sum(full.values())} rows, {sum((inc - full).values())} only incremental, "
                  f"{sum((full - inc).values())} only full", file=sys.stderr)
            return False
        return True


WORKLOADS = {w.name: w for w in (KgBuild, ShaclIncremental)}
