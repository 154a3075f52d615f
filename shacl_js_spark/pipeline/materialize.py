"""Stage materialization with per-partition lineage + metrics and idempotent
resume (north rule: "resumable from checkpoint with per-partition lineage +
metrics").

Layout under ``out_dir``:
    <stage>/            parquet output of the stage
    _lineage/<stage>/   parquet: one row per non-empty part file, with stage,
                        partition_id (its write task), output_rows, wall_ms,
                        status ("SUCCESS"), run_id
    _metrics/<stage>/   parquet: exactly one row of stage totals (stage,
                        output_rows, checksum, wall_ms, run_id); an empty
                        stage records 0 rows and checksum "0"

A stage costs only its own write (``write_stage``): the stage totals are
observed on the write job itself, and ``_lineage`` comes from the committed
part files' parquet footers.  Both bookkeeping tables are written by pyarrow.
``_metrics/<stage>`` is written last and renamed into place: it is the commit
marker.  Resume contract: a stage whose output, ``_lineage`` and ``_metrics``
dirs all exist is NOT recomputed (a filesystem check) — ``run()`` reads the
committed parquet back instead.  Checksums (sum of xxhash64 over all columns)
make cross-run equality auditable without re-reading inputs.

Written as plain parquet directories; on a cluster these map 1:1 onto Iceberg
tables (an atomic snapshot commit replaces the renamed marker).
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# the column types Spark gave these tables when it wrote them
LINEAGE_SCHEMA = pa.schema([
    ("stage", pa.string()), ("partition_id", pa.int32()), ("output_rows", pa.int64()),
    ("wall_ms", pa.int32()), ("status", pa.string()), ("run_id", pa.string()),
])
METRICS_SCHEMA = pa.schema([
    ("stage", pa.string()), ("output_rows", pa.int64()), ("checksum", pa.string()),
    ("wall_ms", pa.int32()), ("run_id", pa.string()),
])


def write_stage(df: DataFrame, path: str, mode: str) -> tuple[DataFrame, int, str]:
    """Write `df` as parquet at `path`; return it read back with the schema
    it was written with (no inference job), its row count and its checksum.
    The two totals are observed on the write job itself; an empty stage gets
    (0, "0"), so every committed stage has a comparable total."""
    obs = Observation()
    df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        # decimal accumulator: overflow-safe at any row count (ANSI mode)
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).cast("string").alias("checksum"),
    ).write.mode(mode).parquet(path)
    out = df.sparkSession.read.schema(df.schema).parquet(path)
    stats = obs.get  # filled in by the write job
    return out, stats["rows"], stats["checksum"] or "0"


def _replace_parquet(rows: list[dict], schema: pa.Schema, path: str) -> None:
    """Replace the dir `path` with one parquet file of `rows`, written into a
    hidden temp dir that is then renamed into place."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(pa.Table.from_pylist(rows, schema), os.path.join(tmp, "part-0.parquet"))
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


class PipelineRunner:
    def __init__(self, spark: SparkSession, out_dir: str, run_id: str = "r0"):
        self.spark = spark
        self.out_dir = out_dir
        self.run_id = run_id
        os.makedirs(out_dir, exist_ok=True)

    def _path(self, *parts: str) -> str:
        return os.path.join(self.out_dir, *parts)

    def stage_committed(self, stage: str) -> bool:
        paths = (self._path(stage), self._path("_lineage", stage), self._path("_metrics", stage))
        return all(os.path.isdir(p) for p in paths)

    def run(self, stage: str, build, force: bool = False) -> DataFrame:
        """Execute `build() -> DataFrame` unless the stage is already
        committed; returns the committed DataFrame either way.  wall_ms
        covers the build and the write."""
        if not force and self.stage_committed(stage):
            return self.spark.read.parquet(self._path(stage))
        # un-commit first: a crash while rewriting must not leave the old
        # marker vouching for a half-written stage
        shutil.rmtree(self._path("_metrics", stage), ignore_errors=True)
        t0 = time.time()
        out, rows, checksum = write_stage(build(), self._path(stage), "overwrite")
        wall_ms = int((time.time() - t0) * 1000)
        common = {"stage": stage, "wall_ms": wall_ms, "status": "SUCCESS", "run_id": self.run_id}
        # one row per non-empty part file, from its footer (no Spark job);
        # part-NNNNN-... names the write task that wrote it
        files = [f for f in sorted(os.listdir(self._path(stage))) if f.startswith("part-")]
        lineage = [{**common, "partition_id": int(f.split("-")[1]), "output_rows": n}
                   for f in files if (n := pq.read_metadata(self._path(stage, f)).num_rows)]
        _replace_parquet(lineage, LINEAGE_SCHEMA, self._path("_lineage", stage))
        total = {**common, "output_rows": rows, "checksum": checksum}
        _replace_parquet([total], METRICS_SCHEMA, self._path("_metrics", stage))
        return out

    def metrics(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._path("_metrics", stage))


# SHACL shapes applied to the materialized graph (validate stage): every
# entity needs >=1 rdfs:label, IRIs must be under the kg namespace, every
# document mentions only Entity-typed nodes (sh:class via broadcast type
# closure), and media nodes must be typed.
KG_SHAPES_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://example.org/kg#> .

ex:EntityShape a sh:NodeShape ;
  sh:targetClass ex:Entity ;
  sh:property [ sh:path rdfs:label ; sh:minCount 1 ; sh:datatype xsd:string ] ;
  sh:property [ sh:path ex:coOccursWith ; sh:nodeKind sh:IRI ] .

ex:DocumentShape a sh:NodeShape ;
  sh:targetClass ex:Document ;
  sh:property [ sh:path ex:language ; sh:minCount 1 ; sh:maxCount 1 ] ;
  sh:property [ sh:path ex:mentions ; sh:class ex:Entity ] ;
  sh:property [ sh:path ex:hasMedia ; sh:nodeKind sh:IRI ] .
"""


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    validate: bool = True,
    snapshots: bool = False,
):
    """Full north-rule pipeline; returns dict of stage DataFrames + report.

    snapshots=True materializes each stage through the Iceberg-style
    SnapshotCatalog (atomic pointer-swap commits, time-travel, rollback —
    pipeline/snapshots.py) instead of PipelineRunner's parquet directories
    with a ``_metrics`` commit marker; the stage graph and resume contract
    are identical."""
    from ..localgraph import LocalGraph
    from ..validation import Engine
    from .canonicalize import alias_edges, canonicalize_triples, connected_components
    from .emit import EX, emit_triples
    from .extract import extract_mentions
    from .link import link_entities
    from .synth import interleaved_documents

    if snapshots:
        from .snapshots import SnapshotRunner

        runner = SnapshotRunner(spark, out_dir)
    else:
        runner = PipelineRunner(spark, out_dir)
    docs = runner.run("documents", lambda: interleaved_documents(spark, sf_dir))
    mentions = runner.run("mentions", lambda: extract_mentions(spark, docs))
    links = runner.run("links", lambda: link_entities(spark, mentions))
    raw_triples = runner.run("raw_triples", lambda: emit_triples(spark, docs, links))
    mapping = runner.run(
        "canonical_map",
        lambda: connected_components(spark, alias_edges(spark)),
    )
    triples = runner.run(
        "triples",
        lambda: canonicalize_triples(spark, raw_triples, mapping, EX + "entity/"),
    )
    # node/edge tables for graph consumers
    nodes = runner.run(
        "nodes",
        lambda: triples.filter(F.col("p") == "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>")
        .select(F.col("s").alias("node"), F.col("o").alias("node_type"))
        .distinct(),
    )
    edges = runner.run(
        "edges",
        lambda: triples.filter(F.col("o_kind") == "iri")
        .select(F.col("s").alias("src"), F.col("p").alias("rel"), F.col("o").alias("dst")),
    )
    result = {
        "documents": docs, "mentions": mentions, "links": links,
        "raw_triples": raw_triples, "canonical_map": mapping,
        "triples": triples, "nodes": nodes, "edges": edges,
    }
    if validate:
        shapes = LocalGraph.from_turtle(KG_SHAPES_TTL)
        engine = Engine(spark, triples, shapes)
        result["report"] = runner.run("validation_report", lambda: engine.report_df())
    return result
