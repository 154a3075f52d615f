"""SHACL validation throughput at scale: run the KG shapes over the
replicated-corpus triple set and report triples validated / sec.

The engine's per-shape plans are joins/aggregations over the whole graph, so
this measures the distributed-validation path of the north star (every
emitted node and triple checked against shape constraints)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

REP = int(os.environ.get("SPARK_GRAFT_SCALE_REP", "50"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))


def main() -> None:
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.maxPlanStringLength", "1000000")
        .config("spark.driver.memory", "4g")
        .config("spark.local.dir", "/dev/shm/spark-local")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from shacl_js_spark.localgraph import LocalGraph
    from shacl_js_spark.pipeline.canonicalize import (
        alias_edges, canonicalize_triples, connected_components,
    )
    from shacl_js_spark.pipeline.emit import EX, emit_triples
    from shacl_js_spark.pipeline.extract import extract_mentions
    from shacl_js_spark.pipeline.link import link_entities
    from shacl_js_spark.pipeline.materialize import KG_SHAPES_TTL
    from shacl_js_spark.pipeline.synth import raw_to_interleaved
    from shacl_js_spark.validation import Engine

    raw_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(64)
    from shacl_js_spark.pipeline.synth import replicate_docs

    big = replicate_docs(spark, raw_docs, REP)
    docs = raw_to_interleaved(big).persist()
    links = link_entities(spark, extract_mentions(spark, docs)).persist()
    triples = canonicalize_triples(
        spark, emit_triples(spark, docs, links),
        connected_components(spark, alias_edges(spark)), EX + "entity/",
    ).persist()
    n = triples.count()

    t0 = time.time()
    report = Engine(spark, triples, LocalGraph.from_turtle(KG_SHAPES_TTL)).validate()
    wall = time.time() - t0
    print(json.dumps({
        "metric": "shacl-validation throughput",
        "triples": n,
        "violations": len(report.results()),
        "conforms": report.conforms(),
        "wall_sec": round(wall, 2),
        "triples_validated_per_sec": round(n / wall, 1),
        "cpus": CPUS, "replicate": REP,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
