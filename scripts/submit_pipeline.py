#!/usr/bin/env python3
"""spark-submit entrypoint for the full KG-construction pipeline.

The north rule (BASELINE.json) requires the pipeline be runnable via
``spark-submit --py-files`` on a multi-executor cluster.  This script is
that entrypoint: the engine code ships to executors as a zip built by
``make dist`` (dist/engine.zip), and the master/executor topology comes
from spark-submit itself — nothing here hardcodes local mode.

    make dist
    spark-submit --master local[8] \
        --py-files dist/engine.zip \
        scripts/submit_pipeline.py \
        --input /root/testdata/sf0.001 --output /tmp/kg_out

On a real cluster the same invocation takes ``--master yarn`` (or k8s)
plus ``--num-executors N``; the two-cluster-size scaling evidence in
BENCH/BASELINE.md runs this job at two parallelism levels.

Prints ONE JSON line with stage row counts, wall time, and triples/sec.
"""

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="sf dir with the parquet tables")
    ap.add_argument("--output", required=True, help="pipeline output dir (parquet + _lineage/_metrics)")
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="override spark.sql.shuffle.partitions (default: scale with parallelism)")
    ap.add_argument("--no-validate", action="store_true", help="skip the SHACL validate stage")
    ap.add_argument("--snapshots", action="store_true",
                    help="materialize stages via the Iceberg-style snapshot "
                         "catalog (atomic commits, time travel) instead of "
                         "parquet dirs committed by a _metrics marker")
    args = ap.parse_args(argv)
    if args.shuffle_partitions is not None and args.shuffle_partitions < 1:
        ap.error("--shuffle-partitions must be >= 1")

    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName("shacl-js-spark-kg-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # long fixpoints (zeroOrMore paths, connected components) checkpoint
        # per round; without the cleaner the superseded checkpoint files
        # accumulate for the job's life (graph.py cut_lineage warns if off)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.maxPlanStringLength", "1000000")
    )
    if args.shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if args.shuffle_partitions is None:
        # match shuffle width to the actual cluster rather than the 200 default
        spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))

    from shacl_js_spark.pipeline.materialize import run_pipeline

    t0 = time.monotonic()
    result = run_pipeline(
        spark, args.input, args.output,
        validate=not args.no_validate, snapshots=args.snapshots,
    )
    # every stage is already materialized (PipelineRunner persists each one),
    # so the wall clock stops HERE — the count() calls below are bookkeeping
    # reads of the written parquet, not pipeline work, and must not depress
    # the reported triples/sec
    wall = time.monotonic() - t0
    counts = {}
    for stage in ("documents", "mentions", "links", "triples", "nodes", "edges", "report"):
        if stage in result:
            counts[stage] = result[stage].count()
    print(json.dumps({
        "input": args.input,
        "output": args.output,
        "parallelism": spark.sparkContext.defaultParallelism,
        "wall_sec": round(wall, 3),
        "triples_per_sec": round(counts.get("triples", 0) / wall, 1),
        "counts": counts,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
