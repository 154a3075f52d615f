"""Scale cross-check for dup-cluster resolution: the DuckDB oracle for
`dedup_clusters` is a transitive-closure recursive CTE, which is
super-linear in component size and infeasible at sf1's ~400k candidate
edges (this DuckDB, 1.0, lacks USING-KEY keyed recursion).  The engine is
the scalable side — so it is verified against ITSELF across its two
independent implementations:

  * driver union-find (the < 1M-edge fast path), and
  * distributed min-label fixpoint (driver_threshold=0 — the path a
    10^12-doc corpus would exercise, with per-round lineage cuts),

asserting bit-identical (doc_id, cluster_id) outputs over the REAL LSH
candidate pairs of an SF dir's documents.  Prints one JSON line, with
xxhash64 checksums of the pairs and the labels so runs of two checkouts
compare too; non-zero exit on any divergence.

    python scripts/cc_crosscheck.py SF_DIR      (or make cc-crosscheck ROUND=<tag>)

Cores: $SPARK_GRAFT_CPUS, else the cores this process may run on; Spark's
scratch space: $SPARK_LOCAL_DIRS, as for any Spark job."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def checksum(df) -> str:
    """Order-free content checksum: sum of xxhash64 over all columns."""
    from pyspark.sql import functions as F

    total = df.agg(F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()[0]
    return str(total or 0)


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir = sys.argv[1]
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.maxPlanStringLength", "1000000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from shacl_js_spark.ops.dedup import lsh_candidate_pairs, minhash_signatures
    from shacl_js_spark.pipeline.canonicalize import connected_components

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = lsh_candidate_pairs(minhash_signatures(docs)).persist()
    n_pairs = pairs.count()

    edges = pairs.select(
        F.lpad(F.col("a").cast("string"), 20, "0").alias("src"),
        F.lpad(F.col("b").cast("string"), 20, "0").alias("dst"),
    )

    t0 = time.time()
    via_driver = connected_components(spark, edges).persist()
    n_nodes = via_driver.count()
    t_driver = time.time() - t0

    t0 = time.time()
    via_dist = connected_components(spark, edges, driver_threshold=0).persist()
    via_dist.count()
    t_dist = time.time() - t0

    # Full outer join so a node present on only one side counts as
    # divergence (an inner join + count delta could hide offsetting
    # membership differences between equal-sized label sets).
    joined = via_driver.withColumnRenamed("canonical_id", "cid_a").join(
        via_dist.withColumnRenamed("canonical_id", "cid_b"), "entity_id", "full_outer"
    )
    diverging = joined.filter(
        F.col("cid_a").isNull()
        | F.col("cid_b").isNull()
        | (F.col("cid_a") != F.col("cid_b"))
    ).count()
    only_one_side = joined.filter(
        F.col("cid_a").isNull() | F.col("cid_b").isNull()
    ).count()

    n_clusters = via_driver.select("canonical_id").distinct().count()
    print(json.dumps({
        "metric": "connected-components cross-implementation check (LSH pairs)",
        "sf_dir": sf_dir, "cpus": CPUS,
        "candidate_pairs": n_pairs, "labeled_nodes": n_nodes,
        "clusters": n_clusters,
        "pairs_xxhash64": checksum(pairs), "labels_xxhash64": checksum(via_dist),
        "driver_unionfind_sec": round(t_driver, 2),
        "distributed_fixpoint_sec": round(t_dist, 2),
        "diverging_labels": diverging, "node_count_delta": only_one_side,
        "identical": diverging == 0 and only_one_side == 0,
    }))
    spark.stop()
    return 0 if diverging == 0 and only_one_side == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
