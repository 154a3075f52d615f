"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir, compare
row count + schema (column names) + order-insensitive value hash.

    python scripts/check_oracle.py SF_DIR [QUERY_OR_GLOB ...]

Optional arguments select queries by name or fnmatch glob ('shacl_*').
Exits 1 when any selected query mismatches or errors, or none is selected.
tests/test_gate.py runs every query through the same `oracle_diff` at
sf0.001 in tier-1."""

from __future__ import annotations

import fnmatch
import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession


def norm_cell(v):
    # STRICT on purpose: no decimal/float/timestamp normalization. The driver
    # gate converts both sides to pandas, where DuckDB DECIMAL becomes float64
    # ("1.5") while Spark DECIMAL stays decimal.Decimal ("1.50") -- so any
    # query that emits a raw DECIMAL or TIMESTAMP column is a latent hash
    # mismatch. Queries must emit lexical strings / bigints / doubles only;
    # this normalizer makes the local gate catch violations (round-1 lesson:
    # events_hourly/tpch_q1/tpch_region_revenue failed driver-side only).
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


RISKY_TYPES = ("decimal", "timestamp", "date")


def schema_lint(name, df):
    risky = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in df.schema.fields
        if any(t in f.dataType.simpleString() for t in RISKY_TYPES)
    ]
    if risky:
        print(f"TYPE-WARN {name}: driver-unsafe output columns {risky}")
    return risky


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per testdata table of `sf_dir`."""
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def oracle_result(con, sql: str):
    """(column names, rows) of the oracle SQL on DuckDB."""
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def oracle_diff(cols, rows, ocols, orows) -> list[str]:
    """Why Spark's (cols, rows) differ from the oracle's: row count, column
    names, then the order-insensitive value hash with a few rows only one
    side has.  Empty when they match."""
    errs = []
    if len(rows) != len(orows):
        errs.append(f"rows {len(rows)} vs {len(orows)}")
    if sorted(cols) != sorted(ocols):
        errs.append(f"cols {sorted(cols)} vs {sorted(ocols)}")
    if not errs and table_hash(cols, rows) != table_hash(ocols, orows):
        errs.append("value-hash mismatch")
        sset = {tuple(norm_cell(x) for x in r) for r in rows}
        oset = {tuple(norm_cell(x) for x in r) for r in orows}
        for d in list(sset - oset)[:3]:
            errs.append(f"  spark-only: {d}")
        for d in list(oset - sset)[:3]:
            errs.append(f"  duck-only:  {d}")
    return errs


def main(sf_dir: str, only: list[str]):
    # defaults sized for the driver's sf0.01 gate; the sf1 scale-stress run
    # needs more cores/heap/shuffle width (OOMed at the 1g default heap) —
    # override via env rather than fork the script
    cpus = int(os.environ.get("SPARK_GRAFT_ORACLE_CPUS", "8"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions",
                os.environ.get("SPARK_GRAFT_ORACLE_SHUFFLE", str(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.maxPlanStringLength", "1000000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    con = oracle_connection(sf_dir)
    qs = entry.queries()
    oracles = entry.oracle_sql()
    ok = bad = 0
    for name, fn in qs.items():
        if only and not any(fnmatch.fnmatchcase(name, pat) for pat in only):
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            schema_lint(name, df)
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"SPARK-ERR {name}: {type(e).__name__} {str(e)[:200]}")
            bad += 1
            continue
        if name not in oracles:
            print(f"no-oracle {name}: {len(rows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            ocols, orows = oracle_result(con, oracles[name])
        except Exception as e:
            print(f"DUCK-ERR  {name}: {type(e).__name__} {str(e)[:300]}")
            bad += 1
            continue
        errs = oracle_diff(cols, rows, ocols, orows)
        if errs:
            print(f"MISMATCH  {name}: " + "; ".join(errs))
            bad += 1
        else:
            print(f"match     {name}: {len(rows)} rows ({time.time()-t0:.1f}s)")
            ok += 1
    print(f"== {ok} match, {bad} bad ==")
    return ok, bad


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    ok, bad = main(sf, sys.argv[2:])
    sys.exit(1 if bad or not ok else 0)
