"""Write the formatted physical plan of oracle queries to text files.

    python scripts/dump_plans.py --sf /path/to/sf0.1 --out /tmp/plans --tag after \
        shacl_mincount 'shacl_qualified*'

Queries are selected by name or fnmatch glob, as in check_oracle.py; a
pattern that selects no query is an error (exit 1).  Each query's plan
goes to <out>/<query>_<tag>.txt (`explain("formatted")` output), and one
line per query prints its plan budget counts as tests/test_gate.py counts
them, in the form of a tests/plan_budgets.json entry.
"""

from __future__ import annotations

import argparse
import fnmatch
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True, help="testdata scale-factor directory")
    ap.add_argument("--out", required=True, help="directory for the plan files")
    ap.add_argument("--tag", required=True, help="file suffix, e.g. before/after")
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("queries", nargs="+", help="query names or fnmatch globs")
    args = ap.parse_args()

    import __spark_entry__ as entry

    qs = entry.queries()
    unmatched = [p for p in args.queries if not any(fnmatch.fnmatchcase(n, p) for n in qs)]
    if unmatched:
        sys.exit(f"no query matches {' '.join(unmatched)}")
    names = [n for n in qs if any(fnmatch.fnmatchcase(n, p) for p in args.queries)]

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(args.cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.maxPlanStringLength", "1000000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)
    from test_gate import budget_counts, drop_cached_inputs

    for name in names:
        drop_cached_inputs(spark)
        df = qs[name](spark, args.sf)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(args.out, f"{name}_{args.tag}.txt"), "w") as f:
            f.write(plan)
        print(f'"{name}": {json.dumps(budget_counts(df))},')
    spark.stop()


if __name__ == "__main__":
    main()
