"""Write the formatted physical plan of oracle queries to text files.

    python scripts/dump_plans.py --sf /path/to/sf0.1 --out plans/pr2 --tag after \
        shacl_mincount 'shacl_qualified*'

Queries are selected by name or fnmatch glob, as in check_oracle.py; a
pattern that selects no query is an error (exit 1).  Each query's plan
goes to <out>/<query>_<tag>.txt (`explain("formatted")` output), and one
summary line per query reports its Exchange and join node counts, so two
checkouts' plans can be compared without a diff tool.
"""

from __future__ import annotations

import argparse
import fnmatch
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def plan_counts(plan: str) -> dict[str, int]:
    """Exchange and join operators in the plan's operator tree (the part
    above the per-node detail sections)."""
    tree = plan.split("\n\n(1)", 1)[0]
    return {
        "exchange": len(re.findall(r"Exchange\b", tree)),
        "join": len(re.findall(r"Join\b", tree)),
    }


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
    for name in names:
        df = qs[name](spark, args.sf)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(args.out, f"{name}_{args.tag}.txt"), "w") as f:
            f.write(plan)
        counts = plan_counts(plan)
        print(f"{name} {args.tag} exchange={counts['exchange']} join={counts['join']}")
    spark.stop()


if __name__ == "__main__":
    main()
