#!/usr/bin/env python3
"""Alternating parent/change perfbench runs, and their summary.

    python scripts/perf_pairs.py --parent ../parent \\
        --workload shacl_incremental --tag demo --pairs 10

Pair k runs `perfbench/run.py --seed k --trace 0` for BENCHMARK.json's
run_seconds in the parent checkout and in this one (the change), the
parent first on odd seeds and the change first on even ones, and appends
one line per run, {"side", "seed", "res"} with `res` the run's last JSON
line (null if it failed), to BENCH/perfbench_<tag>_<workload>_pairs.jsonl
of this repository.  It then prints, per end-to-end metric of BENCHMARK.json,
both sides' medians, their change/parent ratio, the pairs the change won and
the parent's IQR over its median (--pairs 0: only this summary).
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(checkout: str, workload: str, seed: int, seconds: int) -> dict | None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        print(f"{checkout} seed {seed} failed:\n{proc.stderr[-2000:]}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def summarize(path: str, metrics: list[dict]) -> None:
    with open(path) as fh:
        recs = [json.loads(line) for line in fh]
    by = {(r["side"], r["seed"]): r["res"] for r in recs}
    seeds = sorted({s for side, s in by if by.get(("parent", s)) and by.get(("change", s))})
    bad = sum(1 for r in recs if not r["res"] or not r["res"]["correct"] or r["res"]["failed"])
    print(f"{path}: {len(seeds)} complete pairs, {bad} failed or incorrect runs")
    for m in metrics if seeds else []:
        val = {side: [by[side, s]["metrics"][m["name"]]["value"] for s in seeds]
               for side in ("parent", "change")}
        med = {side: statistics.median(v) for side, v in val.items()}
        sign = 1 if m["better"] == "higher" else -1
        wins = sum(sign * (c - p) > 0 for p, c in zip(val["parent"], val["change"]))
        q = statistics.quantiles(val["parent"], n=4) if len(seeds) > 1 else [0, 0, 0]
        print(f"{m['name']:>18}  parent {med['parent']:10.3f}  change {med['change']:10.3f}  "
              f"ratio {med['change'] / med['parent']:.3f}  change better {wins}/{len(seeds)}  "
              f"parent IQR/median {(q[2] - q[0]) / med['parent']:.3f}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--tag", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    checkouts = {"parent": a.parent, "change": ROOT}
    path = os.path.join(ROOT, "BENCH", f"perfbench_{a.tag}_{a.workload}_pairs.jsonl")
    for seed in range(1, a.pairs + 1):
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        for side in order:
            res = run(checkouts[side], a.workload, seed, bench["run_seconds"])
            with open(path, "a") as fh:
                fh.write(json.dumps({"side": side, "seed": seed, "res": res}) + "\n")
    summarize(path, bench["end_to_end"])


if __name__ == "__main__":
    main()
