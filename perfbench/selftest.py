#!/usr/bin/env python3
"""Self-test of the benchmark at the smoke size (a 30-document corpus for
kg_build and a 200-document KG for shacl_incremental, about sf0.001).

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it makes one untraced and one traced
run and checks that
* the last stdout line is a JSON object with exactly the keys correct,
  attempted, failed and metrics, and every output check passed;
* the metrics are exactly BENCHMARK.json's end_to_end (untraced) or
  per_layer (traced) names, each with its unit and a finite value, and
  each also printed by name and unit on its own line;
* a traced run also prints every output invariant (layers.INVARIANTS) on a
  ``# invariant`` line.
Last, it checks that the benchmark fails without printing a result in a
directory that holds only BENCHMARK.json and the benchmark's files.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    proc = bench(ROOT, workload, trace)
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(res)}")
    if not (res.get("correct") is True and res.get("failed") == 0 and res.get("attempted", 0) >= 1):
        errors.append(f"{where}: output checks failed: {lines[-1][:300]}")
    wanted = spec["per_layer" if trace else "end_to_end"]
    got = res.get("metrics", {})
    if set(got) != {m["name"] for m in wanted}:
        errors.append(f"{where}: metric names differ: {sorted(set(got) ^ {m['name'] for m in wanted})}")
    for m in wanted:
        v = got.get(m["name"])
        if v is None:
            continue
        if v.get("unit") != m["unit"] or not math.isfinite(v.get("value", math.nan)):
            errors.append(f"{where}: {m['name']} = {v}")
        if not any(m["name"] in ln.split() and ln.split()[-1] == m["unit"] for ln in lines[:-1]):
            errors.append(f"{where}: {m['name']} not printed with unit {m['unit']}")
    if trace:
        from layers import INVARIANTS

        printed = {ln.split()[2] for ln in lines if ln.startswith("# invariant ")}
        errors += [f"{where}: invariant {name} not printed" for name in INVARIANTS if name not in printed]
    return errors


def check_bare_dir() -> list[str]:
    """Only BENCHMARK.json and the benchmark's paths: must fail, no result."""
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = bench(bare, "kg_build", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-300:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = check_bare_dir()
    for w in spec["workloads"]:
        for trace in (0, 1):
            errs = check_run(spec, w["name"], trace)
            print(f"{w['name']} --trace {trace}: {'ok' if not errs else 'FAILED'}", flush=True)
            errors += errs
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
