#!/usr/bin/env python3
"""Benchmark of shacl_js_spark: end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout.  Workloads (perfbench/workloads.py):
kg_build and shacl_incremental.  Each run

1. generates its inputs from --seed (perfbench/gen.py),
2. starts a local[N] Spark session (N = min(4, cores)) and prepares and
   warms the workload; all of this is ``setup_s``,
3. runs a fixed number of the workload's operations in a closed loop with
   one client, checking every operation's output; the number follows from
   --seconds and the operation's nominal cost (Workload.n_ops), not from
   how fast the operations go,
4. prints one line per metric, then one JSON object as the last line.

--trace 0 reports the end-to-end metrics.  --trace 1 runs with spans
around the program's calls, one Spark job group per span and a local
Spark event log, and reports the per-layer metrics.  Its op_p50_s against
that of the same run untraced is the tracing overhead: an untraced run
that passed its checks records its op_p50_s in .perfbench_work/state,
keyed by workload, size, seed, --seconds and the program's source hash;
with no such record the traced run makes the untraced run itself, in a
child process.  The metric names and units are read from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def start_spark(work: str, event_log: str | None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    b = (
        SparkSession.builder.master(f"local[{min(4, os.cpu_count() or 1)}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.local.dir", tmp)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        os.makedirs(event_log)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def untraced_record(args, state: str) -> str:
    """The file in which an untraced run records its op_p50_s."""
    from workloads import program_hash

    return os.path.join(state, f"untraced-{args.workload}-{args.size}-s{args.seed}"
                               f"-t{args.seconds:g}-{program_hash()}.json")


def untraced_p50(args, state: str, timeout: float) -> float:
    """op_p50_s of the same run made untraced: recorded, or else made now
    in a child process, which records it."""
    record = untraced_record(args, state)
    if not os.path.exists(record):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
               "--size", args.size]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, timeout=timeout, check=True)
        if not os.path.exists(record):
            raise RuntimeError("untraced reference run failed its output checks")
    with open(record) as fh:
        return json.load(fh)["op_p50_s"]


def run(args, work: str, state: str):
    """-> (attempted, failed, end-to-end values, per-layer values | None)."""
    from tracing import RssSampler, Tracer, tree_cpu_s
    from workloads import WORKLOADS

    t_run = time.perf_counter()
    wl = WORKLOADS[args.workload](work, state, args.seed, args.size)
    t0 = time.perf_counter()
    wl.generate()
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = start_spark(work, event_log)
    tracer = Tracer(spark)
    try:
        wl.attach(spark, tracer)
        wl.prepare()
        setup_s = time.perf_counter() - t0
        if args.trace:
            tracer.enabled = True
            wl.install_tracing()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

        lat, cpu, units = [], [], 0
        attempted = failed = 0
        with RssSampler(jvm_pid) as rss:
            for i in range(1, wl.n_ops(args.seconds) + 1):
                attempted += 1
                try:
                    wl.before_op(i)
                    c0 = tree_cpu_s(os.getpid())
                    t0 = time.perf_counter()
                    with tracer.span("op") as op_span:
                        out = wl.op(i)
                    dt = time.perf_counter() - t0
                    dc = tree_cpu_s(os.getpid()) - c0
                    res = wl.check(out)
                    if op_span is not None:
                        op_span.attrs = res.layer
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    failed += 1
                    continue
                print(f"op {i}: {dt:.3f} s cpu={dc:.3f} s ok={res.ok}", file=sys.stderr)
                lat.append(dt)
                cpu.append(dc)
                units += res.triples
                failed += not res.ok
        tracer.unwrap_all()
        if not wl.finish():
            failed = attempted
    finally:
        stop_spark(spark)

    if not lat:
        raise RuntimeError("no operation completed")
    e2e = {
        "triples_per_cpu_s": units / sum(cpu),
        "op_cpu_s": statistics.median(cpu),
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_mb,
        # wall-clock figures: printed, but not gated (see README.md)
        "triples_per_s": units / sum(lat),
        "op_p50_s": statistics.median(lat),
    }
    layers = None
    if args.trace:
        from layers import layer_metrics

        layers = layer_metrics(tracer.spans, event_log)
        # the untraced run makes the same operations with less work, so
        # twice this run's wall time is ample
        ref_p50 = untraced_p50(args, state, timeout=2 * (time.perf_counter() - t_run) + 30)
        layers["trace.op_p50_s"] = e2e["op_p50_s"]
        layers["trace.untraced_op_p50_s"] = ref_p50
        layers["trace.overhead_ratio"] = e2e["op_p50_s"] / ref_p50 - 1
    return attempted, failed, len(lat), e2e, layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "smoke"), default="bench",
                    help="input size; smoke is the self-test size")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("shacl_js_spark") is None:
        print(f"perfbench: shacl_js_spark not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench_work", "state")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(state, exist_ok=True)
    os.makedirs(work)
    try:
        attempted, failed, n_ok, e2e, layers = run(args, work, state)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not args.trace and failed == 0:
        record = untraced_record(args, state)
        with open(f"{record}.{os.getpid()}", "w") as fh:
            json.dump({"op_p50_s": e2e["op_p50_s"]}, fh)
        os.replace(f"{record}.{os.getpid()}", record)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not computed: {missing}")
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"ops={n_ok} attempted={attempted} failed={failed} "
          f"failed_ratio={failed / attempted:.4f}")
    for name, unit in (("triples_per_s", "triples/s"), ("op_p50_s", "s")):
        print(f"# wall {name} {e2e[name]:.6g} {unit}")
    for name, m in metrics.items():
        print(f"{args.workload:18s} {name:48s} {m['value']:>16.6g} {m['unit']}")
    if args.trace:
        from layers import INVARIANTS

        # output counts fixed by the output checks: printed, not metrics
        for name, unit in INVARIANTS.items():
            print(f"# invariant {name} {layers[name]:g} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
