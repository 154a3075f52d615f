"""Per-layer metrics of a traced run, from the run's spans, its Spark event
log and the workload's own per-operation numbers.

Every value is a mean per timed operation (span ``op``).  A span's jobs
are those whose job group is the span or one of its descendants; a layer's
time is the total duration of its outermost spans inside the operation.
Layers a workload does not exercise report 0.
"""

from __future__ import annotations

import statistics

from tracing import Span, covered_s, parse_event_log, task_skew

PIPELINE_LAYERS = ("synth", "extract", "link", "emit", "canonicalize", "nodes",
                   "edges", "report")
# spans whose self time (minus nested plan building) is the validation
# action: the report stage's write, and an incremental batch's append,
# report upsert and swap
ACTION_SPANS = ("pipeline.report", "incremental.process_batch")
# output counts that the output checks fix: a traced run prints them, but
# they are not metrics, since on a correct program they never move
INVARIANTS = {"validation.violations": "count",
              **{f"pipeline.{layer}.rows_out": "rows" for layer in PIPELINE_LAYERS}}
INCREMENTAL = ("batch_s", "jobs_per_batch", "input_bytes_per_batch", "read_amplification",
               "bytes_written_per_delta_byte", "report_buckets_rewritten")


def layer_metrics(spans: list[Span], event_log: str) -> dict[str, float]:
    jobs, tasks = parse_event_log(event_log)
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)

    def subtree(sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(children.get(cur.sid, ()))
        return out

    def outermost(sp: Span, name: str) -> list[Span]:
        """Spans called `name` under `sp` with no `name` ancestor below sp."""
        if sp.name == name:
            return [sp]
        return [x for c in children.get(sp.sid, ()) for x in outermost(c, name)]

    def jobs_of(group_spans: list[Span]) -> list:
        groups = {f"pb{s.sid}" for s in group_spans}
        return [j for j in jobs.values() if j.group in groups]

    def tasks_of(group_spans: list[Span]) -> list:
        return [t for s in group_spans for t in tasks.get(f"pb{s.sid}", ())]

    def dur(sps: list[Span]) -> float:
        return sum(s.end - s.start for s in sps)

    intervals = [(j.start_ms / 1000.0, j.end_ms / 1000.0) for j in jobs.values()]
    per_op = []
    # operations that completed their output check carry the workload's
    # own numbers in attrs
    for op in (s for s in spans if s.name == "op" and s.attrs is not None):
        tree = subtree(op)
        op_tasks = tasks_of(tree)
        m = {
            "driver.no_job_s": (op.end - op.start) - covered_s(intervals, op.start, op.end),
            "spark.jobs": len(jobs_of(tree)),
            "spark.tasks": len(op_tasks),
            "spark.gc_s": sum(t.gc_ms for t in op_tasks) / 1000.0,
            "spark.shuffle_write_bytes": sum(t.shuffle_write for t in op_tasks),
            "spark.spill_bytes": sum(t.spill for t in op_tasks),
            "spark.input_bytes": sum(t.input_bytes for t in op_tasks),
        }
        for layer in PIPELINE_LAYERS:
            sps = outermost(op, f"pipeline.{layer}")
            sub = [x for s in sps for x in subtree(s)]
            lt = tasks_of(sub)
            m[f"pipeline.{layer}.busy_s"] = dur(sps)
            m[f"pipeline.{layer}.jobs"] = len(jobs_of(sub))
            m[f"pipeline.{layer}.shuffle_write_bytes"] = sum(t.shuffle_write for t in lt)
            m[f"pipeline.{layer}.spill_bytes"] = sum(t.spill for t in lt)
            m[f"pipeline.{layer}.task_skew"] = task_skew(lt) if lt else 0.0
        plan = outermost(op, "validation.plan_build")
        m["shapes.compile_s"] = dur(outermost(op, "shapes.compile"))
        m["validation.plan_build_s"] = dur(plan)
        m["validation.plan_build_jobs"] = len(jobs_of([x for s in plan for x in subtree(s)]))
        action = [s for name in ACTION_SPANS for s in outermost(op, name)]
        m["validation.action_s"] = dur(action) - sum(
            dur(children.get(s.sid, [])) for s in action)
        m["validation.action_jobs"] = len(jobs_of(action))
        m["turtle.parse_s"] = dur(outermost(op, "turtle.parse"))
        m.update(op.attrs)
        if "incremental.delta_bytes" in m:
            m["incremental.batch_s"] = op.end - op.start
            m["incremental.jobs_per_batch"] = m["spark.jobs"]
            m["incremental.input_bytes_per_batch"] = m["spark.input_bytes"]
            m["incremental.read_amplification"] = m["spark.input_bytes"] / m["incremental.delta_bytes"]
        per_op.append(m)
    out = {k: statistics.fmean(m.get(k, 0.0) for m in per_op)
           for k in {k for m in per_op for k in m}}
    for name in ("pipeline.materialize.bytes_written_per_triple", "report.bytes_written",
                 "validation.violations", "graph.checkpoint_bytes"):
        out.setdefault(name, 0.0)
    for layer in PIPELINE_LAYERS:
        out.setdefault(f"pipeline.{layer}.rows_out", 0.0)
    for name in INCREMENTAL:
        out.setdefault(f"incremental.{name}", 0.0)
    return out
