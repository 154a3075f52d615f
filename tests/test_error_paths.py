"""Error paths mirroring the reference's thrown validation errors."""

import pytest

from shacl_js_spark import Engine, LocalGraph, ShaclValidationError, parse_turtle, triples_df
from shacl_js_spark.shapes import compile_path
from shacl_js_spark.terms import bnode, literal


def _engine(spark, ttl):
    trips, prefixes = parse_turtle(ttl)
    return Engine(spark, triples_df(spark, trips), LocalGraph(trips, prefixes))


def test_pathfree_recursive_shape_rejected(spark):
    # a PATH-FREE shape cycle re-enters with the same frontier forever —
    # the reference would stack-overflow (index.js:82-92); we raise at the
    # recursion depth cap
    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://e/> .
ex:S a sh:NodeShape ; sh:targetClass ex:T ; sh:node ex:S2 .
ex:S2 a sh:NodeShape ; sh:node ex:S .
ex:a a ex:T .
"""
    trips, prefixes = parse_turtle(ttl)
    eng = Engine(
        spark, triples_df(spark, trips), LocalGraph(trips, prefixes),
        max_shape_recursion=3,
    )
    with pytest.raises(ShaclValidationError, match="recursive"):
        eng.validate()


RECURSIVE_PERSON_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://e/> .
ex:PersonShape a sh:NodeShape ; sh:targetClass ex:Person ;
  sh:property [ sh:path ex:name ; sh:minCount 1 ] ;
  sh:property [ sh:path ex:knows ; sh:node ex:PersonShape ] .
ex:a a ex:Person ; ex:name "A" ; ex:knows ex:b .
ex:b a ex:Person ; ex:name "B" ; ex:knows ex:c .
ex:c a ex:Person .
"""


def test_recursive_shape_on_finite_data_validates(spark):
    # the reference's data-driven recursion (ex:PersonShape referencing
    # itself through sh:property/sh:node) terminates on acyclic data; the
    # engine unrolls it to the data depth via the empty-frontier check.
    # c lacks a name -> c violates minCount; b's knows-value c nonconforms
    # -> b violates sh:node; a's knows-value b nonconforms -> a violates.
    # Each re-entry checkpoints its frontier and counts it on that one job
    # (35 jobs when a separate isEmpty probe followed every checkpoint).
    from test_pipeline import _jobs

    report, jobs = _jobs(spark, "test-recursive-person",
                         lambda: _engine(spark, RECURSIVE_PERSON_TTL).validate())
    focuses = sorted(r.focusNode() for r in report.results())
    assert focuses == ["http://e/a", "http://e/b", "http://e/c"]
    assert len(jobs) <= 32, len(jobs)


def test_recursive_shape_on_cyclic_data_raises(spark):
    # knows-cycle in the DATA: frontier never empties -> depth cap
    ttl = RECURSIVE_PERSON_TTL + "\nex:c ex:knows ex:a .\n"
    trips, prefixes = parse_turtle(ttl)
    eng = Engine(
        spark, triples_df(spark, trips), LocalGraph(trips, prefixes),
        max_shape_recursion=4,
    )
    with pytest.raises(ShaclValidationError, match="recursive"):
        eng.validate()


def test_property_only_component_on_node_shape_raises(spark):
    # sh:minCount has no node validator -> 'Cannot find validator'
    # (validation-engine.js:301)
    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://e/> .
ex:S a sh:NodeShape ; sh:targetClass ex:T ; sh:minCount 1 .
ex:a a ex:T .
"""
    with pytest.raises(ShaclValidationError, match="Cannot find validator"):
        _engine(spark, ttl).validate()


def test_custom_component_without_registry_raises(spark):
    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://e/> .
ex:MyComponent a sh:ConstraintComponent ;
  sh:parameter [ sh:path ex:myParam ] ;
  sh:validator [ a sh:JSValidator ; sh:jsFunctionName "nope" ] .
ex:S a sh:NodeShape ; sh:targetClass ex:T ; ex:myParam 3 .
ex:a a ex:T .
"""
    with pytest.raises(ShaclValidationError, match="Cannot find validator"):
        _engine(spark, ttl).validate()


def test_default_message_parity(spark):
    # vocab-default messages (vocabularies/dash.ttl): property-form hasValue,
    # list-param rendering for sh:in, per-row {?path} for sh:closed (the
    # first declared matching prefix wins, as in nodeLabel), and one result
    # message per shape-level sh:message
    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://e/> .
@prefix exa: <http://e/a/> .
ex:HV a sh:NodeShape ; sh:targetNode ex:a ;
  sh:property [ sh:path ex:v ; sh:hasValue "needed" ] .
ex:IN a sh:NodeShape ; sh:targetNode ex:a ;
  sh:property [ sh:path ex:w ; sh:in ( "x" ex:y ) ] .
ex:CL a sh:NodeShape ; sh:targetNode ex:a ; sh:closed true ;
  sh:property [ sh:path ex:v ; sh:minCount 0 ] ;
  sh:property [ sh:path ex:w ; sh:minCount 0 ] .
ex:MM a sh:NodeShape ; sh:targetNode ex:a ;
  sh:property [ sh:path ex:missing ; sh:minCount 1 ;
                sh:message "first" ; sh:message "second" ] .
ex:a ex:v "other" ; ex:w "bad" ; ex:extra "boom" ; exa:p 1 .
"""
    report = _engine(spark, ttl).validate()
    by_comp = {}
    for r in report.results():
        by_comp.setdefault(r.component.rsplit("#", 1)[1], []).append(r)
    assert by_comp["HasValueConstraintComponent"][0].resultMessage() == \
        "Missing expected value needed"
    assert by_comp["InConstraintComponent"][0].resultMessage() == \
        "Value is not in x, ex:y"
    assert sorted(r.resultMessage() for r in by_comp["ClosedConstraintComponent"]) == [
        "Predicate ex:a/p is not allowed (closed shape)",
        "Predicate ex:extra is not allowed (closed shape)",
    ]
    mm = sorted(m for r in by_comp["MinCountConstraintComponent"] for m in r.messages())
    assert mm == ["first", "second"]


def test_js_only_pattern_falls_back_to_python_re(spark):
    # /a{b/ is a valid JS regex (dangling '{' is literal) but Java regex
    # rejects it -> pandas-UDF fallback path; rlike fast path untouched
    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://e/> .
ex:S a sh:NodeShape ; sh:targetClass ex:T ;
  sh:property [ sh:path ex:v ; sh:pattern "a{b" ] .
ex:x a ex:T ; ex:v "za{bz" .
ex:y a ex:T ; ex:v "nope" .
"""
    report = _engine(spark, ttl).validate()
    assert sorted(r.focusNode() for r in report.results()) == ["http://e/y"]
    # a second shape on the same ex:v path puts the pandas-UDF condition in
    # a two-entry fused group: one pass over the shared value frame
    ttl2 = ttl + """
ex:S2 a sh:NodeShape ; sh:targetClass ex:T ;
  sh:property [ sh:path ex:v ; sh:minLength 2 ] .
ex:z a ex:T ; ex:v "q" .
"""
    report_df = _engine(spark, ttl2).report_df()
    plan = report_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate ") == 1, plan
    got = sorted(
        (r["focus_v"], r["component"].rsplit("#", 1)[1]) for r in report_df.collect()
    )
    assert got == [
        ("http://e/y", "PatternConstraintComponent"),
        ("http://e/z", "MinLengthConstraintComponent"),
        ("http://e/z", "PatternConstraintComponent"),
    ]


def test_duplicate_source_triples_are_set_semantics(spark):
    # the same triple stated twice must not trip maxCount 1 (rdflib stores
    # are sets; ADVICE r01)
    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://e/> .
ex:S a sh:NodeShape ; sh:targetClass ex:T ;
  sh:property [ sh:path ex:name ; sh:maxCount 1 ] .
ex:a a ex:T ; ex:name "X" .
ex:a ex:name "X" .
"""
    assert _engine(spark, ttl).validate().conforms()


def test_connected_components_nonconvergence_raises(spark):
    from shacl_js_spark.pipeline.canonicalize import connected_components

    chain = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(12)]
    df = spark.createDataFrame(chain, "src string, dst string")
    # force the distributed path with too few rounds for the diameter
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(spark, df, max_iter=2, driver_threshold=0)
    # enough rounds: converges to the chain head.  Each round's checkpoint
    # job counts the labels that changed (120 jobs when a limit(1).count()
    # probe followed every checkpoint and a separate round verified the last)
    from test_pipeline import _jobs

    out, jobs = _jobs(spark, "test-cc-chain", lambda: {
        r["canonical_id"]
        for r in connected_components(spark, df, max_iter=15, driver_threshold=0).collect()
    })
    assert out == {"n000"}
    assert len(jobs) <= 95, len(jobs)


def test_zero_or_more_fixpoint_counts_on_its_checkpoint(spark, tmp_path):
    # a depth-8 chain: 9 rounds, each one checkpoint job that also counts
    # the frontier, the last one empty (55 jobs with an isEmpty probe after
    # every checkpoint)
    from test_pipeline import _jobs

    from shacl_js_spark.graph import TRIPLE_SCHEMA, terms_frame
    from shacl_js_spark.shapes import Path
    from shacl_js_spark.terms import iri
    from shacl_js_spark.validation import eval_path

    ttl = "@prefix ex: <http://e/> .\n" + "".join(
        f"ex:n{i} ex:next ex:n{i + 1} .\n" for i in range(8)
    )
    trips, _ = parse_turtle(ttl)
    triples_df(spark, trips).write.parquet(str(tmp_path / "g"))
    data = spark.read.schema(TRIPLE_SCHEMA).parquet(str(tmp_path / "g"))
    path = Path("zeroOrMore", children=(Path("pred", pred="http://e/next"),))
    reach, jobs = _jobs(spark, "test-zero-or-more", lambda: {
        r["value_v"]
        for r in eval_path(data, path, terms_frame(spark, [iri("http://e/n0")], "focus")).collect()
    })
    assert reach == {f"http://e/n{i}" for i in range(9)}
    assert len(jobs) <= 50, len(jobs)


def test_unsupported_path_rejected(spark):
    # a bnode that encodes none of the path forms (ref throws
    # 'Unsupported SHACL path', shapes-graph.js:153)
    g = LocalGraph([])
    with pytest.raises(ValueError, match="unsupported SHACL path"):
        compile_path(g, bnode("_:x"))
    with pytest.raises(ValueError, match="unsupported SHACL path"):
        compile_path(g, literal("oops"))


def test_cut_lineage_uses_reliable_checkpoint_when_configured(tmp_path):
    # subprocess: setCheckpointDir is sticky on the SparkContext and must not
    # leak into the shared test session.  The fixpoints stop on values
    # observed on their checkpoint jobs; under reliable checkpointing an
    # adaptive shuffle makes a checkpoint 2 jobs, and the values (so the
    # results) must still equal the localCheckpoint ones
    import pathlib
    import subprocess
    import sys

    repo = str(pathlib.Path(__file__).resolve().parents[1])
    code = f"""
import os, sys; sys.path.insert(0, {repo!r})
from pyspark.sql import Observation, SparkSession, functions as F
from shacl_js_spark import parse_turtle, triples_df
from shacl_js_spark.graph import cut_lineage, observed_cut, terms_frame
from shacl_js_spark.pipeline.canonicalize import connected_components
from shacl_js_spark.shapes import Path
from shacl_js_spark.terms import iri
from shacl_js_spark.validation import eval_path
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
trips, prefixes = parse_turtle("@prefix ex: <http://e/> .\\n" + "".join(
    f"ex:n{{i}} ex:next ex:n{{(i + 1) % 6}} .\\n" for i in range(6)))
data = triples_df(spark, trips)
path = Path("oneOrMore", children=(Path("pred", pred="http://e/next"),))
edges = spark.createDataFrame([(f"c{{i}}", f"c{{i + 1}}") for i in range(5)] + [("x", "y")],
                              "src string, dst string")

def results():
    obs = Observation()
    grouped = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    _, seen = observed_cut(grouped.observe(obs, F.count(F.lit(1)).alias("n")), obs)
    reach = eval_path(data, path, terms_frame(spark, [iri("http://e/n0")], "focus"))
    cc = connected_components(spark, edges, driver_threshold=0)
    return (seen["n"], sorted(r["value_v"] for r in reach.collect()),
            sorted(tuple(r) for r in cc.collect()))

ckpt = "{tmp_path}/ckpt"
local = cut_lineage(spark.range(10))
local_results = results()
assert not os.path.isdir(ckpt)  # no dir configured -> localCheckpoint path
spark.sparkContext.setCheckpointDir(ckpt)
reliable = cut_lineage(spark.range(10))
reliable.count()
# reliable checkpoint materializes RDD blocks under the configured dir
files = [os.path.join(r, f) for r, _, fs in os.walk(ckpt) for f in fs]
assert files, "no reliable checkpoint files written"
reliable_results = results()
assert reliable_results == local_results, (reliable_results, local_results)
assert local_results[0] == 7 and len(local_results[1]) == 6, local_results
assert {{c for _, c in local_results[2]}} == {{"c0", "x"}}, local_results
print("CKPT-OK")
"""
    res = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=300)
    assert "CKPT-OK" in res.stdout, res.stdout[-500:] + res.stderr[-1500:]


def test_connected_components_exact_boundary_converges(spark):
    # propagation completes ON the final allowed round: the verification
    # round must recognize convergence instead of raising
    from shacl_js_spark.pipeline.canonicalize import connected_components

    chain = [("n0", "n1"), ("n1", "n2"), ("n2", "n3")]
    df = spark.createDataFrame(chain, "src string, dst string")
    out = connected_components(spark, df, max_iter=3, driver_threshold=0)
    assert {r["canonical_id"] for r in out.collect()} == {"n0"}
