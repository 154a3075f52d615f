"""Structured Streaming: incremental re-validation + watermarked windows."""

import os
import shutil
from collections import Counter

from shacl_js_spark.graph import TRIPLE_SCHEMA, local_frame, triples_df, triples_to_rows
from shacl_js_spark.localgraph import LocalGraph
from shacl_js_spark.streaming import IncrementalValidator, windowed_counts
from shacl_js_spark.turtle import parse_turtle

from conftest import SF

SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://e/> .
ex:S a sh:NodeShape ; sh:targetClass ex:Person ;
  sh:property [ sh:path ex:name ; sh:minCount 1 ] .
"""

BATCH1 = """
@prefix ex: <http://e/> .
ex:a a ex:Person .
ex:b a ex:Person ; ex:name "B" .
"""

BATCH2 = """
@prefix ex: <http://e/> .
ex:a ex:name "A-late" .
ex:c a ex:Person .
"""


def _batch_df(spark, ttl):
    trips, _ = parse_turtle(ttl)
    return triples_df(spark, trips)


def test_incremental_validation_batches(spark, tmp_path):
    shapes = LocalGraph.from_turtle(SHAPES)
    iv = IncrementalValidator(spark, shapes, str(tmp_path / "work"))
    iv.process_batch(_batch_df(spark, BATCH1), 0)
    r1 = {row["focus_v"] for row in iv.report().collect()}
    assert r1 == {"http://e/a"}
    # batch 2: ex:a gets a name (violation must be RETRACTED), ex:c appears
    iv.process_batch(_batch_df(spark, BATCH2), 1)
    r2 = {row["focus_v"] for row in iv.report().collect()}
    assert r2 == {"http://e/c"}


def test_incremental_report_columns_fixed(spark, tmp_path):
    # report() has one schema whatever the store holds: exactly the
    # violation record columns, before and after the first batch
    from shacl_js_spark.validation import VIOL_COLS

    iv = IncrementalValidator(spark, LocalGraph.from_turtle(SHAPES), str(tmp_path / "cols"))
    before = iv.report().columns
    iv.process_batch(_batch_df(spark, BATCH1), 0)
    after = iv.report()
    assert before == after.columns == list(VIOL_COLS)
    assert after.count() == 1
    # a store whose rows still carry the retired _batch column reads with
    # the same columns, and a batch upserts into it
    from pyspark.sql import functions as F

    old = iv.report_dir + "-old-layout"
    (spark.read.parquet(iv.report_dir).withColumn("_batch", F.lit(0))
     .write.partitionBy("bucket").parquet(old))
    shutil.rmtree(iv.report_dir)
    os.rename(old, iv.report_dir)
    assert iv.report().columns == list(VIOL_COLS)
    iv.process_batch(_batch_df(spark, BATCH2), 1)
    assert {r["focus_v"] for r in iv.report().collect()} == {"http://e/c"}


NESTED_SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://e/> .
ex:ParentShape a sh:NodeShape ; sh:targetClass ex:Parent ;
  sh:property [ sh:path ex:child ;
    sh:property [ sh:path ex:name ; sh:minCount 1 ] ] .
"""


def test_incremental_nested_property_no_duplicates(spark, tmp_path):
    # nested property violations are recorded under the CHILD focus but
    # produced by re-validating the PARENT target; the upsert must key on
    # the bubble (target focus) or child rows duplicate across batches
    shapes = LocalGraph.from_turtle(NESTED_SHAPES)
    iv = IncrementalValidator(spark, shapes, str(tmp_path / "nested"))
    iv.process_batch(_batch_df(spark, """
@prefix ex: <http://e/> .
ex:p a ex:Parent ; ex:child ex:c1 .
"""), 0)
    r1 = [row["focus_v"] for row in iv.report().collect()]
    assert sorted(r1) == ["http://e/c1"]
    # second batch touches only (p, child, c2): re-validating p re-emits the
    # c1 row; the old c1 row must be replaced, not kept alongside
    iv.process_batch(_batch_df(spark, """
@prefix ex: <http://e/> .
ex:p ex:child ex:c2 .
"""), 1)
    r2 = [row["focus_v"] for row in iv.report().collect()]
    assert sorted(r2) == ["http://e/c1", "http://e/c2"], r2


CLASS_SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://e/> .
ex:DocShape a sh:NodeShape ; sh:targetClass ex:Doc ;
  sh:property [ sh:path ex:mentions ; sh:class ex:Ent ] .
"""


def test_incremental_retracts_class_violation(spark, tmp_path):
    # sh:class reads the value node's own rdf:type: when ex:e's type arrives
    # in a later batch, its referrer ex:d is neither subject nor object of
    # that batch; the read set walks the type triple back over ^ex:mentions
    from shacl_js_spark.validation import Engine

    shapes = LocalGraph.from_turtle(CLASS_SHAPES)
    iv = IncrementalValidator(spark, shapes, str(tmp_path / "class"))
    iv.process_batch(_batch_df(spark, "@prefix ex: <http://e/> .\n"
                                      "ex:d a ex:Doc ; ex:mentions ex:e ."), 0)
    assert {r["focus_v"] for r in iv.report().collect()} == {"http://e/d"}
    iv.process_batch(_batch_df(spark, "@prefix ex: <http://e/> .\nex:e a ex:Ent ."), 1)
    full = Engine(spark, spark.read.parquet(iv.graph_dir), shapes).report_df()
    assert iv.report().count() == full.count() == 0


def test_incremental_two_steps_reach_a_path_referrer(spark, tmp_path):
    # a two-step path's value node is typed in a later batch: its referrer
    # is two hops back, reached by walking the type triple back over
    # (^ex:n / ^ex:m)
    from shacl_js_spark.validation import Engine

    shapes = LocalGraph.from_turtle("""
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://e/> .
    ex:S a sh:NodeShape ; sh:targetClass ex:Doc ;
      sh:property [ sh:path (ex:m ex:n) ; sh:class ex:Ent ] .
    """)
    iv = IncrementalValidator(spark, shapes, str(tmp_path / "steps"))
    iv.process_batch(_batch_df(spark, "@prefix ex: <http://e/> .\n"
                                      "ex:d a ex:Doc ; ex:m ex:x . ex:x ex:n ex:e ."), 0)
    assert {r["focus_v"] for r in iv.report().collect()} == {"http://e/d"}
    iv.process_batch(_batch_df(spark, "@prefix ex: <http://e/> .\nex:e a ex:Ent ."), 1)
    full = Engine(spark, spark.read.parquet(iv.graph_dir), shapes).report_df()
    assert iv.report().count() == full.count() == 0


def test_incremental_bucketed_upsert_leaves_other_buckets_untouched(spark, tmp_path):
    # the report store is bucket-partitioned by hash(bubble); a batch must
    # rewrite ONLY the buckets its re-validated targets hash into — every
    # other bucket's files stay byte-identical across the batch
    import hashlib

    shapes = LocalGraph.from_turtle(SHAPES)
    iv = IncrementalValidator(spark, shapes, str(tmp_path / "bkt"), n_buckets=8)
    # batch 0: many persons without names -> violations spread over buckets
    ttl0 = "@prefix ex: <http://e/> .\n" + "\n".join(
        f"ex:p{i} a ex:Person ." for i in range(40)
    )
    iv.process_batch(_batch_df(spark, ttl0), 0)

    def snapshot():
        out = {}
        for root, _dirs, files in os.walk(iv.report_dir):
            for f in files:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, iv.report_dir)] = hashlib.md5(
                        fh.read()
                    ).hexdigest()
        return out

    before = snapshot()
    buckets_before = {p.split("/")[0] for p in before}
    assert len(buckets_before) > 1, "need multiple buckets for the assertion"

    # batch 1 touches a single person -> a single affected bucket
    iv.process_batch(_batch_df(spark, "@prefix ex: <http://e/> .\nex:p0 ex:name \"late\" ."), 1)
    after = snapshot()

    from pyspark.sql import functions as F
    touched = "bucket=%d" % (
        spark.range(1)
        .select(F.pmod(F.hash(F.lit("<http://e/p0>")), F.lit(8)).alias("b"))
        .collect()[0]["b"]
    )
    for path, digest in before.items():
        if path.split("/")[0] != touched:
            assert after.get(path) == digest, f"unaffected file rewritten: {path}"
    # and the retraction actually happened
    assert "http://e/p0" not in {r["focus_v"] for r in iv.report().collect()}


def test_incremental_bucket_swap_crash_recovery(spark, tmp_path):
    # simulate a crash between rename-aside and move-in: the bucket dir is
    # gone but its .old copy exists — report()/the replayed batch must
    # restore it, not lose the cohabiting bubbles' rows
    import shutil

    shapes = LocalGraph.from_turtle(SHAPES)
    iv = IncrementalValidator(spark, shapes, str(tmp_path / "crash"), n_buckets=2)
    ttl0 = "@prefix ex: <http://e/> .\n" + "\n".join(
        f"ex:p{i} a ex:Person ." for i in range(10)
    )
    iv.process_batch(_batch_df(spark, ttl0), 0)
    before = {r["focus_v"] for r in iv.report().collect()}
    assert len(before) == 10
    # crash injection: one bucket left aside, real dir missing
    victims = [e for e in os.listdir(iv.report_dir) if e.startswith("bucket=")]
    victim = os.path.join(iv.report_dir, victims[0])
    shutil.move(victim, victim + ".old")
    assert {r["focus_v"] for r in iv.report().collect()} == before
    # and a finished swap's leftover .old is cleaned, not restored
    shutil.copytree(victim, victim + ".old")
    iv.process_batch(_batch_df(spark, "@prefix ex: <http://e/> .\nex:p0 ex:name \"n\" ."), 1)
    assert not os.path.isdir(victim + ".old")
    assert {r["focus_v"] for r in iv.report().collect()} == before - {"http://e/p0"}


def test_incremental_bare_sh_target_reopens_a_store(spark, tmp_path):
    # a store reopened with shapes whose only target is a bare sh:target,
    # which names no focus node: a batch re-validates nothing and keeps the
    # stored rows (the bucket observation must not be planned away)
    work = str(tmp_path / "bare")
    IncrementalValidator(spark, LocalGraph.from_turtle(SHAPES), work).process_batch(
        _batch_df(spark, BATCH1), 0)
    iv = IncrementalValidator(spark, LocalGraph.from_turtle("""
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix dash: <http://datashapes.org/dash#> .
    @prefix ex: <http://e/> .
    ex:S a sh:NodeShape ; sh:target [ a dash:AllObjectsTarget ] ;
      sh:property [ sh:path ex:name ; sh:minCount 1 ] .
    """), work)
    iv.process_batch(_batch_df(spark, BATCH2), 1)
    assert {r["focus_v"] for r in iv.report().collect()} == {"http://e/a"}


def test_incremental_batch_reaching_no_target_keeps_the_store(spark, tmp_path):
    # a warm batch that matches an anchor (ex:name at its subject) but whose
    # walked-back focus is no target: nothing is re-validated, no bucket is
    # swapped, and the stored rows stay (the bucket observation must not be
    # planned away with the empty targets frames)
    iv = IncrementalValidator(spark, LocalGraph.from_turtle(SHAPES), str(tmp_path / "miss"))
    iv.process_batch(_batch_df(spark, BATCH1), 0)
    before = sorted(map(tuple, iv.report().collect()))
    iv.process_batch(_batch_df(spark, '@prefix ex: <http://e/> . ex:z ex:name "x" .'), 1)
    assert sorted(map(tuple, iv.report().collect())) == before
    assert {r["focus_v"] for r in iv.report().collect()} == {"http://e/a"}


def test_incremental_n_buckets_sticky_across_restart(spark, tmp_path):
    # the store records its bucket count; a restart with a different value
    # must adopt the stored one (otherwise old-hash buckets go stale)
    shapes = LocalGraph.from_turtle(SHAPES)
    work = str(tmp_path / "sticky")
    iv1 = IncrementalValidator(spark, shapes, work, n_buckets=8)
    iv1.process_batch(_batch_df(spark, BATCH1), 0)
    iv2 = IncrementalValidator(spark, shapes, work, n_buckets=3)
    assert iv2.n_buckets == 8
    iv2.process_batch(_batch_df(spark, BATCH2), 1)
    assert {r["focus_v"] for r in iv2.report().collect()} == {"http://e/c"}


def test_incremental_store_without_format_is_made_distinct(spark, tmp_path):
    # a store from before format 2 appended a replayed batch raw: its graph/
    # holds a triple twice.  Opening it rewrites graph/ distinct once, so
    # sh:maxCount counts the name once, as a full validation does
    import json

    from shacl_js_spark.validation import RECORD_COLS, Engine

    shapes = LocalGraph.from_turtle("""
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://e/> .
    ex:S a sh:NodeShape ; sh:targetClass ex:Person ;
      sh:property [ sh:path ex:name ; sh:maxCount 1 ] .
    """)
    work = tmp_path / "old"
    old = _batch_df(spark, '@prefix ex: <http://e/> .\nex:a a ex:Person ; ex:name "A" .')
    for _ in range(2):
        old.write.mode("append").parquet(str(work / "graph"))
    (work / "report_meta.json").write_text(json.dumps({"n_buckets": 4}))
    iv = IncrementalValidator(spark, shapes, str(work), n_buckets=4)
    assert json.loads((work / "report_meta.json").read_text()) == {"n_buckets": 4, "format": 2}
    assert spark.read.parquet(iv.graph_dir).count() == 2
    iv.process_batch(_batch_df(spark, '@prefix ex: <http://e/> .\nex:a ex:age 3 .'), 0)
    graph = spark.read.parquet(iv.graph_dir)
    assert graph.count() == graph.select("s", "p", "o").distinct().count() == 3
    full = Engine(spark, graph, shapes).report_df().collect()
    assert iv.report().select(*RECORD_COLS).collect() == full == []
    # a crash between the delete and the move leaves only the rewritten copy
    os.rename(iv.graph_dir, iv.graph_dir + ".distinct")
    (work / "report_meta.json").write_text(json.dumps({"n_buckets": 4}))
    IncrementalValidator(spark, shapes, str(work), n_buckets=4)
    assert spark.read.parquet(iv.graph_dir).count() == 3


KG_BATCHES = [
    # documents d1, d2 with the entities they mention first: e2 lacks a
    # label, d2 a language, and x1 is never typed
    """ex:d1 a ex:Document ; ex:language "en" ; ex:mentions ex:e1, ex:e2 ; ex:hasMedia ex:m1 .
    ex:e1 a ex:Entity ; rdfs:label "one" .
    ex:e2 a ex:Entity .
    ex:d2 a ex:Document ; ex:mentions ex:x1 .""",
    # d3 repeats (e1 a Entity) of batch 0, has two languages and a literal
    # medium; e3's label is lang-tagged and it co-occurs with a literal
    """ex:d3 a ex:Document ; ex:language "en", "fr" ; ex:mentions ex:e1, ex:e3 ;
      ex:hasMedia "lit" .
    ex:e3 a ex:Entity ; rdfs:label "three"@en ; ex:coOccursWith ex:e1, "x" .
    ex:e1 a ex:Entity .""",
    # late triples retract the d2 and e2 violations
    """ex:d2 ex:language "de" .
    ex:e2 rdfs:label "two" .
    ex:d4 a ex:Document ; ex:language "en" ; ex:mentions ex:e2 .""",
]


def _kg_batch(spark, body):
    return _batch_df(spark, "@prefix ex: <http://example.org/kg#> .\n"
                            "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n" + body)


def test_incremental_replay_matches_full_validation(spark, tmp_path):
    # document batches, then batch 1 re-sent with every triple twice: after
    # each batch graph/ holds each (s, p, o) once and the incremental report
    # equals a full re-validation of it, row for row
    from shacl_js_spark.pipeline.materialize import KG_SHAPES_TTL
    from shacl_js_spark.validation import RECORD_COLS, Engine

    shapes = LocalGraph.from_turtle(KG_SHAPES_TTL)
    iv = IncrementalValidator(spark, shapes, str(tmp_path / "kg"))
    batches = [_kg_batch(spark, b) for b in KG_BATCHES]
    batches.append(batches[1].unionByName(batches[1]))
    for k, batch in enumerate(batches):
        iv.process_batch(batch, k)
        graph = spark.read.parquet(iv.graph_dir)
        assert graph.count() == graph.select("s", "p", "o").distinct().count(), k
        full = Engine(spark, graph, shapes).report_df().collect()
        assert full, k
        assert Counter(tuple(r) for r in iv.report().select(*RECORD_COLS).collect()) == Counter(
            tuple(r) for r in full
        ), k


# KG_SHAPES_TTL plus checks whose result depends on triples of other
# subjects: a two-step path with sh:class (a series' editor is a Person),
# objects of ex:mentions whose inverse-path values must be Documents, and
# a nested sh:node (a mentioned entity has a label); and a target node that
# no triple names, a target from the first batch on
SLICED_SHAPES = """
ex:RootShape a sh:NodeShape ; sh:targetNode ex:root ;
  sh:property [ sh:path rdfs:label ; sh:minCount 1 ] .
ex:SeriesShape a sh:NodeShape ; sh:targetClass ex:Document ;
  sh:property [ sh:path ( ex:partOf ex:editor ) ; sh:class ex:Person ] .
ex:MentionedShape a sh:NodeShape ; sh:targetObjectsOf ex:mentions ;
  sh:property [ sh:path [ sh:inversePath ex:mentions ] ; sh:class ex:Document ] .
ex:LabelledShape a sh:NodeShape ; sh:targetClass ex:Document ;
  sh:property [ sh:path ex:mentions ; sh:node ex:Labelled ] .
ex:Labelled a sh:NodeShape ; sh:property [ sh:path rdfs:label ; sh:minCount 1 ] .
"""

# one block per document, with the entities, series and editors it is the
# first to name; e2's label and p2's type come with the last document, and
# w1 mentions e3 without being a Document
SLICED_DOCS = [
    """ex:d1 a ex:Document ; ex:language "en" ; ex:mentions ex:e1, ex:e2 ; ex:hasMedia ex:m1 ;
      ex:partOf ex:s1 .
    ex:e1 a ex:Entity ; rdfs:label "one" ; ex:coOccursWith ex:e2 .
    ex:e2 a ex:Entity .
    ex:s1 ex:editor ex:p1 .
    ex:p1 a ex:Person .""",
    """ex:d2 a ex:Document ; ex:language "de" ; ex:mentions ex:e2, ex:e3 ; ex:partOf ex:s1 .
    ex:e3 a ex:Entity ; rdfs:label "three"@en ; ex:coOccursWith ex:e1, "x" .""",
    """ex:d3 a ex:Document ; ex:language "en", "fr" ; ex:mentions ex:x1 ; ex:hasMedia "lit" ;
      ex:partOf ex:s2 .
    ex:s2 ex:editor ex:p2 .""",
    """ex:d4 a ex:Document ; ex:language "en" ; ex:mentions ex:e1 ; ex:partOf ex:s2 .
    ex:e2 rdfs:label "two" .
    ex:p2 a ex:Person .
    ex:w1 ex:mentions ex:e3 .""",
]


def test_incremental_sliced_replays_match_full_validation(spark, tmp_path):
    # the same KG fed by document, by subject hash (pmod(hash(s), 3)) and
    # in a seeded random order: a batch re-validates the targets that its
    # triples reach back along the shapes' read set, so after every batch
    # the report equals a full re-validation, row for row, although a
    # node's type or label often arrives after the triples that refer to it
    import random

    from pyspark.sql import functions as F

    from shacl_js_spark.pipeline.materialize import KG_SHAPES_TTL
    from shacl_js_spark.program import Program
    from shacl_js_spark.shapes import ShapesIR
    from shacl_js_spark.validation import _KINDS, RECORD_COLS, Engine

    shapes = LocalGraph.from_turtle(KG_SHAPES_TTL + SLICED_SHAPES)
    reads = Program(ShapesIR(shapes), _KINDS).describe().split("reads:\n")[1].splitlines()
    rdf_type = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    for anchor in (f"{rdf_type} at s <- (^ex:editor / ^ex:partOf)", "ex:mentions at o",
                   f"{rdf_type} at s <- ex:mentions", "rdfs:label at s <- ^ex:mentions",
                   "target node ex:root"):
        assert "  " + anchor in reads, reads
    # batches are driver-built LocalRelations, so no batch starts a Python worker
    prefixes = ("@prefix ex: <http://example.org/kg#> .\n"
                "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n")
    docs = [triples_to_rows(parse_turtle(prefixes + body)[0]) for body in SLICED_DOCS]
    rows = [r for doc in docs for r in doc]
    kg = local_frame(spark, rows, TRIPLE_SCHEMA)
    hashed = dict(kg.select("s", F.pmod(F.hash("s"), F.lit(3))).collect())
    shuffled = random.Random(7).sample(rows, len(rows))
    slicings = {
        "document": docs,
        "hash": [[r for r in rows if hashed[r[0]] == k] for k in range(3)],
        "random": [shuffled[k::2] for k in range(2)],
    }
    for name, batches in slicings.items():
        iv = IncrementalValidator(spark, shapes, str(tmp_path / name))
        for k, batch in enumerate(batches):
            iv.process_batch(local_frame(spark, batch, TRIPLE_SCHEMA), k)
            full = Engine(spark, spark.read.parquet(iv.graph_dir), shapes).report_df().collect()
            got = iv.report().select(*RECORD_COLS).collect()
            assert Counter(map(tuple, got)) == Counter(map(tuple, full)), (name, k)
    # the final report: d3's two languages, literal medium and untyped,
    # unlabelled x1; e3's tagged label, literal co-occurrence and referrer
    # w1, which is no Document; the unlabelled root
    assert sorted((r["focus_v"].rsplit("#")[1], r["component"].rsplit("#")[1]) for r in full) == [
        ("d3", "ClassConstraintComponent"), ("d3", "MaxCountConstraintComponent"),
        ("d3", "NodeConstraintComponent"), ("d3", "NodeKindConstraintComponent"),
        ("e3", "ClassConstraintComponent"), ("e3", "DatatypeConstraintComponent"),
        ("e3", "NodeKindConstraintComponent"), ("root", "MinCountConstraintComponent"),
    ]


def test_incremental_warm_batch_job_count(spark, tmp_path):
    # a warm batch is one append (which also observes the batch's
    # predicates and subClassOf edges) and one fused validate-and-upsert
    # write, which walks the batch's rdf:type triples back over ^ex:mentions
    # and observes the re-validated buckets; each adaptive query stage is a
    # job: 16 Spark jobs here, 17 with a subclass-edge collect per batch, 33
    # when each shape was planned on its own over a graph de-duplicated on
    # every read and the buckets were collected first.
    # The batches are parquet scans, as a file stream source delivers them
    from test_pipeline import _jobs

    from shacl_js_spark.pipeline.materialize import KG_SHAPES_TTL

    iv = IncrementalValidator(spark, LocalGraph.from_turtle(KG_SHAPES_TTL), str(tmp_path / "jobs"))
    batches = []
    for k, body in enumerate(KG_BATCHES):
        _kg_batch(spark, body).write.parquet(str(tmp_path / f"in{k}"))
        batches.append(spark.read.parquet(str(tmp_path / f"in{k}")))
    iv.process_batch(batches[0], 0)
    iv.process_batch(batches[1], 1)
    _, jobs = _jobs(spark, "test-incremental-batch", lambda: iv.process_batch(batches[2], 2))
    assert len(jobs) <= 16, len(jobs)


def test_incremental_subclass_edges_from_batches_and_reopen(spark, tmp_path):
    # the class hierarchy comes from the batches (observed on their append)
    # and, for a reopened validator, from graph/: a batch that declares
    # ex:Person a subclass of ex:Entity makes its Person a target of the
    # Entity shape and a valid sh:class ex:Entity value, and so does a later
    # batch of a reopened validator that only mentions another Person
    from shacl_js_spark.pipeline.materialize import KG_SHAPES_TTL
    from shacl_js_spark.validation import RECORD_COLS, Engine

    shapes = LocalGraph.from_turtle(KG_SHAPES_TTL)
    work = str(tmp_path / "sub")
    batches = [
        _kg_batch(spark, """ex:Person rdfs:subClassOf ex:Entity .
        ex:p1 a ex:Person .
        ex:d1 a ex:Document ; ex:language "en" ; ex:mentions ex:p1 ."""),
        _kg_batch(spark, """ex:p2 a ex:Person ; rdfs:label "two" .
        ex:d2 a ex:Document ; ex:language "en" ; ex:mentions ex:p2, ex:x ."""),
    ]
    edges = {"<http://example.org/kg#Entity>": {"<http://example.org/kg#Person>"}}
    for k, batch in enumerate(batches):
        iv = IncrementalValidator(spark, shapes, work)
        assert iv.subclass_edges == ({} if k == 0 else edges)
        iv.process_batch(batch, k)
        assert iv.subclass_edges == edges
        full = Engine(spark, spark.read.parquet(iv.graph_dir), shapes).report_df().collect()
        got = iv.report().select(*RECORD_COLS).collect()
        assert Counter(tuple(r) for r in got) == Counter(tuple(r) for r in full), k
    # p1 lacks a label; d2's ex:x is no Entity
    assert sorted((r["focus_v"], r["component"]) for r in full) == [
        ("http://example.org/kg#d2", "http://www.w3.org/ns/shacl#ClassConstraintComponent"),
        ("http://example.org/kg#p1", "http://www.w3.org/ns/shacl#MinCountConstraintComponent"),
    ]


def test_engine_and_report_empty_frames_are_local(spark, tmp_path):
    # empty and driver-built frames are LocalRelations, never Python RDDs
    from test_pipeline import _analyzed

    from shacl_js_spark.graph import turtle_df
    from shacl_js_spark.validation import Engine

    shapes = LocalGraph.from_turtle("""
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix dash: <http://datashapes.org/dash#> .
    @prefix ex: <http://e/> .
    ex:S a sh:NodeShape ; sh:targetSubjectsOf ex:p ; dash:closedByTypes true .
    ex:T sh:property [ sh:path ex:p ] .
    """)
    for k, ttl in enumerate(("ex:a ex:p ex:b .", "ex:a ex:p ex:b ; a ex:T .")):
        # the data is a parquet scan, so any LogicalRDD would be an engine frame
        path = str(tmp_path / f"data{k}")
        turtle_df(spark, "@prefix ex: <http://e/> .\n" + ttl).write.parquet(path)
        eng = Engine(spark, spark.read.parquet(path), shapes)
        assert _analyzed(eng._targets_frame_uncached((), (), (), ())) == "LocalRelation"
        plan = eng.report_df()._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, ttl
    iv = IncrementalValidator(spark, LocalGraph.from_turtle(SHAPES), str(tmp_path / "empty"))
    assert _analyzed(iv.report()) == "LocalRelation"


def test_incremental_via_stream_source(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _batch_df(spark, BATCH1).write.mode("overwrite").parquet(src)
    shapes = LocalGraph.from_turtle(SHAPES)
    iv = IncrementalValidator(spark, shapes, str(tmp_path / "work2"))
    stream = spark.readStream.schema(TRIPLE_SCHEMA).parquet(src)
    q = iv.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {row["focus_v"] for row in iv.report().collect()}
    assert got == {"http://e/a"}


def test_windowed_counts_streaming(spark, tmp_path):
    src = str(tmp_path / "ev")
    ev = spark.read.parquet(f"{SF}/events.parquet").limit(500)
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = windowed_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM win_counts").collect()
    assert rows
    batch = windowed_counts(ev).collect()
    assert len(rows) == len(batch)


def test_stateful_sessionization_stream_matches_batch(spark, tmp_path):
    # applyInPandasWithState sessionization over a real stream equals the
    # batch lag-window twin (modulo each user's final still-open session)
    import os

    from shacl_js_spark.streaming.sessions import sessionize_batch, sessionize_stream

    ev = spark.read.parquet(f"{SF}/events.parquet").limit(2000)
    src = str(tmp_path / "evsrc")
    os.makedirs(src)
    ev.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish; partial results"
    got = {
        (r["user_id"], r["session_start_ms"], r["session_end_ms"], r["n_events"],
         round(r["total_value"], 4))
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }
    batch = sessionize_batch(ev)
    expected_all = {
        (r["user_id"], r["session_start_ms"], r["session_end_ms"], r["n_events"],
         round(r["total_value"], 4))
        for r in batch.collect()
    }
    # the stream emits only CLOSED sessions; each user's last session stays
    # open (no timeout fires in availableNow mode) -> expected = all minus
    # each user's final session
    from pyspark.sql import Window, functions as F2

    w = Window.partitionBy("user_id").orderBy(F2.col("session_start_ms").desc())
    finals = {
        (r["user_id"], r["session_start_ms"], r["session_end_ms"], r["n_events"],
         round(r["total_value"], 4))
        for r in batch.withColumn("rk", F2.row_number().over(w))
        .filter("rk = 1").drop("rk").collect()
    }
    assert got == expected_all - finals, (
        len(got), len(expected_all), len(finals),
        list(got - (expected_all - finals))[:3],
        list((expected_all - finals) - got)[:3],
    )
    assert got  # non-trivial: at least one closed session observed


def test_incremental_staging_sweep_only_at_batch_start(spark, tmp_path):
    # an orphaned staging dir (crash between staged write and swaps) must
    # be swept when the replayed batch starts — but NOT by report(), which
    # may run concurrently with an in-flight batch whose staging dir is live
    shapes = LocalGraph.from_turtle(SHAPES)
    iv = IncrementalValidator(spark, shapes, str(tmp_path / "sweep"))
    iv.process_batch(_batch_df(spark, BATCH1), 0)
    orphan = iv.report_dir + ".staging-deadbeef"
    os.makedirs(orphan)
    before = {r["focus_v"] for r in iv.report().collect()}
    assert os.path.isdir(orphan)  # report() left the (possibly live) staging dir
    iv.process_batch(_batch_df(spark, BATCH2), 1)
    assert not os.path.isdir(orphan)  # batch-start recovery swept it
    after = {r["focus_v"] for r in iv.report().collect()}
    # post-sweep report is readable AND semantically exact: batch 2 names
    # ex:a (violation retracted) and adds nameless ex:c — same verdicts as
    # test_incremental_validation_batches, unperturbed by the sweep
    assert before == {"http://e/a"}
    assert after == {"http://e/c"}


def test_engine_memoizes_targets_values_and_counts(spark):
    # shapes sharing a target class must reuse ONE focus frame; shapes
    # sharing (targets, path) one value frame; minCount+maxCount over the
    # same (targets, path) one count frame.  The memo holds plans, never
    # caches, and release() empties it
    from shacl_js_spark.validation import Engine
    from shacl_js_spark.graph import turtle_df

    shapes = LocalGraph.from_turtle("""
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://e/> .
    ex:S1 a sh:NodeShape ; sh:targetClass ex:Person ;
      sh:property [ sh:path ex:name ; sh:minCount 1 ] .
    ex:S2 a sh:NodeShape ; sh:targetClass ex:Person ;
      sh:property [ sh:path ex:name ; sh:maxCount 1 ] .
    ex:S3 a sh:NodeShape ; sh:targetClass ex:Person ;
      sh:property [ sh:path ex:knows ; sh:class ex:Person ] .
    """)
    data = turtle_df(spark, """
    @prefix ex: <http://e/> .
    ex:a a ex:Person ; ex:name "x" ; ex:knows ex:b .
    ex:b a ex:Person ; ex:name "y", "z" .
    ex:c a ex:Person .
    """)
    eng = Engine(spark, data, shapes)
    report = eng.validate()
    focus = sorted(r.focusNode() for r in report.results())
    assert focus == ["http://e/b", "http://e/c"]  # b: maxCount, c: minCount
    kinds = [key[0] for key in eng._frames]
    # a node shape's sh:property children scan its targets frame itself
    assert {"targets", "values", "counts", "class_fail"} <= set(kinds)
    assert kinds.count("targets") == 1            # one spec, one frame
    # property shapes walk the same (targets, path): one shared value frame
    # and one shared count frame between the minCount and maxCount branches
    assert kinds.count("counts") == 1
    assert not any(df.is_cached for df in eng._frames.values())
    eng.release()
    assert not eng._frames
