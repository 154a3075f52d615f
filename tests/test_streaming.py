"""Structured Streaming: incremental re-validation + watermarked windows."""

import os
import shutil
from collections import Counter

from shacl_js_spark.graph import TRIPLE_SCHEMA, triples_df
from shacl_js_spark.localgraph import LocalGraph
from shacl_js_spark.streaming import IncrementalValidator, windowed_counts
from shacl_js_spark.turtle import parse_turtle

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


def test_incremental_extra_hops_retracts_class_violation(spark, tmp_path):
    # sh:class reads the value node's own rdf:type: when ex:e's type arrives
    # in a later batch, its referrer ex:d is neither subject nor object of
    # that batch, so only extra_hops=1 re-validates it
    from shacl_js_spark.validation import Engine

    shapes = LocalGraph.from_turtle(CLASS_SHAPES)
    iv = IncrementalValidator(spark, shapes, str(tmp_path / "hops"), extra_hops=1)
    iv.process_batch(_batch_df(spark, "@prefix ex: <http://e/> .\n"
                                      "ex:d a ex:Doc ; ex:mentions ex:e ."), 0)
    assert {r["focus_v"] for r in iv.report().collect()} == {"http://e/d"}
    iv.process_batch(_batch_df(spark, "@prefix ex: <http://e/> .\nex:e a ex:Ent ."), 1)
    full = Engine(spark, spark.read.parquet(iv.graph_dir), shapes).report_df()
    assert iv.report().count() == full.count() == 0


def test_incremental_two_hops_reach_a_path_referrer(spark, tmp_path):
    # a two-step path's value node is typed in a later batch: its referrer
    # is two hops back, so extra_hops=2 widens the foci over the graph twice
    from shacl_js_spark.validation import Engine

    shapes = LocalGraph.from_turtle("""
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://e/> .
    ex:S a sh:NodeShape ; sh:targetClass ex:Doc ;
      sh:property [ sh:path (ex:m ex:n) ; sh:class ex:Ent ] .
    """)
    iv = IncrementalValidator(spark, shapes, str(tmp_path / "hops2"), extra_hops=2)
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


def test_incremental_warm_batch_job_count(spark, tmp_path):
    # a warm batch is one append, the subclass-edge collect and one fused
    # validate-and-upsert write, each adaptive query stage a job: 17 Spark
    # jobs here, 33 when each shape was planned on its own over a graph
    # de-duplicated on every read and the buckets were collected first.
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
    assert len(jobs) <= 17, len(jobs)


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
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(500)
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

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(2000)
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
    assert {"targets", "values", "candidates", "counts", "class_fail"} <= set(kinds)
    assert kinds.count("targets") == 1            # one spec, one frame
    # property shapes walk the same (targets, path): one shared value frame
    # and one shared count frame between the minCount and maxCount branches
    assert kinds.count("counts") == 1
    assert not any(df.is_cached for df in eng._frames.values())
    eng.release()
    assert not eng._frames
