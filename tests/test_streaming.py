"""Structured Streaming: incremental re-validation + watermarked windows."""

import os
import shutil

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
