"""KG pipeline tests (SURVEY.md §5.2 item 3-4): span-sequence invariant,
triple P/R vs a pure-pandas oracle of the same extraction rules, connected
components vs a union-find oracle, idempotent resume, and that the SHACL
validate stage actually rejects corrupt graphs."""

import os
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from shacl_js_spark.graph import TRIPLE_SCHEMA
from shacl_js_spark.localgraph import LocalGraph
from shacl_js_spark.pipeline.canonicalize import (
    alias_edges,
    canonicalize_triples,
    connected_components,
)
from shacl_js_spark.pipeline.emit import EX, emit_triples
from shacl_js_spark.pipeline.extract import explode_spans, extract_mentions
from shacl_js_spark.pipeline.link import link_entities
from shacl_js_spark.pipeline.materialize import (
    KG_SHAPES_TTL,
    PipelineRunner,
    run_pipeline,
    write_stage,
)
from shacl_js_spark.pipeline.snapshots import SnapshotRunner
from shacl_js_spark.pipeline.synth import ENTITY_LEXICON, interleaved_documents
from shacl_js_spark.validation import SUBCLASS_ENC, Engine

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return interleaved_documents(spark, SF).cache()


def test_span_sequence_invariant(spark, docs):
    """(kind, text, media_ref, order) must reconstruct the source text
    (BASELINE.json input_hint per-row invariant)."""
    raw = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("doc_id"),
        "text",
    )
    rebuilt = (
        explode_spans(docs)
        .filter(F.col("kind") == "text")
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.array_sort(F.collect_list(F.struct("offset", "text"))).getField("text")).alias("rebuilt"))
    )
    joined = raw.join(rebuilt, "doc_id")
    bad = joined.filter(F.col("text") != F.col("rebuilt")).count()
    assert bad == 0
    # spans strictly ordered by (offset, kind) within each doc
    spans = explode_spans(docs)
    disorder = (
        spans.withColumn(
            "prev_off",
            F.lag("offset").over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "doc_id"
                ).orderBy("span_idx")
            ),
        )
        .filter(F.col("prev_off").isNotNull() & (F.col("offset") < F.col("prev_off")))
        .count()
    )
    assert disorder == 0


def test_determinism_across_runs(spark):
    a = interleaved_documents(spark, SF)
    b = interleaved_documents(spark, SF)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_triples_vs_pandas_oracle(spark, docs):
    """P/R >= 0.95 (should be 1.0) for doc->mentions triples vs an independent
    pandas implementation of the same lexicon+argmax rules."""
    mentions = extract_mentions(spark, docs)
    links = link_entities(spark, mentions)
    got = {
        (r["doc_id"], r["entity_id"])
        for r in links.select("doc_id", "entity_id").distinct().collect()
    }

    # independent oracle: mention detection in pandas over the raw table;
    # the argmax affinity is recomputed in pure Python (hashlib md5) on a
    # driver-built frame so the oracle shares no pipeline code at all
    raw = pd.read_parquet(f"{SF}/documents.parquet")
    cand_rows = [
        (s, e, p) for s, cs in ENTITY_LEXICON.items() for (e, p) in cs
    ]
    surf2cands = {}
    for s, e, p in cand_rows:
        surf2cands.setdefault(s, []).append((e, p))
    pairs = set()
    for _, row in raw.iterrows():
        doc = f"doc-{row.doc_id}"
        for tok in str(row.text).split(" "):
            if tok in surf2cands:
                pairs.add((doc, tok))
    pairs = sorted(pairs)
    pair_df = spark.createDataFrame(pairs, "doc_id string, surface string")
    cands_df = spark.createDataFrame(cand_rows, "surface string, entity_id string, prior double")
    import hashlib

    def py_affinity(doc_id, entity_id):
        h = int(hashlib.md5(f"{doc_id}|{entity_id}".encode()).hexdigest()[:8], 16)
        return h % 1000 / 1000.0

    aff = F.udf(py_affinity, "double")
    scored = pair_df.join(cands_df, "surface").withColumn(
        "score", F.col("prior") + 0.2 * aff("doc_id", "entity_id")
    )
    # same argmax rule as link.py: max(struct(score, entity_id))
    expected = {
        (r["doc_id"], r["best"]["entity_id"])
        for r in scored.groupBy("doc_id", "surface")
        .agg(F.max(F.struct("score", "entity_id")).alias("best"))
        .collect()
    }
    tp = len(got & expected)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(expected), 1)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)


def test_connected_components_vs_union_find(spark):
    edges = [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f"), ("g", "h"), ("h", "i"), ("i", "g")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r["entity_id"], r["canonical_id"])
        for r in connected_components(spark, df).collect()
    }
    # distributed min-label path must agree with the driver union-find path
    got_dist = {
        (r["entity_id"], r["canonical_id"])
        for r in connected_components(spark, df, driver_threshold=0).collect()
    }
    assert got == got_dist
    # a driver-side edge list (what alias_edges returns) takes the same
    # union-find as a collected frame
    got_list = {
        (r["entity_id"], r["canonical_id"])
        for r in connected_components(spark, edges).collect()
    }
    assert got == got_list
    # union-find oracle
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    # canonical = min of component
    comp = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    expected = set()
    for root, members in comp.items():
        m = min(members)
        for n in members:
            expected.add((n, m))
    assert got == expected


def _jobs(spark, group: str, action):
    """(result of `action()`, ids of the Spark jobs it launched), counted by
    job group; `group` must be unique to the call."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = action()
        # control job: the status listener handles jobs in order, so once it
        # sees this one it has seen every job `action` launched
        sc.setJobGroup(f"{group}-control", "control")
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(f"{group}-control") and time.time() < deadline:
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup(f"{group}-control")
    return result, list(tracker.getJobIdsForGroup(group))


def test_resume_skips_committed_stages(spark, tmp_path):
    out = str(tmp_path / "kg")
    res1 = run_pipeline(spark, SF, out, validate=False)
    n1 = res1["triples"].count()
    # the validate stage passes the Engine an empty class hierarchy, which
    # holds as long as the pipeline emits no rdfs:subClassOf triple
    assert res1["triples"].filter(F.col("p") == SUBCLASS_ENC).count() == 0
    runner = PipelineRunner(spark, out)
    assert runner.stage_committed("triples")
    chk1 = runner.metrics("triples").collect()[0]["checksum"]
    # the bookkeeping tables keep the columns and Spark types they had when
    # Spark itself wrote them
    assert spark.read.parquet(f"{out}/_lineage/triples").dtypes == [
        ("stage", "string"), ("partition_id", "int"), ("output_rows", "bigint"),
        ("wall_ms", "int"), ("status", "string"), ("run_id", "string"),
    ]
    assert runner.metrics("triples").dtypes == [
        ("stage", "string"), ("output_rows", "bigint"), ("checksum", "string"),
        ("wall_ms", "int"), ("run_id", "string"),
    ]
    lineage = spark.read.parquet(f"{out}/_lineage/triples").collect()
    assert sum(r["output_rows"] for r in lineage) == n1
    # every stage: one lineage row per part file that holds rows, keyed by
    # the write task in its name, summing to the stage's metrics total
    for stage in res1:
        files = [f for f in os.listdir(f"{out}/{stage}") if f.startswith("part-")]
        by_file = [(int(f.split("-")[1]), pq.read_table(f"{out}/{stage}/{f}").num_rows) for f in files]
        lineage = pq.read_table(f"{out}/_lineage/{stage}").to_pylist()
        assert sorted((r["partition_id"], r["output_rows"]) for r in lineage) == sorted(
            p for p in by_file if p[1]
        ), stage
        total = runner.metrics(stage).collect()[0]["output_rows"]
        assert sum(r["output_rows"] for r in lineage) == total == res1[stage].count(), stage
    # re-run: all stages committed -> must read back, not recompute
    calls = {"n": 0}
    def must_not_run():
        calls["n"] += 1
        raise AssertionError("stage recomputed despite committed lineage")
    df = runner.run("triples", must_not_run)
    assert calls["n"] == 0 and df.count() == n1
    res2 = run_pipeline(spark, SF, out, validate=False)
    assert res2["triples"].count() == n1
    chk2 = PipelineRunner(spark, out).metrics("triples").collect()[0]["checksum"]
    assert chk1 == chk2
    # force recompute after deleting lineage -> identical checksum (idempotent)
    shutil.rmtree(f"{out}/_lineage/triples")
    assert not runner.stage_committed("triples")


def test_empty_stage_commits_and_resumes(spark, tmp_path):
    """An empty stage commits like any other: one (0, "0") metrics row, a
    commit check that launches no Spark job, and a resume that returns the
    committed empty frame instead of rebuilding."""
    out = str(tmp_path / "kg")
    runner = PipelineRunner(spark, out)
    runner.run("empty", lambda: spark.createDataFrame([], "id long, v string"))
    assert [tuple(r) for r in runner.metrics("empty").select("output_rows", "checksum").collect()] == [
        (0, "0")
    ]
    committed, jobs = _jobs(spark, "test-stage-committed", lambda: runner.stage_committed("empty"))
    assert committed
    assert jobs == []

    def must_not_run():
        raise AssertionError("committed empty stage rebuilt")

    df = PipelineRunner(spark, out).run("empty", must_not_run)
    assert df.columns == ["id", "v"] and df.count() == 0


def test_stage_commit_is_one_write_job(spark, tmp_path):
    """A shuffle-free stage commits with its write job alone: the totals
    are observed on the write, the lineage is read from the file footers
    and the committed frame is read back with the written schema."""
    def build():
        return spark.range(0, 400, 1, 4).withColumn("v", (F.col("id") % 7).cast("string"))

    out = str(tmp_path / "kg")
    df, jobs = _jobs(spark, "test-commit-pipeline", lambda: PipelineRunner(spark, out).run("s", build))
    assert len(jobs) == 1
    assert df.count() == 400
    assert pq.read_table(f"{out}/_lineage/s").num_rows == 4
    snap = str(tmp_path / "snap")
    df, jobs = _jobs(spark, "test-commit-snapshot", lambda: SnapshotRunner(spark, snap).run("s", build))
    assert len(jobs) == 1
    assert df.count() == 400


def test_observed_totals_equal_read_back_aggregation(spark, tmp_path):
    """The (rows, checksum) observed on the write equal an aggregation over
    the written files, for a multi-partition frame with nulls and for an
    empty one (whose sum is null, recorded as "0")."""
    frames = {
        "multi": spark.range(0, 1000, 1, 7)
        .filter(F.col("id") % 3 != 0)
        .select(
            "id",
            F.when(F.col("id") % 5 == 0, None).otherwise(F.concat(F.lit("v"), F.col("id"))).alias("s"),
            (F.col("id") / 7).alias("x"),
        ),
        "empty": spark.createDataFrame([], "id long, v string"),
    }
    for name, df in frames.items():
        path = str(tmp_path / name)
        _, rows, checksum = write_stage(df, path, "overwrite")
        back = spark.read.parquet(path)
        agg = back.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(*back.columns).cast("decimal(38,0)")).cast("string"),
        ).collect()[0]
        assert (rows, checksum) == (agg[0], agg[1] or "0"), name
    assert rows == 0 and checksum == "0"


def test_resume_reads_committed_stage_without_a_job(spark, tmp_path):
    """A resumed stage is read with the schema from its part file's footer,
    so resuming runs no Spark job, for a stage with rows and an empty one."""
    out = str(tmp_path / "kg")
    runner = PipelineRunner(spark, out)
    built = {
        "rows": spark.range(0, 50, 1, 3).select("id", F.col("id").cast("string").alias("v")),
        "empty": spark.range(0).select(F.col("id").cast("int").alias("n"), F.lit(1.5).alias("x")),
    }
    for stage, df in built.items():
        runner.run(stage, lambda: df)

    def must_not_run():
        raise AssertionError("committed stage rebuilt")

    for stage, df in built.items():
        back, jobs = _jobs(spark, f"test-resume-{stage}", lambda: PipelineRunner(spark, out).run(stage, must_not_run))
        assert jobs == [], stage
        assert back.dtypes == df.dtypes, stage
    assert PipelineRunner(spark, out).run("rows", must_not_run).count() == 50


def test_documents_stage_is_one_job(spark, tmp_path):
    """documents.parquet is read with its declared schema: the documents
    stage commits in its write job alone, with no schema-inference job."""
    runner = PipelineRunner(spark, str(tmp_path / "kg"))
    df, jobs = _jobs(spark, "test-documents-stage",
                     lambda: runner.run("documents", lambda: interleaved_documents(spark, SF)))
    assert len(jobs) == 1
    assert df.count() == pq.read_metadata(f"{SF}/documents.parquet").num_rows


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_driver_built_frames_are_local_relations(spark):
    """Frames built from driver-side rows analyze to a LocalRelation, which
    needs no job and no Python worker (createDataFrame(list) is an RDD)."""
    from shacl_js_spark.graph import local_frame, terms_frame
    from shacl_js_spark.pipeline.synth import lexicon_df, lexicon_grouped_df
    from shacl_js_spark.terms import iri

    frames = {
        "lexicon_df": lexicon_df(spark),
        "lexicon_grouped_df": lexicon_grouped_df(spark),
        "cc_mapping": connected_components(spark, [("e1", "e2"), ("e2", "e3")]),
        "terms_frame": terms_frame(spark, [iri("http://e/a")]),
        "empty": local_frame(spark, [], "a string, b array<int>"),
    }
    for name, df in frames.items():
        assert _analyzed(df) == "LocalRelation", name
    assert frames["lexicon_grouped_df"].count() == len(ENTITY_LEXICON)
    assert sorted(tuple(r) for r in frames["cc_mapping"].collect()) == [
        ("e1", "e1"), ("e2", "e1"), ("e3", "e1")
    ]
    assert frames["empty"].dtypes == [("a", "string"), ("b", "array<int>")]


def test_validation_catches_corrupt_graph(spark, docs):
    mentions = extract_mentions(spark, docs.limit(30))
    links = link_entities(spark, mentions)
    triples = emit_triples(spark, docs.limit(30), links)
    mapping = connected_components(spark, alias_edges(spark))
    triples = canonicalize_triples(spark, triples, mapping, EX + "entity/")
    # corrupt: a document mentioning a non-Entity node
    bad = spark.createDataFrame(
        [(
            f"<{EX}doc/doc-0>", f"<{EX}mentions>", "<http://rogue.example/x>",
            "http://rogue.example/x", "iri", None, None, "urn:x-shacl:dataGraph",
        )],
        TRIPLE_SCHEMA,
    )
    engine = Engine(spark, triples.unionByName(bad), LocalGraph.from_turtle(KG_SHAPES_TTL))
    report = engine.validate()
    comps = {r.component.split("#")[-1] for r in report.results()}
    assert "ClassConstraintComponent" in comps
    clean = Engine(spark, triples, LocalGraph.from_turtle(KG_SHAPES_TTL)).validate()
    assert clean.conforms()
