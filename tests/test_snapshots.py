"""Iceberg-style snapshot catalog: atomic commit, resume, time travel,
rollback, orphan GC."""

import json
import os
import shutil

import pytest

from shacl_js_spark.pipeline.snapshots import (
    SnapshotCatalog,
    SnapshotError,
    SnapshotRunner,
)

from conftest import SF

ROOT = "/tmp/spark-graft-snapshots-test"


@pytest.fixture()
def root():
    shutil.rmtree(ROOT, ignore_errors=True)
    yield ROOT
    shutil.rmtree(ROOT, ignore_errors=True)


def _df(spark, vals):
    return spark.createDataFrame([(i, f"v{i}") for i in vals], "id long, v string")


def test_commit_read_and_time_travel(spark, root):
    cat = SnapshotCatalog(spark, root)
    m1 = cat.commit("triples", _df(spark, range(5)))
    m2 = cat.commit("triples", _df(spark, range(8)))
    assert m2["parent"] == m1["snapshot_id"]
    assert cat.read("triples").count() == 8  # current
    assert cat.read("triples", m1["snapshot_id"]).count() == 5  # time travel
    hist = cat.history("triples")
    assert [m["snapshot_id"] for m in hist] == [m2["snapshot_id"], m1["snapshot_id"]]
    assert hist[0]["rows"] == 8 and hist[1]["rows"] == 5


def test_crash_before_pointer_swap_is_invisible(spark, root):
    cat = SnapshotCatalog(spark, root)
    committed = cat.commit("t", _df(spark, range(3)))
    # simulate a crashed commit: data dir + manifest written, pointer NOT
    # swapped (steps 1-2 of the protocol completed, step 3 lost)
    orphan = "deadbeefdeadbeef"
    _df(spark, range(99)).write.parquet(cat._data("t", orphan))
    with open(cat._manifest_path("t", orphan), "w") as f:
        json.dump({"snapshot_id": orphan, "parent": None, "table": "t",
                   "data_path": cat._data("t", orphan), "rows": 99}, f)
    # readers still see the committed snapshot only
    assert cat.current_snapshot("t") == committed["snapshot_id"]
    assert cat.read("t").count() == 3
    # gc removes exactly the orphan
    assert cat.gc("t") == [orphan]
    assert not os.path.exists(cat._data("t", orphan))
    assert cat.read("t").count() == 3


def test_rollback_then_gc_expires_rolled_over_snapshot(spark, root):
    cat = SnapshotCatalog(spark, root)
    m1 = cat.commit("t", _df(spark, range(4)))
    m2 = cat.commit("t", _df(spark, range(6)))
    cat.rollback("t", m1["snapshot_id"])
    assert cat.read("t").count() == 4
    with pytest.raises(SnapshotError):
        cat.rollback("t", "nope")
    # m2 is now unreachable from current -> expired by gc
    assert cat.gc("t") == [m2["snapshot_id"]]
    with pytest.raises(FileNotFoundError):
        cat.manifest("t", m2["snapshot_id"])


def test_runner_resumes_from_committed_snapshot(spark, root):
    calls = []

    def build():
        calls.append(1)
        return _df(spark, range(7))

    r1 = SnapshotRunner(spark, root, run_id="a")
    out1 = r1.run("extract", build)
    assert out1.count() == 7 and len(calls) == 1
    # a NEW runner over the same dir (fresh process after a crash) resumes
    # without recomputing
    r2 = SnapshotRunner(spark, root, run_id="b")
    out2 = r2.run("extract", build)
    assert out2.count() == 7 and len(calls) == 1
    assert r2.metrics("extract")["rows"] == 7
    assert r2.metrics("extract")["run_id"] == "a"  # original committer
    # force recomputes and commits a child snapshot
    r2.run("extract", build, force=True)
    assert len(calls) == 2
    assert len(r2.catalog.history("extract")) == 2


def test_checksum_is_content_addressed(spark, root):
    cat = SnapshotCatalog(spark, root)
    a = cat.commit("x", _df(spark, range(10)))
    b = cat.commit("x", _df(spark, range(10)).repartition(3))  # same content
    c = cat.commit("x", _df(spark, range(11)))
    assert a["checksum"] == b["checksum"]  # partitioning-independent
    assert a["checksum"] != c["checksum"]


def test_full_pipeline_on_snapshot_catalog(spark, root):
    # run_pipeline(snapshots=True): same stage graph, snapshot commits;
    # a second run resumes from committed snapshots (and both runs agree
    # with PipelineRunner's triples output)
    from shacl_js_spark.pipeline.materialize import run_pipeline

    out = os.path.join(root, "kg-snap")
    res1 = run_pipeline(spark, SF, out, validate=False, snapshots=True)
    n1 = res1["triples"].count()
    assert n1 > 0
    cat = SnapshotCatalog(spark, out)
    first_snap = cat.current_snapshot("triples")
    assert first_snap is not None
    res2 = run_pipeline(spark, SF, out, validate=False, snapshots=True)
    assert res2["triples"].count() == n1
    # resume did NOT commit a new snapshot
    assert cat.current_snapshot("triples") == first_snap
    assert len(cat.history("triples")) == 1


def test_empty_snapshot_checksum_is_stable_zero(spark, root):
    # sum() over zero rows is NULL; empty snapshots must not all compare
    # checksum-equal as None (r5 advice) — they get a stable '0'
    cat = SnapshotCatalog(spark, root)
    m = cat.commit("t", _df(spark, []).limit(0))
    assert m["rows"] == 0
    assert m["checksum"] == "0"


def test_concurrent_commit_is_refused(spark, root):
    # optimistic-concurrency check (r5 advice): a commit built on a stale
    # parent must raise instead of silently orphaning the racing commit
    cat = SnapshotCatalog(spark, root)
    cat.commit("t", _df(spark, [1]))
    stale_parent_seen = {}
    orig = SnapshotCatalog.current_snapshot
    calls = {"n": 0}

    def racing(self, table):
        cur = orig(self, table)
        calls["n"] += 1
        if calls["n"] == 1:
            # first read (parent capture) — then another committer lands
            stale_parent_seen["parent"] = cur
            other = SnapshotCatalog(spark, root)
            SnapshotCatalog.current_snapshot = orig
            try:
                other.commit("t", _df(spark, [2]))
            finally:
                SnapshotCatalog.current_snapshot = racing
        return cur

    SnapshotCatalog.current_snapshot = racing
    try:
        with pytest.raises(SnapshotError, match="concurrent commit"):
            cat.commit("t", _df(spark, [3]))
    finally:
        SnapshotCatalog.current_snapshot = orig
