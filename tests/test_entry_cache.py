"""The shared-input cache in __spark_entry__ must (a) actually share one
persisted DataFrame across queries() calls in a session, and (b) never serve
a DataFrame built on a different SparkSession (a stopped session's frame
would crash every later query)."""

import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry

from conftest import SF


def test_cached_input_shares_one_frame(spark):
    entry._INPUT_CACHE.clear()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).toDF("x")

    a = entry._cached_input("t_share", spark, SF, build)
    b = entry._cached_input("t_share", spark, SF, build)
    assert a is b
    assert calls["n"] == 1
    assert a.is_cached


def test_cached_input_keyed_by_sf_dir_and_evicts_other_dirs(spark):
    entry._INPUT_CACHE.clear()
    a = entry._cached_input("t_key", spark, "/dir/a", lambda: spark.range(1).toDF("x"))
    assert a.is_cached
    b = entry._cached_input("t_key", spark, "/dir/b", lambda: spark.range(2).toDF("x"))
    assert a is not b
    # switching sf_dir evicted (and unpersisted) the old dir's entries: a
    # long-lived session iterating sf_dirs holds ONE sf_dir's frames
    assert list(entry._INPUT_CACHE) == [("t_key", "/dir/b")]
    assert not a.is_cached
    assert b.is_cached


def test_cached_input_rejects_foreign_session(spark):
    """A cache entry whose session is not the caller's must be rebuilt, not
    served (session identity check, not id() reuse)."""
    entry._INPUT_CACHE.clear()
    df = spark.range(3).toDF("x")

    class NotTheSession:
        pass

    entry._INPUT_CACHE[("t_foreign", "/dir")] = (NotTheSession(), df)
    out = entry._cached_input("t_foreign", spark, "/dir", lambda: spark.range(4).toDF("x"))
    assert out is not df
    assert out.count() == 4
    # and the stale entry was replaced
    assert entry._INPUT_CACHE[("t_foreign", "/dir")][0] is spark


def test_shacl_queries_share_customer_graph(spark):
    """Two shacl queries over the same sf_dir reuse one persisted input."""
    entry._INPUT_CACHE.clear()
    qs = entry.queries()
    n1 = qs["shacl_mincount"](spark, SF).count()
    cached_after_first = dict(entry._INPUT_CACHE)
    n2 = qs["shacl_maxcount"](spark, SF).count()
    key = ("customer_triples", SF)
    assert key in cached_after_first
    # second query did not replace the entry (same object served)
    assert entry._INPUT_CACHE[key][1] is cached_after_first[key][1]
    assert n1 >= 0 and n2 >= 0
