"""Explicit hot-key salting utilities (north rule skew treatment)."""

from pyspark.sql import functions as F

from shacl_js_spark.pipeline.extract import extract_mentions
from shacl_js_spark.pipeline.link import link_entities
from shacl_js_spark.pipeline.skew import entity_mention_counts, salted_agg, salted_join
from shacl_js_spark.pipeline.synth import interleaved_documents

from conftest import SF


def test_salted_agg_equals_plain(spark):
    # skewed input: one hot key with 10k rows, tail keys with few
    rows = [("hot", i) for i in range(10000)] + [(f"k{i}", i) for i in range(50)]
    df = spark.createDataFrame(rows, "k string, v long")
    salted = {
        (r["k"], r["n"], r["s"])
        for r in salted_agg(df, ["k"], {"n": ("count", "*"), "s": ("sum", "v")}, buckets=8).collect()
    }
    plain = {
        (r["k"], r["n"], r["s"])
        for r in df.groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("s")).collect()
    }
    assert salted == plain
    # the partial aggregation genuinely spreads the hot key over salt buckets
    spread = (
        df.withColumn("_salt", F.pmod(F.xxhash64("v"), F.lit(8)).cast("int"))
        .filter(F.col("k") == "hot").select("_salt").distinct().count()
    )
    assert spread == 8


def test_salted_join_equals_plain(spark):
    big = spark.createDataFrame(
        [("hot", i) for i in range(5000)] + [("cold", i) for i in range(10)],
        "k string, v long",
    )
    dim = spark.createDataFrame([("hot", "H"), ("cold", "C")], "k string, lab string")
    salted = {(r["k"], r["v"], r["lab"]) for r in salted_join(big, dim, "k", buckets=4).collect()}
    plain = {(r["k"], r["v"], r["lab"]) for r in big.join(dim, "k").collect()}
    assert salted == plain


def test_entity_mention_counts(spark):
    docs = interleaved_documents(spark, SF)
    links = link_entities(spark, extract_mentions(spark, docs))
    salted = {
        (r["entity_id"], r["n_mentions"]) for r in entity_mention_counts(links).collect()
    }
    plain = {
        (r["entity_id"], r["n"])
        for r in links.groupBy("entity_id").agg(F.count("*").alias("n")).collect()
    }
    assert salted == plain
