"""Fluent RDFQuery-equivalent builder (ref: src/rdfquery.js chains)."""

import pytest
from pyspark.sql import functions as F

from shacl_js_spark.graph import triples_df
from shacl_js_spark.plans.query import RDFQueryDF
from shacl_js_spark.shapes import Path
from shacl_js_spark.turtle import parse_turtle

TTL = """
@prefix ex: <http://e/> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
ex:a ex:knows ex:b ; rdfs:label "A" .
ex:b ex:knows ex:c ; rdfs:label "B" .
ex:c ex:knows ex:d ; rdfs:label "C10" .
ex:d rdfs:label "C9" .
"""


@pytest.fixture(scope="module")
def data(spark):
    trips, _ = parse_turtle(TTL)
    return triples_df(spark, trips).cache()


def test_match_chain_bgp(spark, data):
    q = (
        RDFQueryDF(spark, data)
        .match("?x", "<http://e/knows>", "?y")
        .match("?y", "<http://e/knows>", "?z")
    )
    rows = {(r["x"], r["z"]) for r in q.encoded_df().collect()}
    assert rows == {("<http://e/a>", "<http://e/c>"), ("<http://e/b>", "<http://e/d>")}


def test_filter_bind_limit(spark, data):
    q = (
        RDFQueryDF(spark, data)
        .match("?x", "rdfs:label", "?l")
        .filter(F.col("l_v").startswith("C"))
        .bind("?u", lambda s: F.upper(F.col("l_v")))
    )
    got = {(r["l_v"], r["u_v"]) for r in q.sols.select("l_v", "u_v").collect()}
    assert got == {("C10", "C10"), ("C9", "C9")}
    assert q.limit(1).count() == 1


def test_order_by_string_semantics(spark, data):
    # compareTerms value ordering is string order: "C10" < "C9"
    q = RDFQueryDF(spark, data).match("?x", "rdfs:label", "?l").order_by("?l")
    labels = [r["l_v"] for r in q.sols.select("l_v").collect()]
    assert labels == ["A", "B", "C10", "C9"]


def test_path_zero_or_more(spark, data):
    p = Path("zeroOrMore", children=(Path("pred", pred="http://e/knows"),))
    q = RDFQueryDF(spark, data).match("?x", "rdfs:label", "A").path("?x", p, "?r")
    reach = {r["r"] for r in q.encoded_df().select("r").collect()}
    assert reach == {"<http://e/a>", "<http://e/b>", "<http://e/c>", "<http://e/d>"}


def test_terminals(spark, data):
    q = RDFQueryDF(spark, data).match("?x", "<http://e/knows>", None)
    assert q.count() == 3
    assert q.has_solution()
    assert len(q.node_set("?x")) == 3
    assert q.first("?x") is not None
    assert not RDFQueryDF(spark, data).match("?x", "<http://e/missing>", None).has_solution()


def test_path_object_must_be_variable(spark, data):
    # a checked error, not an assert: under `python -O` a term object would
    # otherwise bind a column named after the IRI
    q = RDFQueryDF(spark, data).match("?x", "rdfs:label", "A")
    with pytest.raises(ValueError, match="path object must be a variable"):
        q.path("?x", Path("pred", pred="http://e/knows"), "<http://e/x>")


def test_bind_plain_literal_is_escaped(spark, data):
    # a bound plain literal is encoded like any other term: a quote in the
    # value must not end the encoded lexical form early
    q = RDFQueryDF(spark, data).match("?s", "rdfs:label", None).limit(1)
    nodes = q.bind("?x", F.lit('say "hi"')).node_array("?x")
    assert [(t.value, t.datatype) for t in nodes] == [
        ('say "hi"', "http://www.w3.org/2001/XMLSchema#string")
    ]
