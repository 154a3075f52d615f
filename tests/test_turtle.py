import glob
import os

import pytest

from shacl_js_spark.localgraph import LocalGraph
from shacl_js_spark.terms import XSD_BOOLEAN, iri, literal
from shacl_js_spark.turtle import parse_turtle

# the shacl-js source checkout, kept next to this repository
REF = os.path.normpath(
    os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir, os.pardir, "reference")
)
FIXTURES = sorted(glob.glob(os.path.join(REF, "test/data/**/*.ttl"), recursive=True))
MINCOUNT_001 = os.path.join(REF, "test/data/core/property/minCount-001.test.ttl")


@pytest.mark.skipif(not FIXTURES, reason=f"no shacl-js fixtures under {REF}/test/data")
def test_all_reference_fixtures_parse():
    assert len(FIXTURES) == 85
    for f in FIXTURES:
        triples, prefixes = parse_turtle(open(f).read())
        assert triples, f


@pytest.mark.skipif(not os.path.exists(MINCOUNT_001), reason=f"{MINCOUNT_001} not found")
def test_exact_triple_count_mincount001():
    t, _ = parse_turtle(open(MINCOUNT_001).read())
    assert len(t) == 29


def test_boolean_canonicalization():
    # ref: rdflib-graph.js:127-136
    t, _ = parse_turtle(
        '@prefix ex: <http://e/> . @prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n'
        'ex:a ex:p "1"^^xsd:boolean, "0"^^xsd:boolean, true .'
    )
    objs = {x[2] for x in t}
    assert objs == {literal("true", XSD_BOOLEAN), literal("false", XSD_BOOLEAN)}


def test_collection_explosion():
    t, _ = parse_turtle("@prefix ex: <http://e/> . ex:a ex:p ( ex:x ex:y ) .")
    g = LocalGraph(t)
    head = g.object(iri("http://e/a"), iri("http://e/p"))
    assert head.is_bnode
    assert [x.value for x in g.rdf_list(head)] == ["http://e/x", "http://e/y"]


def test_langtag_and_typed_literals():
    t, _ = parse_turtle(
        '@prefix ex: <http://e/> . @prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n'
        'ex:a ex:p "hi"@en-US ; ex:q "3.14"^^xsd:decimal ; ex:r 5 ; ex:s 2.5 ; ex:t 1.0e3 .'
    )
    kinds = {(x[2].datatype, x[2].lang) for x in t}
    assert ("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", "en-US") in kinds
