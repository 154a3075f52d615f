"""SHACLValidator facade: validate / graph swap / JSON-LD input /
nodeConformsToShape / report sinks (ref: index.js API surface)."""

from shacl_js_spark.report import report_ntriples, report_triples_df
from shacl_js_spark.terms import iri
from shacl_js_spark.validator import SHACLValidator

SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://e/> .
ex:S a sh:NodeShape ; sh:targetClass ex:Person ;
  sh:property [ sh:path ex:name ; sh:minCount 1 ] .
"""

DATA_BAD = """
@prefix ex: <http://e/> .
ex:a a ex:Person .
ex:b a ex:Person ; ex:name "B" .
"""

DATA_GOOD = """
@prefix ex: <http://e/> .
ex:b a ex:Person ; ex:name "B" .
"""

DATA_JSONLD = """
{
  "@context": {"ex": "http://e/"},
  "@graph": [
    {"@id": "ex:a", "@type": "ex:Person"},
    {"@id": "ex:b", "@type": "ex:Person", "ex:name": "B"}
  ]
}
"""


def test_validate_and_swap(spark):
    v = SHACLValidator(spark)
    report = v.validate(DATA_BAD, "text/turtle", SHAPES, "text/turtle")
    assert not report.conforms()
    assert len(report.results()) == 1
    assert report.results()[0].focusNode() == "http://e/a"
    # swap just the data graph (ref updateDataGraph)
    v.update_data_graph(DATA_GOOD)
    assert v._ensure_engine().validate().conforms()


def test_driver_materialization_is_bounded(spark):
    # 60 violating persons but max_driver_results=10: validate() must cap
    # driver rows and flag truncation; report_df() keeps the full set
    from shacl_js_spark import Engine, LocalGraph, parse_turtle, triples_df

    data = "@prefix ex: <http://e/> .\n" + "\n".join(
        f"ex:p{i} a ex:Person ." for i in range(60)
    )
    trips, _ = parse_turtle(data)
    strips, sprefixes = parse_turtle(SHAPES)
    eng = Engine(
        spark, triples_df(spark, trips), LocalGraph(strips, sprefixes),
        max_driver_results=10,
    )
    report = eng.validate()
    assert report.truncated and len(report.results()) == 10
    assert not report.conforms()
    assert eng.report_df().count() == 60
    # error_batch keeps reference semantics and wins over the safety cap
    eng2 = Engine(
        spark, triples_df(spark, trips), LocalGraph(strips, sprefixes),
        error_batch=5, max_driver_results=10,
    )
    assert len(eng2.validate().results()) == 5


LIST_SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://e/> .
ex:S a sh:NodeShape ; sh:targetSubjectsOf ex:tags ;
  sh:property [ sh:path ex:tags ; sh:nodeKind sh:BlankNode ] .
ex:R a sh:NodeShape ; sh:targetSubjectsOf ex:parent ;
  sh:property [ sh:path ex:parent ; sh:minCount 1 ] .
"""

LIST_TTL = """
@prefix ex: <http://e/> .
ex:a ex:tags ("x" "y") .
ex:b ex:parent ex:a .
ex:c ex:tags "scalar" .
"""

LIST_JSONLD = """
{
  "@context": {"ex": "http://e/"},
  "@graph": [
    {"@id": "ex:a", "ex:tags": {"@list": ["x", "y"]},
     "@reverse": {"ex:parent": {"@id": "ex:b"}}},
    {"@id": "ex:c", "ex:tags": "scalar"}
  ]
}
"""


def test_jsonld_list_and_reverse_match_turtle_twin(spark):
    # a @list document must validate identically to its Turtle twin
    # (list heads are bnodes -> conform; ex:c's scalar tag violates), and
    # @reverse must state the inverted triple (ex:b ex:parent ex:a)
    got_ttl = SHACLValidator(spark).validate(LIST_TTL, "text/turtle", LIST_SHAPES)
    got_ld = SHACLValidator(spark).validate(LIST_JSONLD, "application/ld+json", LIST_SHAPES)
    f_ttl = sorted(r.focusNode() for r in got_ttl.results())
    f_ld = sorted(r.focusNode() for r in got_ld.results())
    assert f_ttl == f_ld == ["http://e/c"]
    # the rdf:first/rest encodings are term-identical modulo bnode ids
    from shacl_js_spark import parse_turtle
    from shacl_js_spark.jsonld import parse_jsonld

    def skeleton(trips):
        return sorted(
            (s.kind, p.value, o.kind, o.value if o.kind != "bnode" else "*")
            for (s, p, o) in trips
        )

    assert skeleton(parse_turtle(LIST_TTL)[0]) == skeleton(parse_jsonld(LIST_JSONLD)[0])


def test_jsonld_input(spark):
    v = SHACLValidator(spark)
    report = v.validate(DATA_JSONLD, "application/ld+json", SHAPES, "text/turtle")
    assert not report.conforms()
    assert report.results()[0].focusNode() == "http://e/a"


def test_node_conforms(spark):
    v = SHACLValidator(spark)
    v.update_data_graph(DATA_BAD)
    v.update_shapes_graph(SHAPES)
    assert v.node_conforms_to_shape(iri("http://e/b"), iri("http://e/S"))
    assert not v.node_conforms_to_shape(iri("http://e/a"), iri("http://e/S"))


def test_report_sinks(spark):
    v = SHACLValidator(spark)
    v.update_data_graph(DATA_BAD)
    v.update_shapes_graph(SHAPES)
    report = v._ensure_engine().validate()
    j = report.to_jsonld()
    assert j["@graph"][0]["http://www.w3.org/ns/shacl#conforms"] is False
    rt = report_triples_df(spark, v.report_df())
    rows = rt.collect()
    preds = {r["p"] for r in rows}
    assert "<http://www.w3.org/ns/shacl#focusNode>" in preds
    assert "<http://www.w3.org/ns/shacl#conforms>" in preds
    conforms = [r for r in rows if r["p"].endswith("#conforms>")]
    assert conforms[0]["o_v"] == "false"
    # the N-Triples sink serializes the same triples, one line each
    lines = report_ntriples(spark, v.report_df())
    assert sorted(lines) == sorted(f"{r['s']} {r['p']} {r['o']} ." for r in rows)


def test_report_triples_stable_across_runs(spark):
    # result ids are content hashes: two independent materializations of the
    # same report must serialize to the SAME triple set (retry/replay safety)
    def lines():
        v = SHACLValidator(spark)
        v.update_data_graph(DATA_BAD)
        v.update_shapes_graph(SHAPES)
        rt = report_triples_df(spark, v.report_df().repartition(5))
        return sorted((r["s"], r["p"], r["o"]) for r in rt.collect())

    first, second = lines(), lines()
    assert first == second
    assert any(s.startswith("_:r") and len(s) > 10 for s, _p, _o in first)



def test_report_lines_escape_multiline_message(spark):
    # a multi-line sh:message is one escaped literal on one N-Triples line
    from shacl_js_spark.graph import ntriples_lines
    from shacl_js_spark.terms import decode_term

    shapes = SHAPES.replace(
        "sh:minCount 1 ]", 'sh:minCount 1 ; sh:message """name is\nmissing\r\tnow""" ]'
    )
    v = SHACLValidator(spark)
    v.update_data_graph(DATA_BAD)
    v.update_shapes_graph(shapes)
    rt = report_triples_df(spark, v.report_df())
    lines = [r["line"] for r in ntriples_lines(rt).collect()]
    assert lines and not any(("\n" in ln) or ("\r" in ln) for ln in lines)
    msgs = [r["o"] for r in rt.collect() if r["p"].endswith("#resultMessage>")]
    assert [decode_term(o).value for o in msgs] == ["name is\nmissing\r\tnow"]


def test_report_triples_pin_no_cache(spark):
    # the report graph is a plan over the report rows: collecting it leaves
    # nothing persisted for the rest of the session
    v = SHACLValidator(spark)
    v.update_data_graph(DATA_BAD)
    v.update_shapes_graph(SHAPES)
    report = v.report_df()
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert report_triples_df(spark, report).collect()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


INDEX_SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://e/> .
ex:S a sh:NodeShape ; sh:targetClass ex:Book ;
  sh:property [ sh:path ex:label ; sh:uniqueLang true ] ;
  sh:property [ sh:path ex:author ; sh:nodeKind sh:IRI ] ;
  sh:property [ sh:path ex:stock ; sh:minCount 2 ] .
"""

INDEX_TTL = """
@prefix ex: <http://e/> .
ex:b1 a ex:Book ; ex:author ex:alice ;
  ex:label "Dune"@en, "Dune"@de ;
  ex:stock ex:w1, ex:w2 .
ex:b2 a ex:Book ; ex:author "not-an-iri" ;
  ex:label "Other"@en, "Misc"@en ;
  ex:stock ex:w1 .
"""

# same content expressed with a REMOTE context (@index container for stock,
# @language map for label, @type:@id coercion for author)
INDEX_JSONLD = """
{
  "@context": "https://schema.example/ctx.jsonld",
  "@graph": [
    {"@id": "ex:b1", "@type": "Book", "author": "ex:alice",
     "label": {"en": "Dune", "de": "Dune"},
     "stock": {"warehouseA": "ex:w1", "warehouseB": "ex:w2"}},
    {"@id": "ex:b2", "@type": "Book",
     "author": {"@value": "not-an-iri"},
     "label": {"en": ["Other", "Misc"]},
     "stock": {"warehouseA": "ex:w1"}}
  ]
}
"""

REMOTE_CTX = {
    "@vocab": "http://e/",
    "ex": "http://e/",
    "author": {"@id": "ex:author", "@type": "@id"},
    "label": {"@id": "ex:label", "@container": "@language"},
    "stock": {"@id": "ex:stock", "@type": "@id", "@container": "@index"},
}


def test_jsonld_index_language_remote_context_matches_turtle_twin(spark):
    # a document using @container:@index, a @language map, @type:@id coercion
    # and a registered remote context must validate identically to its
    # Turtle twin: b2 violates uniqueLang (two "en" labels), nodeKind
    # (literal author) and minCount (one stock value); b1 conforms
    got_ttl = SHACLValidator(spark).validate(INDEX_TTL, "text/turtle", INDEX_SHAPES)
    v = SHACLValidator(spark)
    v.register_jsonld_context("https://schema.example/ctx.jsonld", REMOTE_CTX)
    got_ld = v.validate(INDEX_JSONLD, "application/ld+json", INDEX_SHAPES)

    def sig(report):
        return sorted(
            (r.focusNode(), r.sourceConstraintComponent()) for r in report.results()
        )

    assert sig(got_ttl) == sig(got_ld)
    assert {f for f, _c in sig(got_ld)} == {"http://e/b2"}
    assert len(sig(got_ld)) == 3


def test_jsonld_unregistered_remote_context_raises(spark):
    from shacl_js_spark.jsonld import JsonLdError, parse_jsonld

    import pytest

    doc = '{"@context": "https://nope.example/ctx", "@id": "http://e/x"}'
    with pytest.raises(JsonLdError, match="not registered"):
        parse_jsonld(doc)


def test_jsonld_reverse_rejects_literals(spark):
    import pytest

    from shacl_js_spark.jsonld import JsonLdError, parse_jsonld

    bad = '{"@context":{"ex":"http://e/"},"@id":"ex:a","@reverse":{"ex:p":"a literal"}}'
    with pytest.raises(JsonLdError, match="invalid reverse property value"):
        parse_jsonld(bad)


NEST_SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://e/> .
ex:S a sh:NodeShape ; sh:targetClass ex:Person ;
  sh:property [ sh:path ex:street ; sh:minCount 1 ] ;
  sh:property [ sh:path ex:zip ; sh:datatype <http://www.w3.org/2001/XMLSchema#string> ] .
"""

NEST_TTL = """
@prefix ex: <http://e/> .
ex:p1 a ex:Person ; ex:street "Main St" ; ex:zip "94105" .
ex:p2 a ex:Person ; ex:zip 12345 .
"""

# same content with the address properties grouped under @nest (keyword form
# for p1, term-aliased form for p2) — members belong to the enclosing node
NEST_JSONLD = """
{
  "@context": {"@vocab": "http://e/", "ex": "http://e/",
               "address": "@nest"},
  "@graph": [
    {"@id": "ex:p1", "@type": "Person",
     "@nest": {"street": "Main St", "zip": "94105"}},
    {"@id": "ex:p2", "@type": "Person",
     "address": {"zip": 12345}}
  ]
}
"""


def test_jsonld_nest_matches_turtle_twin(spark):
    # @nest groups are syntactic only: the nested street/zip land on the
    # person nodes, so validation verdicts equal the flat Turtle twin
    # (p2: street minCount + integer zip datatype violations)
    got_ttl = SHACLValidator(spark).validate(NEST_TTL, "text/turtle", NEST_SHAPES)
    got_ld = SHACLValidator(spark).validate(NEST_JSONLD, "application/ld+json", NEST_SHAPES)

    def sig(report):
        return sorted(
            (r.focusNode(), r.sourceConstraintComponent()) for r in report.results()
        )

    assert sig(got_ttl) == sig(got_ld)
    assert {f for f, _c in sig(got_ld)} == {"http://e/p2"}
    assert len(sig(got_ld)) == 2


def test_jsonld_nest_rejects_id(spark):
    import pytest

    from shacl_js_spark.jsonld import JsonLdError, parse_jsonld

    bad = '{"@context":{"ex":"http://e/"},"@id":"ex:a","@nest":{"@id":"ex:b","ex:p":1}}'
    with pytest.raises(JsonLdError, match="@nest"):
        parse_jsonld(bad)


def test_jsonld_graph_containers_flatten_to_data_graph(spark):
    # named-graph node objects and @container:@graph: contents validate as
    # data-graph triples (reference loads all quads into one graph URI);
    # the graph container also emits the (subj, pred, graph-name) link
    from shacl_js_spark.jsonld import parse_jsonld

    doc = """
    {
      "@context": {"@vocab": "http://e/",
                   "claims": {"@id": "http://e/claims", "@container": "@graph"}},
      "@id": "http://e/dataset",
      "claims": {"@id": "http://e/s1", "p": "v1"},
      "@graph": [{"@id": "http://e/inner", "q": "v2"}]
    }
    """
    trips, _ = parse_jsonld(doc)
    flat = {(s.value, p.value, o.value if o.kind == "literal" else o.value)
            for (s, p, o) in trips}
    assert ("http://e/s1", "http://e/p", "v1") in flat
    assert ("http://e/inner", "http://e/q", "v2") in flat
    links = [(s, p, o) for (s, p, o) in trips
             if p.value == "http://e/claims" and s.value == "http://e/dataset"]
    assert len(links) == 1 and links[0][2].kind == "bnode"


def test_jsonld_vocab_never_applies_to_id(spark):
    # @id positions resolve against @base, not @vocab: a relative @id must
    # NOT be vocab-expanded (it passes through unchanged), while @type and
    # property terms still vocab-expand
    from shacl_js_spark.jsonld import parse_jsonld

    doc = """
    {
      "@context": {"@vocab": "http://v/"},
      "@id": "rel-subject",
      "@type": "Thing",
      "knows": {"@id": "rel-object"}
    }
    """
    trips, _ = parse_jsonld(doc)
    by_pred = {p.value: (s.value, o.value) for (s, p, o) in trips}
    assert by_pred["http://v/knows"] == ("rel-subject", "rel-object")
    s, o = by_pred["http://www.w3.org/1999/02/22-rdf-syntax-ns#type"]
    assert (s, o) == ("rel-subject", "http://v/Thing")


BASE_SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://data.example/people/> .
@prefix exv: <http://vocab.example/> .
ex:S a sh:NodeShape ; sh:targetClass exv:Person ;
  sh:property [ sh:path exv:age ;
    sh:datatype <http://www.w3.org/2001/XMLSchema#integer> ] ;
  sh:property [ sh:path exv:knows ; sh:nodeKind sh:IRI ] .
"""

BASE_TTL = """
@prefix ex: <http://data.example/people/> .
@prefix exv: <http://vocab.example/> .
ex:alice a exv:Person ; exv:age 34 ; exv:knows ex:bob .
ex:bob a exv:Person ; exv:age "n/a" ; exv:knows <http://data.example/people/alice#self> .
"""

# identical content expressed with a @base and relative @id references
# (plain, fragment, and a relative @base resolved against the outer base
# in a nested local context)
BASE_JSONLD = """
{
  "@context": {"@base": "http://data.example/", "@vocab": "http://vocab.example/"},
  "@graph": [
    {"@context": {"@base": "people/"},
     "@id": "alice", "@type": "Person", "age": 34,
     "knows": {"@id": "bob"}},
    {"@context": {"@base": "people/"},
     "@id": "bob", "@type": "Person", "age": "n/a",
     "knows": {"@id": "alice#self"}}
  ]
}
"""


def test_jsonld_base_matches_turtle_twin(spark):
    # @base + relative @ids (incl. a relative @base joined onto the outer
    # @base) resolve to the same IRIs as the absolute Turtle twin, so the
    # validation verdicts are identical (bob: age datatype violation only)
    got_ttl = SHACLValidator(spark).validate(BASE_TTL, "text/turtle", BASE_SHAPES)
    got_ld = SHACLValidator(spark).validate(BASE_JSONLD, "application/ld+json", BASE_SHAPES)

    def sig(report):
        return sorted(
            (r.focusNode(), r.sourceConstraintComponent()) for r in report.results()
        )

    assert sig(got_ttl) == sig(got_ld)
    assert {f for f, _c in sig(got_ld)} == {"http://data.example/people/bob"}
    assert len(sig(got_ld)) == 1


def test_jsonld_base_scoping_and_null(spark):
    # local-context @base restores on exit; "@base": null clears it so
    # relative refs pass through unchanged again
    from shacl_js_spark.jsonld import parse_jsonld

    doc = """
    [
      {"@context": {"@base": "http://b.example/dir/"},
       "@id": "x", "@type": "http://t.example/T"},
      {"@context": [{"@base": "http://b.example/dir/"}, {"@base": null}],
       "@id": "still-relative", "@type": "http://t.example/T"}
    ]
    """
    trips, _ = parse_jsonld(doc)
    subjects = {s.value for (s, _p, _o) in trips}
    assert subjects == {"http://b.example/dir/x", "still-relative"}


def test_resolve_iri_non_hierarchical_schemes():
    # RFC 3986 resolution is scheme-independent; urljoin alone silently
    # drops urn:/tag:/did: bases (code-review r5) — the manual §5.3 branch
    # must merge them, and keep stdlib parity for hierarchical bases
    from shacl_js_spark.jsonld import resolve_iri

    assert resolve_iri("tag:example,2024:", "x") == "tag:x"
    assert resolve_iri("urn:isbn:0451450523", "x") == "urn:x"
    assert resolve_iri("did:ex:123/path/", "y") == "did:ex:123/path/y"
    assert resolve_iri("urn:x:y/z/", "../w") == "urn:x:y/w"
    assert resolve_iri("tag:base:", "#frag") == "tag:base:#frag"
    assert resolve_iri("urn:a:b", "urn:c:d") == "urn:c:d"  # absolute ref wins
    assert resolve_iri("urn:a/b?q=1", "") == "urn:a/b?q=1"
    assert resolve_iri("urn:a/b", "?q=2") == "urn:a/b?q=2"
    assert resolve_iri("http://a/b/c", "../d") == "http://a/d"  # stdlib path
    assert resolve_iri("people/", "alice") == "people/alice"  # relative base
    assert resolve_iri("", "x") == "x"


def test_jsonld_urn_base_resolves_relative_ids(spark):
    # a non-hierarchical @base (urn:) must still base-resolve relative @ids
    from shacl_js_spark.jsonld import parse_jsonld

    doc = """
    {"@context": {"@base": "urn:corp:records/", "@vocab": "http://v/"},
     "@id": "r1", "@type": "Record", "next": {"@id": "r2"}}
    """
    trips, _ = parse_jsonld(doc)
    by_pred = {p.value: (s.value, o.value) for (s, p, o) in trips}
    assert by_pred["http://v/next"] == ("urn:corp:records/r1", "urn:corp:records/r2")


def test_jsonld_prefix_map_skips_keyword_aliases(spark):
    # a term aliased to a keyword ("address": "@nest") is syntax, not a
    # namespace prefix — prefix_map must not emit address -> "@nest"
    from shacl_js_spark.jsonld import parse_jsonld

    doc = """
    {"@context": {"ex": "http://e/", "address": "@nest"},
     "@id": "ex:a", "address": {"ex:p": 1}}
    """
    _, pmap = parse_jsonld(doc)
    assert pmap == {"ex": "http://e/"}


def test_cross_shape_fusion_parity(spark):
    # report_df() groups row-wise and count checks from shapes sharing a
    # value (or count) frame into one fused pass per frame; the emitted row
    # MULTISET must be exactly the per-constraint verdicts below, derived by
    # hand from dash.js semantics, and equal to the per-shape plans
    from shacl_js_spark.graph import turtle_df
    from shacl_js_spark.localgraph import LocalGraph
    from shacl_js_spark.validation import RECORD_COLS, Engine

    data = turtle_df(spark, """
    @prefix ex: <http://e/> .
    @prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
    ex:a a ex:T ; ex:p "abc" ; ex:p "Xyz" ; ex:q 5 .
    ex:b a ex:T ; ex:p 12 ; ex:q "no"@en .
    ex:c a ex:T ; ex:q 3 .
    """)
    shapes_ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://e/> .
    @prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
    ex:S1 a sh:NodeShape ; sh:targetClass ex:T ;
      sh:property [ sh:path ex:p ; sh:datatype xsd:string ; sh:minLength 2 ] .
    ex:S2 a sh:NodeShape ; sh:targetClass ex:T ;
      sh:property [ sh:path ex:p ; sh:pattern "^[a-z]" ; sh:message "lower!" ] .
    ex:S3 a sh:NodeShape ; sh:targetClass ex:T ;
      sh:property [ sh:path ex:q ; sh:maxInclusive 4 ; sh:severity sh:Warning ] .
    ex:S4 a sh:NodeShape ; sh:targetClass ex:T ;
      sh:property [ sh:path ex:p ; sh:minCount 1 ] .
    ex:S5 a sh:NodeShape ; sh:targetClass ex:T ; sh:nodeKind sh:IRI .
    ex:S6 a sh:NodeShape ; sh:targetClass ex:T ;
      sh:property [ sh:path ex:p ; sh:maxCount 1 ; sh:message "too many p" ] .
    ex:S7 a sh:NodeShape ; sh:targetClass ex:T ;
      sh:property [ sh:path ex:q ; sh:minCount 2 ; sh:severity sh:Info ] .
    """
    shapes = LocalGraph.from_turtle(shapes_ttl)
    P, Q = "<http://e/p>", "<http://e/q>"
    # (focus, value, path, component, severity, message); count rows carry
    # no value.  S1 minLength 2 passes everywhere ("12" has 2 characters),
    # S5 nodeKind IRI passes (every focus is an IRI), ex:c q 3 is <= 4.
    expected = sorted([
        ("b", "12", P, "Datatype", "Violation", "Value does not have datatype xsd:string"),
        ("a", "Xyz", P, "Pattern", "Violation", "lower!"),
        ("b", "12", P, "Pattern", "Violation", "lower!"),
        ("a", "5", Q, "MaxInclusive", "Warning", "Value is not <= 4"),
        ("b", "no", Q, "MaxInclusive", "Warning", "Value is not <= 4"),  # NaN fails
        ("c", None, P, "MinCount", "Violation", "Less than 1 values"),
        ("a", None, P, "MaxCount", "Violation", "too many p"),
        ("a", None, Q, "MinCount", "Info", "Less than 2 values"),
        ("b", None, Q, "MinCount", "Info", "Less than 2 values"),
        ("c", None, Q, "MinCount", "Info", "Less than 2 values"),
    ], key=repr)

    def rows(df):
        return sorted((
            (r["focus_v"].rsplit("/", 1)[1], r["value_v"], r["path"],
             r["component"].rsplit("#", 1)[1].replace("ConstraintComponent", ""),
             r["severity"].rsplit("#", 1)[1], r["message"])
            for r in df.collect()
        ), key=repr)

    eng = Engine(spark, data, shapes)
    report = eng.report_df()
    got = rows(report)
    assert got == expected
    # every row names the property shape that produced it, never the parent
    assert all(r["source_shape"].startswith("_:") for r in report.collect())
    # one fused pass per (frame, kind) group: values(T, p), values(T, q),
    # values(T, no path), counts(T, p) and counts(T, q)
    plan = report._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Generate ") == 5, plan
    # groups belong to one report: a second report on the SAME engine
    # (warm memos) emits the same rows, none carried over
    assert rows(eng.report_df()) == expected
    eng.release()

    # planning each shape on its own (one check list per shape) emits the
    # same multiset
    walk = Engine(spark, data, shapes)
    out = None
    for shape in walk.ir.shapes_with_target():
        v = walk.shape_violations(shape, walk.targets_frame(shape)).select(*RECORD_COLS)
        out = v if out is None else out.unionByName(v)
    assert rows(out) == expected
    walk.release()

    # the count groups fired: S4 minCount (ex:c has no ex:p), S6 maxCount with
    # a shape-level message (ex:a has two ex:p), S7 minCount 2 at Info
    msgs = {r[-1] for r in got}
    assert "too many p" in msgs
    assert any("Less than 1 value" in (m or "") for m in msgs)


def test_single_check_filter_pushed_below_path_join(spark):
    # a one-shape, one-constraint report still goes through the fused
    # evaluator; its any-fail filter must plan as the plain pushed-down
    # Filter on the triple side of the path join, so only failing rows are
    # joined and exploded (this is why single-shape reports need no bypass)
    from shacl_js_spark.graph import turtle_df
    from shacl_js_spark.localgraph import LocalGraph
    from shacl_js_spark.validation import Engine

    data = turtle_df(spark, """
    @prefix ex: <http://e/> .
    ex:a a ex:T ; ex:p "abcdef" .
    ex:b a ex:T ; ex:p "ab" .
    """)
    shapes = LocalGraph.from_turtle("""
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://e/> .
    ex:S a sh:NodeShape ; sh:targetClass ex:T ;
      sh:property [ sh:path ex:p ; sh:maxLength 3 ] .
    """)
    report = Engine(spark, data, shapes).report_df()
    plan = report._jdf.queryExecution().optimizedPlan().toString().splitlines()
    joins = [i for i, line in enumerate(plan) if "Join " in line]
    fails = [i for i, line in enumerate(plan) if "Filter " in line and "length(" in line]
    assert len(joins) == 1 and fails, "\n".join(plan)
    # tree strings list children below their parent: the fail predicate
    # sits under the join, on the raw triple columns
    assert all(i > joins[0] for i in fails), "\n".join(plan)
    assert all("o_v" in plan[i] for i in fails), "\n".join(plan)
    assert [r["focus_v"] for r in report.collect()] == ["http://e/a"]


def test_class_fail_frame_memoized_across_shapes(spark):
    # N shapes asserting the same sh:class over the same (targets, path)
    # share ONE anti-join fail frame, never cached; release() drops it
    from shacl_js_spark.graph import turtle_df
    from shacl_js_spark.localgraph import LocalGraph
    from shacl_js_spark.validation import Engine

    data = turtle_df(spark, """
    @prefix ex: <http://e/> .
    ex:d1 a ex:Doc ; ex:ref ex:e1 ; ex:ref ex:x .
    ex:d2 a ex:Doc ; ex:ref ex:e1 .
    ex:e1 a ex:Entity .
    """)
    shapes = LocalGraph.from_turtle("""
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://e/> .
    ex:A a sh:NodeShape ; sh:targetClass ex:Doc ;
      sh:property [ sh:path ex:ref ; sh:class ex:Entity ] .
    ex:B a sh:NodeShape ; sh:targetClass ex:Doc ;
      sh:property [ sh:path ex:ref ; sh:class ex:Entity ;
                    sh:severity sh:Warning ] .
    """)
    eng = Engine(spark, data, shapes)
    rows = eng.report_df().collect()
    # both shapes flag ex:x — one at Violation, one at Warning
    assert sorted((r["value_v"], r["severity"]) for r in rows) == [
        ("http://e/x", "http://www.w3.org/ns/shacl#Violation"),
        ("http://e/x", "http://www.w3.org/ns/shacl#Warning"),
    ]
    fails = [df for key, df in eng._frames.items() if key[0] == "class_fail"]
    assert len(fails) == 1  # one (value frame, class) entry
    assert not fails[0].is_cached
    eng.release()
    assert not eng._frames


def test_class_closure_in_list_sorted(spark):
    # the subclass-closure IN list is sorted, so the plan text is the same
    # in every process (a set iterates in string-hash order, which varies)
    import re

    from shacl_js_spark.graph import turtle_df
    from shacl_js_spark.localgraph import LocalGraph
    from shacl_js_spark.terms import iri
    from shacl_js_spark.validation import Engine

    data = turtle_df(spark, """
    @prefix ex: <http://e/> .
    @prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
    ex:D rdfs:subClassOf ex:A . ex:B rdfs:subClassOf ex:A .
    ex:E rdfs:subClassOf ex:B . ex:C rdfs:subClassOf ex:A .
    ex:x a ex:E .
    """)
    eng = Engine(spark, data, LocalGraph.from_turtle("@prefix ex: <http://e/> ."))
    df = eng._typed(iri("http://e/A"))
    plan = df._jdf.queryExecution().analyzed().toString()
    listed = re.search(r" IN \(([^)]*)\)", plan).group(1).split(",")
    assert listed == sorted(listed) and len(listed) == 5, plan
    assert [r["s"] for r in df.collect()] == ["<http://e/x>"]


def test_nested_property_depth3_and_cycle(spark):
    # three sh:property levels: each parent focus re-validates the shared
    # value node (validation-engine.js:224-232), so the two targets a, b
    # reaching ex:m each report the failing grandchild values once
    import pytest

    from shacl_js_spark.graph import turtle_df
    from shacl_js_spark.localgraph import LocalGraph
    from shacl_js_spark.terms import iri
    from shacl_js_spark.validation import Engine, ShaclValidationError

    data = turtle_df(spark, """
    @prefix ex: <http://e/> .
    ex:a a ex:T ; ex:p ex:m .
    ex:b a ex:T ; ex:p ex:m .
    ex:m ex:q ex:n1 , ex:n2 .
    ex:n1 ex:r "xy" .
    ex:n2 ex:r "xy" , "xyz" .
    """)
    prefix = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://e/> .
    """
    shapes = LocalGraph.from_turtle(prefix + """
    ex:S a sh:NodeShape ; sh:targetClass ex:T ;
      sh:property [ sh:path ex:p ;
        sh:property [ sh:path ex:q ;
          sh:property [ sh:path ex:r ; sh:minLength 3 ] ] ] .
    """)
    eng = Engine(spark, data, shapes)
    got = sorted(
        (r["focus_v"], r["value_v"]) for r in eng.report_df().collect()
    )
    n1, n2 = "http://e/n1", "http://e/n2"
    assert got == [(n1, "xy"), (n1, "xy"), (n2, "xy"), (n2, "xy")]
    # the bubble column lifts every row to the target focus it came from
    shape = eng.ir.get_shape(iri("http://e/S"))
    bubbles = sorted(
        r["bubble"] for r in eng.shape_violations(shape, eng.targets_frame(shape)).collect()
    )
    assert bubbles == ["<http://e/a>"] * 2 + ["<http://e/b>"] * 2

    cyclic = LocalGraph.from_turtle(prefix + """
    ex:S a sh:NodeShape ; sh:targetClass ex:T ; sh:property ex:P .
    ex:P sh:path ex:knows ; sh:property ex:P .
    """)
    with pytest.raises(ShaclValidationError, match="max_shape_recursion=4"):
        Engine(spark, data, cyclic, max_shape_recursion=4).report_df()


def test_nested_conformance_components(spark):
    # x1 conforms to P only, x2 to P and Q, x3 to R only; verdicts derived
    # by hand from dash.js (and/or/not/xone/node: 17-25, 276-303, 426-435;
    # qualified*: 327-363)
    from shacl_js_spark.graph import turtle_df
    from shacl_js_spark.localgraph import LocalGraph
    from shacl_js_spark.validation import Engine

    data = turtle_df(spark, """
    @prefix ex: <http://e/> .
    ex:a a ex:T ; ex:v ex:x1 , ex:x2 , ex:x3 .
    ex:b a ex:T ; ex:v ex:x1 .
    ex:x1 ex:p 1 .
    ex:x2 ex:p 1 ; ex:q 1 .
    ex:x3 ex:r 1 .
    """)
    shapes = LocalGraph.from_turtle("""
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://e/> .
    ex:P sh:property [ sh:path ex:p ; sh:minCount 1 ] .
    ex:Q sh:property [ sh:path ex:q ; sh:minCount 1 ] .
    ex:R sh:property [ sh:path ex:r ; sh:minCount 1 ] .
    ex:S a sh:NodeShape ; sh:targetClass ex:T ; sh:property
      ex:And , ex:Or , ex:Not , ex:Xone , ex:XoneDup , ex:Node , ex:OrEmpty ,
      ex:QP , ex:QQ .
    ex:And sh:path ex:v ; sh:and ( ex:P ex:Q ) .
    ex:Or sh:path ex:v ; sh:or ( ex:P ex:Q ) .
    ex:Not sh:path ex:v ; sh:not ex:P .
    ex:Xone sh:path ex:v ; sh:xone ( ex:P ex:Q ex:R ) .
    ex:XoneDup sh:path ex:v ; sh:xone ( ex:P ex:P ) .
    ex:Node sh:path ex:v ; sh:node ex:Q .
    ex:OrEmpty sh:path ex:v ; sh:or () .
    ex:QP sh:path ex:v ; sh:qualifiedValueShape ex:P ; sh:qualifiedMinCount 2 ;
      sh:qualifiedValueShapesDisjoint true .
    ex:QQ sh:path ex:v ; sh:qualifiedValueShape ex:Q ; sh:qualifiedMinCount 1 ;
      sh:qualifiedValueShapesDisjoint true .
    """)

    def name(enc):
        return enc.rsplit("/", 1)[1].rstrip(">") if enc else ""

    got = sorted(
        (name(r["focus"]), name(r["source_shape"]), name(r["value"]))
        for r in Engine(spark, data, shapes).report_df().collect()
    )
    expected = [
        ("a", "And", "x1"), ("a", "And", "x3"), ("b", "And", "x1"),
        ("a", "Or", "x3"),
        ("a", "Not", "x1"), ("a", "Not", "x2"), ("b", "Not", "x1"),
        ("a", "Xone", "x2"),
        # a duplicated member is never "exactly one"
        ("a", "XoneDup", "x1"), ("a", "XoneDup", "x2"), ("a", "XoneDup", "x3"),
        ("b", "XoneDup", "x1"),
        ("a", "Node", "x1"), ("a", "Node", "x3"), ("b", "Node", "x1"),
        # no member can accept a value
        ("a", "OrEmpty", "x1"), ("a", "OrEmpty", "x2"), ("a", "OrEmpty", "x3"),
        ("b", "OrEmpty", "x1"),
        # disjoint: x2 conforms to both P and Q, so it counts for neither —
        # a keeps 1 of 2 P-values and 0 of 1 Q-values
        ("a", "QP", ""), ("a", "QQ", ""), ("b", "QP", ""), ("b", "QQ", ""),
    ]
    assert got == sorted(expected)


def test_count_aggregates_triple_side_below_target_join(spark):
    # a minCount over a simple predicate counts values by aggregating the
    # filtered triple side per subject, then left-joins the targets once:
    # the optimized plan has no path (value) join, only targets ⟕ counts
    from shacl_js_spark.graph import turtle_df
    from shacl_js_spark.localgraph import LocalGraph
    from shacl_js_spark.validation import Engine

    data = turtle_df(spark, """
    @prefix ex: <http://e/> .
    ex:a a ex:T ; ex:p "x" .
    ex:b a ex:T .
    """)
    shapes = LocalGraph.from_turtle("""
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://e/> .
    ex:S a sh:NodeShape ; sh:targetClass ex:T ;
      sh:property [ sh:path ex:p ; sh:minCount 1 ] .
    """)
    report = Engine(spark, data, shapes).report_df()
    plan = report._jdf.queryExecution().optimizedPlan().toString().splitlines()
    joins = [line for line in plan if "Join " in line]
    assert len(joins) == 1 and "LeftOuter" in joins[0], "\n".join(plan)
    agg = [i for i, line in enumerate(plan) if "Aggregate " in line and "_cnt" in line]
    assert len(agg) == 1, "\n".join(plan)
    # tree strings list children below their parent: the count Aggregate's
    # subtree is the (s)-projection of the ex:p-filtered triple scan
    below = [line.lstrip(" :+-") for line in plan[agg[0] + 1:agg[0] + 4]]
    assert below[0].startswith("Project "), "\n".join(plan)
    assert below[1].startswith("Filter ") and "<http://e/p>" in below[1], "\n".join(plan)
    assert below[2].startswith("LogicalRDD "), "\n".join(plan)
    assert [r["focus_v"] for r in report.collect()] == ["http://e/b"]


def test_default_report_plan_reads_no_cache(spark):
    # the engine never persists: a default report's optimized plan reads
    # the triples and nothing cached, for keyed frames (targets, values,
    # candidates, counts, class_fail) and for the un-keyed value frame of a
    # multi-constraint sh:node shape evaluated over a recursion-level focus
    from shacl_js_spark.graph import turtle_df
    from shacl_js_spark.localgraph import LocalGraph
    from shacl_js_spark.validation import Engine

    data = turtle_df(spark, """
    @prefix ex: <http://e/> .
    ex:d1 a ex:Doc ; ex:ref ex:e1 , ex:x ; ex:title "a" .
    ex:d2 a ex:Doc ; ex:ref ex:e1 .
    ex:d3 a ex:Doc .
    ex:e1 a ex:Entity ; ex:label "e" .
    """)
    shapes = LocalGraph.from_turtle("""
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://e/> .
    ex:A a sh:NodeShape ; sh:targetClass ex:Doc ;
      sh:property [ sh:path ex:ref ; sh:class ex:Entity ; sh:minCount 1 ] .
    ex:B a sh:NodeShape ; sh:targetClass ex:Doc ;
      sh:property [ sh:path ex:ref ; sh:maxCount 1 ; sh:node ex:Labelled ] .
    ex:Labelled a sh:NodeShape ;
      sh:property [ sh:path ex:label ; sh:minCount 1 ; sh:maxLength 5 ] .
    """)
    eng = Engine(spark, data, shapes)
    report = eng.report_df()
    plan = report._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan, plan
    assert not any(df.is_cached for df in eng._frames.values())
    # d1: ex:x fails sh:class and sh:node (no label), and d1 has 2 refs;
    # d3 has no ref
    got = sorted(
        (r["focus_v"].rsplit("/", 1)[1], r["component"].rsplit("#", 1)[1])
        for r in report.collect()
    )
    assert got == [
        ("d1", "ClassConstraintComponent"),
        ("d1", "MaxCountConstraintComponent"),
        ("d1", "NodeConstraintComponent"),
        ("d3", "MinCountConstraintComponent"),
    ]


def test_resolve_iri_fully_collapsed_path_keeps_slash():
    # RFC 3986 rule C leaves the slash a trailing '..' collapsed even when
    # the whole path collapses (r5 advice): 'a/..' -> '/', not ''
    from shacl_js_spark.jsonld import resolve_iri

    assert resolve_iri("urn:a/b", "..") == "urn:/"
    assert resolve_iri("urn:a/b", ".") == "urn:a/"  # '.' keeps the directory
    # bare base path with no slash: ref replaces it, no phantom slash
    assert resolve_iri("urn:a", "x") == "urn:x"
