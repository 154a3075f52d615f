"""The compiled Program of a shapes graph (program.py): its frames, groups
and member units, pinned without a Spark session, and the report plans the
Engine builds from it, pinned by their operator counts."""

import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from shacl_js_spark.localgraph import LocalGraph
from shacl_js_spark.pipeline.materialize import KG_SHAPES_TTL
from shacl_js_spark.program import Program, ShaclValidationError
from shacl_js_spark.shapes import ShapesIR
from shacl_js_spark.terms import iri
from shacl_js_spark.validation import _KINDS
from test_error_paths import RECURSIVE_PERSON_TTL

GATE_PREFIX = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://ex/> .
"""

# the shapes of the gate queries shacl_xone and shacl_property_nested
# (__spark_entry__.py)
XONE_TTL = GATE_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:segment ;
    sh:xone ( [ sh:pattern "^[A-F]" ] [ sh:minLength 9 ] ) ] .
"""
NESTED_TTL = GATE_PREFIX + """
ex:OrderShape a sh:NodeShape ; sh:targetClass ex:Order ;
  sh:property [ sh:path ex:cust ; sh:node ex:CustOK ] .
ex:CustOK a sh:NodeShape ;
  sh:property [ sh:path ex:segment ; sh:minLength 9 ] .
"""


def _program(ttl: str, **kw) -> Program:
    return Program(ShapesIR(LocalGraph.from_turtle(ttl)), _KINDS, **kw)


def test_program_imports_no_pyspark():
    # the package __init__ exports the Spark engine, so the module is
    # imported under a bare package object: what loads is program.py and
    # its own imports
    pkg = Path(__file__).resolve().parents[1] / "shacl_js_spark"
    code = textwrap.dedent(f"""
        import sys, types
        pkg = types.ModuleType("shacl_js_spark")
        pkg.__path__ = [{str(pkg)!r}]
        sys.modules["shacl_js_spark"] = pkg
        import shacl_js_spark.program
        loaded = sorted(m for m in sys.modules if m.split(".")[0] in ("pyspark", "py4j"))
        print("LOADED", loaded)
    """)
    res = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr
    assert "LOADED []" in res.stdout, res.stdout


def test_describe_kg_shapes():
    # one targets frame per class, which the node shapes' sh:property
    # children scan directly; minCount and maxCount over one path share one
    # count group; sh:class scans its class_fail frame.  The read set: the
    # targets' rdf:type, each path predicate at the focus, and sh:class's
    # rdf:type at the value nodes, walked back over ^ex:mentions
    assert _program(KG_SHAPES_TTL).describe() == textwrap.dedent("""\
        frames:
          f0 = targets(ex:Entity, -, -, -)
          f1 = values(f0, rdfs:label)
          f2 = counts(f0, rdfs:label)
          f3 = values(f0, ex:coOccursWith)
          f4 = targets(ex:Document, -, -, -)
          f5 = values(f4, ex:language)
          f6 = counts(f4, ex:language)
          f7 = values(f4, ex:hasMedia)
          f8 = values(f4, ex:mentions)
          f9 = class_fail(f8, ex:Entity)
        report:
          count f2
            ex:EntityShape > _:b1: sh:MinCount(minCount=1)
          row f1
            ex:EntityShape > _:b1: sh:Datatype(datatype=xsd:string)
          row f3
            ex:EntityShape > _:b2: sh:NodeKind(nodeKind=sh:IRI)
          count f6
            ex:DocumentShape > _:b3: sh:MinCount(minCount=1)
            ex:DocumentShape > _:b3: sh:MaxCount(maxCount=1)
          row f7
            ex:DocumentShape > _:b5: sh:NodeKind(nodeKind=sh:IRI)
          other f4 f9
            ex:DocumentShape > _:b4: sh:Class(class=ex:Entity)
        reads:
          <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> at s
          rdfs:label at s
          ex:coOccursWith at s
          ex:language at s
          ex:mentions at s
          <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> at s <- ^ex:mentions
          ex:hasMedia at s""")


def test_describe_recursive_person():
    # the recursive sh:node member is one unit over the root frame, the
    # same unit at every recursion level; it has no bounded read set
    assert _program(RECURSIVE_PERSON_TTL).describe() == textwrap.dedent("""\
        frames:
          f0 = targets(ex:Person, -, -, -)
          f1 = values(f0, ex:name)
          f2 = counts(f0, ex:name)
          f3 = values(f0, ex:knows)
          f4 = root()
          f5 = values(f4, ex:name)
          f6 = counts(f4, ex:name)
          f7 = values(f4, ex:knows)
        report:
          count f2
            ex:PersonShape > _:b1: sh:MinCount(minCount=1)
          other f0 f3
            ex:PersonShape > _:b2: sh:Node(node=ex:PersonShape)
        member ex:PersonShape:
          count f6
            ex:PersonShape > _:b1: sh:MinCount(minCount=1)
          other f4 f7
            ex:PersonShape > _:b2: sh:Node(node=ex:PersonShape)
        reads: unbounded (recursive ex:PersonShape)""")


def test_describe_logical_and_nested_gate_shapes():
    # xone lists two member units; both scan the root frame's values.  A
    # named sh:node member's sh:property scans the root frame itself, so
    # its ex:segment is read at the nodes that ex:cust leads to
    assert _program(XONE_TTL).describe() == textwrap.dedent("""\
        frames:
          f0 = targets(ex:Customer, -, -, -)
          f1 = values(f0, ex:segment)
          f2 = root()
          f3 = values(f2, -)
        report:
          other f0 f1
            ex:CustShape > _:b1: sh:Xone(xone=_:b4)
        member _:b2:
          row f3
            _:b2: sh:Pattern(pattern=^[A-F])
        member _:b3:
          row f3
            _:b3: sh:MinLength(minLength=9)
        reads:
          <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> at s
          ex:segment at s""")
    assert _program(NESTED_TTL).describe() == textwrap.dedent("""\
        frames:
          f0 = targets(ex:Order, -, -, -)
          f1 = values(f0, ex:cust)
          f2 = root()
          f3 = values(f2, ex:segment)
        report:
          other f0 f1
            ex:OrderShape > _:b1: sh:Node(node=ex:CustOK)
        member ex:CustOK:
          row f3
            ex:CustOK > _:b2: sh:MinLength(minLength=9)
        reads:
          <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> at s
          ex:cust at s
          ex:segment at s <- ^ex:cust""")


def test_member_unit_compiles_once_and_guards_its_stack():
    program = _program(RECURSIVE_PERSON_TTL, max_shape_recursion=3)
    person, knows = iri("http://e/PersonShape"), program.report.others[0].shape.node
    level = (person, knows)
    unit = program.member(person, level * 2)
    assert program.member(person, level) is unit
    assert [chk.stack for chk in unit.checks] == [(person, unit.checks[0].shape.node), level]
    with pytest.raises(ShaclValidationError, match="max_shape_recursion=3"):
        program.member(person, level * 3)


# a small KG for KG_SHAPES_TTL: e2 lacks a label and co-occurs with a
# literal, d1 mentions an untyped node, d2 has two languages and a literal
# media value
KG_DATA_TTL = """
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix ex: <http://example.org/kg#> .
ex:e1 a ex:Entity ; rdfs:label "one" ; ex:coOccursWith ex:e2 .
ex:e2 a ex:Entity ; ex:coOccursWith "e1" .
ex:d1 a ex:Document ; ex:language "en" ; ex:mentions ex:e1 , ex:x ; ex:hasMedia ex:m1 .
ex:d2 a ex:Document ; ex:language "en" , "de" ; ex:hasMedia "m2" .
"""


@pytest.mark.parametrize("shapes_ttl, data_ttl, counts", [
    (KG_SHAPES_TTL, KG_DATA_TTL, (13, 7)),
    (RECURSIVE_PERSON_TTL, RECURSIVE_PERSON_TTL, (13, 7)),
])
def test_report_plan_operator_counts(spark, shapes_ttl, data_ttl, counts):
    # exchanges and joins of the report's initial physical plan, before its
    # action (the recursive levels' checkpoint jobs run while it is
    # planned), counted as the oracle gate counts its plan budgets: a
    # planning change that adds a shuffle or a join fails here
    from shacl_js_spark import parse_turtle, triples_df
    from shacl_js_spark.validation import Engine
    from test_gate import plan_operators

    data = triples_df(spark, parse_turtle(data_ttl)[0])
    eng = Engine(spark, data, LocalGraph.from_turtle(shapes_ttl))
    ops = plan_operators(eng.report_df())
    exchanges = sum(n for op, n in ops.items() if op.endswith("Exchange"))
    joins = sum(n for op, n in ops.items() if op.endswith("Join"))
    assert (exchanges, joins) == counts, ops
