"""Self-describing golden-fixture harness.

Behavioral reference: /root/reference/test/integration_tests.js — each fixture
TTL is simultaneously data graph, shapes graph, and expected output
(dash:GraphValidationTestCase / dash:expectedResult).  The file validates
against itself; comparison is conforms + result count + per-result
(severity, sourceShape with blank-equivalence, sourceConstraintComponent)
— we additionally match focusNode (stricter; the reference commented it out
at integration_tests.js:106).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from .graph import triples_df
from .localgraph import LocalGraph
from .report import ValidationReport
from .shapes import SH
from .terms import NAMESPACES, iri
from .turtle import RDF_TYPE, parse_turtle
from .validation import Engine

DASH = NAMESPACES["dash"]


@dataclass(frozen=True)
class ExpectedResult:
    focus: str       # value ('_:id' for bnodes)
    focus_blank: bool
    severity: str    # local name
    component: str   # IRI
    shape: str       # value
    shape_blank: bool


@dataclass
class ExpectedReport:
    conforms: bool
    results: list


def _is_blank(v: str | None) -> bool:
    # ref: integration_tests.js:80-82
    return v is not None and (v.startswith("_:") or "_g_" in v)


def extract_expected(g: LocalGraph) -> ExpectedReport:
    report_nodes = [
        s for (s, _, _) in g.find(None, iri(RDF_TYPE), iri(SH + "ValidationReport"))
    ]
    conforms = False
    results: list[ExpectedResult] = []
    for rn in report_nodes:
        c = g.object(rn, iri(SH + "conforms"))
        conforms = c is not None and c.value == "true"
        for res in g.objects(rn, iri(SH + "result")):
            focus = g.object(res, iri(SH + "focusNode"))
            severity = g.object(res, iri(SH + "resultSeverity"))
            component = g.object(res, iri(SH + "sourceConstraintComponent"))
            shape = g.object(res, iri(SH + "sourceShape"))
            if None in (focus, severity, component, shape):
                continue
            results.append(
                ExpectedResult(
                    focus=focus.value,
                    focus_blank=focus.is_bnode,
                    severity=severity.value.split("#")[1],
                    component=component.value,
                    shape=shape.value,
                    shape_blank=shape.is_bnode,
                )
            )
    return ExpectedReport(conforms=conforms, results=results)


def run_fixture(spark: SparkSession, text: str, registry=None) -> tuple[ValidationReport, ExpectedReport]:
    trips, prefixes = parse_turtle(text)
    local = LocalGraph(trips, prefixes)
    data = triples_df(spark, trips)
    # the whole graph is already on the driver: hand the engine the
    # rdfs:subClassOf edges so it skips the closure collect action
    sub: dict = {}
    from .localgraph import RDFS_SUBCLASSOF

    for (s, p, o) in trips:
        if p.is_iri and p.value == RDFS_SUBCLASSOF:
            sub.setdefault(o.encoded(), set()).add(s.encoded())
    engine = Engine(spark, data, local, registry=registry, subclass_edges=sub)
    report = engine.validate()
    return report, extract_expected(local)


def compare_reports(report: ValidationReport, expected: ExpectedReport) -> list[str]:
    """Returns a list of mismatch descriptions (empty == pass)."""
    errors: list[str] = []
    if report.conforms() != expected.conforms:
        errors.append(f"conforms: got {report.conforms()}, expected {expected.conforms}")
    actual = report.results()
    if len(actual) != len(expected.results):
        errors.append(
            f"result count: got {len(actual)}, expected {len(expected.results)}\n"
            + "\n".join(
                f"  got: focus={r.focusNode()} sev={r.severity_local()} comp={r.component.split('#')[-1]} shape={r.sourceShape()}"
                for r in actual
            )
            + "\n"
            + "\n".join(
                f"  exp: focus={e.focus} sev={e.severity} comp={e.component.split('#')[-1]} shape={e.shape}"
                for e in expected.results
            )
        )
    remaining = list(expected.results)
    for r in actual:
        match_idx = None
        for i, e in enumerate(remaining):
            focus_ok = (
                (_is_blank(r.focusNode()) and e.focus_blank)
                or r.focusNode() == e.focus
            )
            shape_ok = (
                (_is_blank(r.sourceShape()) and e.shape_blank)
                or r.sourceShape() == e.shape
            )
            if (
                focus_ok
                and shape_ok
                and r.severity_local() == e.severity
                and r.component == e.component
            ):
                match_idx = i
                break
        if match_idx is None:
            errors.append(
                f"unmatched result: focus={r.focusNode()} sev={r.severity_local()} "
                f"comp={r.component} shape={r.sourceShape()}"
            )
        else:
            remaining.pop(match_idx)
    return errors
