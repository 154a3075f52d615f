"""ValidationReport / ValidationResult.

Behavioral reference: /root/reference/src/validation-report.js:22-89 — the
report exposes conforms() and per-result accessors focusNode/severity/
sourceShape/sourceConstraintComponent/path/message/value.  Severity is
reported as the local name after '#' (validation-report.js + the test
harness's ExpectedValidationResult.severity()).
"""

from __future__ import annotations

from dataclasses import dataclass

from .terms import Term


@dataclass
class ValidationResult:
    focus: Term | None
    value: Term | None
    path: Term | None
    component: str        # constraint component IRI
    severity: str         # severity IRI
    source_shape: Term | None
    message: str | None

    def focusNode(self) -> str | None:
        return self.focus.value if self.focus else None

    def severity_local(self) -> str | None:
        return self.severity.split("#")[1] if self.severity and "#" in self.severity else self.severity

    def sourceConstraintComponent(self) -> str:
        return self.component

    def sourceShape(self) -> str | None:
        return self.source_shape.value if self.source_shape else None

    def resultPath(self) -> str | None:
        return self.path.value if self.path else None

    #: separator joining multiple sh:message values (Engine.MESSAGE_SEP)
    MESSAGE_SEP = "\x1e"

    def resultMessage(self) -> str | None:
        return self.messages()[0] if self.message else None

    def messages(self) -> list[str]:
        """All sh:resultMessage values (the reference emits one triple per
        shape-level sh:message, validation-engine.js:149-173)."""
        return self.message.split(self.MESSAGE_SEP) if self.message else []


class ValidationReport:
    def __init__(self, results: list[ValidationResult], truncated: bool = False):
        self._results = results
        #: True when the driver-side result list was capped (Engine
        #: max_driver_results); the full set is available via report_df()
        self.truncated = truncated

    def conforms(self) -> bool:
        return len(self._results) == 0

    def results(self) -> list[ValidationResult]:
        return self._results

    def to_jsonld(self) -> dict:
        """Flattened JSON-LD-style report (ref: showValidationResults +
        jsonld.flatten, index.js:175-187)."""
        sh = "http://www.w3.org/ns/shacl#"
        nodes = []
        for i, r in enumerate(self._results):
            node = {
                "@id": f"_:result{i}",
                "@type": sh + "ValidationResult",
                sh + "focusNode": r.focusNode(),
                sh + "resultSeverity": {"@id": r.severity},
                sh + "sourceConstraintComponent": {"@id": r.component},
                sh + "sourceShape": r.sourceShape(),
            }
            if r.path is not None:
                node[sh + "resultPath"] = {"@id": r.path.value}
            if r.value is not None:
                node[sh + "value"] = r.value.value
            if r.message:
                msgs = r.messages()
                node[sh + "resultMessage"] = msgs[0] if len(msgs) == 1 else msgs
            nodes.append(node)
        return {
            "@graph": [
                {
                    "@id": "_:report",
                    "@type": sh + "ValidationReport",
                    sh + "conforms": self.conforms(),
                    sh + "result": [{"@id": n["@id"]} for n in nodes],
                }
            ]
            + nodes
        }

    def __repr__(self) -> str:
        return f"ValidationReport(conforms={self.conforms()}, results={len(self._results)})"


def report_ntriples(spark, report_df) -> list:
    """Report graph serialized to N-Triples lines (ref: showValidationResults
    serializes the report graph to N-Triples, index.js:168-175)."""
    from .graph import ntriples_lines

    return [r["line"] for r in ntriples_lines(report_triples_df(spark, report_df)).collect()]


def report_triples_df(spark, report_df):
    """Materialize a report DataFrame as RDF triples (TRIPLE_SCHEMA) — the
    distributed analog of the reference's report graph construction
    (showValidationResults, index.js:144-189): a sh:ValidationReport header
    node linking one sh:result per violation row (link deduplicated per
    result node, ref index.js:157-164)."""
    from pyspark.sql import functions as F

    from .graph import iri_cols, literal_cols, subject_decomposed, term_cols, triple_cols
    from .terms import XSD_BOOLEAN

    SH = "http://www.w3.org/ns/shacl#"
    RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    G = "urn:x-shacl:reportGraph"

    # result bnode ids are a CONTENT hash of the identifying fields, so the
    # report graph is byte-stable across runs/retries/partitionings (a
    # monotonically_increasing_id here was plan-dependent).  Rows identical
    # in every identifying field denote the same violation — RDF set
    # semantics would collapse their triples anyway — so they share one
    # result node (the reference dedups the sh:result link the same way,
    # index.js:157-164).
    _ID_FIELDS = ["focus", "component", "path", "value", "message", "source_shape", "severity"]
    rid_src = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in _ID_FIELDS]
    )
    rows = (
        report_df.dropDuplicates(_ID_FIELDS)
        .withColumn("_rid", F.concat(F.lit("_:r"), F.md5(rid_src)))
    )

    def trip(df, s_enc, p_iri, o_cols):
        return df.select(*triple_cols(s_enc, p_iri, o_cols, G))

    # path and source_shape hold encoded IRIs or bnodes; focus and value are
    # whole term groups
    rid = F.col("_rid")
    parts = [
        trip(rows, rid, RDF_TYPE, iri_cols(SH + "ValidationResult")),
        trip(rows, rid, SH + "focusNode", [F.col(c) for c in term_cols("focus")]),
        trip(rows, rid, SH + "resultSeverity", iri_cols(F.col("severity"))),
        trip(rows, rid, SH + "sourceConstraintComponent", iri_cols(F.col("component"))),
        trip(rows, rid, SH + "sourceShape", subject_decomposed("source_shape")),
        trip(rows, F.lit("_:report"), SH + "result", subject_decomposed("_rid")),
        trip(rows.filter(F.col("path").isNotNull()), rid, SH + "resultPath",
             subject_decomposed("path")),
        trip(rows.filter(F.col("value").isNotNull()), rid, SH + "value",
             [F.col(c) for c in term_cols("value")]),
    ]
    # one sh:resultMessage triple per sh:message value (MESSAGE_SEP-joined
    # in the message column; ref validation-engine.js:149-173)
    msgs = rows.filter(F.col("message").isNotNull()).select(
        rid, F.explode(F.split(F.col("message"), ValidationResult.MESSAGE_SEP)).alias("_m")
    )
    parts.append(trip(msgs, rid, SH + "resultMessage", literal_cols(F.col("_m"))))
    # header rows: conforms is false iff any result row exists, read from an
    # aggregate so no action runs here
    header = rows.groupBy().agg(F.count("*").alias("_n"))
    conforms = F.when(F.col("_n") > 0, F.lit("false")).otherwise(F.lit("true"))
    parts.append(trip(header, F.lit("_:report"), SH + "conforms", literal_cols(conforms, XSD_BOOLEAN)))
    parts.append(trip(header, F.lit("_:report"), RDF_TYPE, iri_cols(SH + "ValidationReport")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
