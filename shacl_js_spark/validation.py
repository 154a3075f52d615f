"""Set-oriented SHACL validation engine over a distributed triples DataFrame.

Behavioral reference: /root/reference/src/validation-engine.js (result
creation/multiplicity, nested-result suppression) and /root/reference/shared/
dash.js (per-component verdict logic).  Architecture is NOT a port of the
per-node recursive walk.  A report runs in two steps:
  * compile (program.Program, no pyspark): a driver-only walk over the
    ShapesIR flattens every shape-with-target into checks, one per
    constraint with sh:property expanded in place, each naming the frames
    it scans by content keys and the chain of parent (focus -> value)
    mappings that lifts its rows to the target focus;
  * plan (Engine._plan): the Engine builds each named frame once
    (Engine._build), evaluates every group of row-wise and count checks
    sharing (frame, bubble chain) in ONE fused pass (_fused_rows), runs
    every other check as its own lazy plan (_dispatch: joins/aggregations
    over the whole focus-node set at once) and lifts each chain's legs.
    The report is the union of those legs, read by one action.
Nested conformance (sh:and/or/not/xone/node/qualified*) counts, per value
node, the member shapes whose non-conforming node set holds it (_rejected)
— only that count escapes, mirroring the reference's recordErrorsLevel
suppression (validation-engine.js:251-282).

Scale notes (100 TB design):
  * every constraint is built-in Column expressions + equi-joins — no
    per-row Python in the hot path (pandas UDFs only for sh:pattern
    patterns that java.util.regex rejects, and custom registry validators)
  * class/subclass closures are collected once (ontology ≪ data) and applied
    as broadcast joins — the "broadcast-joined type closure" of the north rule
  * focus/value frames key on a single encoded-term string column, so all
    joins are 1-column equi-joins AQE can re-plan (skew → AQE skew join)
  * zeroOrMore/oneOrMore paths run as an iterative fixpoint that cuts
    lineage every round (cut_lineage: a reliable checkpoint when a
    checkpoint dir is set, else localCheckpoint; SURVEY.md §4) and stops
    when that checkpoint job counts an empty frontier (observed_cut)
"""

from __future__ import annotations

import functools
import logging
import re

import pandas as pd  # module-level: pandas_udf type hints resolve via globals

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .graph import (
    cut_lineage,
    js_number,
    local_frame,
    object_decomposed,
    observed_cut,
    subject_decomposed,
    t_triples,
    term_cols,
    terms_frame,
)
from .localgraph import RDFS_SUBCLASSOF, LocalGraph
from .program import ROOT, Check, Program, ShaclValidationError, Unit, node_label
from .shapes import DASH, SH, Constraint, Path, Shape, ShapesIR
from .terms import (
    NAMESPACES,
    TRUE,
    XSD_BOOLEAN,
    XSD_DECIMAL,
    XSD_FLOAT,
    XSD_INTEGER,
    Term,
    decode_term,
    iri,
)
from .report import ValidationReport, ValidationResult

RDF_TYPE_ENC = f"<{NAMESPACES['rdf']}type>"
SUBCLASS_ENC = f"<{RDFS_SUBCLASSOF}>"

VIOL_COLS = (
    ["bubble"]
    + term_cols("focus")
    + term_cols("value")
    + ["path", "component", "severity", "source_shape", "message"]
)
VIOL_SCHEMA = StructType([StructField(c, StringType(), True) for c in VIOL_COLS])
RECORD_COLS = VIOL_COLS[1:]

def _NULL() -> Column:
    return F.lit(None).cast("string")


def _reach(edges: dict[str, set[str]], start: str) -> set[str]:
    """The nodes reachable from `start` over `edges` (node -> next nodes)."""
    out, todo = set(), [start]
    while todo:
        for nxt in edges.get(todo.pop(), ()):
            if nxt not in out:
                out.add(nxt)
                todo.append(nxt)
    return out


def _path_lit(shape: Shape) -> Column:
    return F.lit(shape.path_node.encoded()) if shape.path_node is not None else _NULL()


def _select_viols(df: DataFrame, value_cols: list[Column], *record: Column) -> DataFrame:
    """`df`'s focus, `value_cols` and the (path, component, severity,
    source shape, message) `record` Columns as VIOL_COLS rows."""
    return df.select(
        F.col("focus").alias("bubble"),
        *term_cols("focus"),
        *[c.alias(n) for c, n in zip(value_cols, term_cols("value"))],
        *[c.alias(n) for c, n in zip(record, VIOL_COLS[-5:])],
    )


def _tt_name(kind_col: Column) -> Column:
    """termType name used by compareTerms ordering (rdfquery.js:910)."""
    return (
        F.when(kind_col == "bnode", F.lit("BlankNode"))
        .when(kind_col == "literal", F.lit("Literal"))
        .otherwise(F.lit("NamedNode"))
    )


def _cmp_struct(prefix: str) -> Column:
    """Lexicographic struct implementing compareTerms (rdfquery.js:903-938):
    termType name, value, datatype, language (codepoint order; the JS
    localeCompare divergence is documented in SURVEY.md §1.3)."""
    return F.struct(
        _tt_name(F.col(f"{prefix}_kind")),
        F.col(f"{prefix}_v"),
        F.coalesce(F.col(f"{prefix}_dt"), F.lit("")),
        F.coalesce(F.col(f"{prefix}_lang"), F.lit("")),
    )


def _incomparable(a: str, b: str) -> Column:
    """compareNodes returns null when both literals but datatypes differ
    (index.js:66-76)."""
    return (
        (F.col(f"{a}_kind") == "literal")
        & (F.col(f"{b}_kind") == "literal")
        & (F.coalesce(F.col(f"{a}_dt"), F.lit("")) != F.coalesce(F.col(f"{b}_dt"), F.lit("")))
    )


def _js_regex_to_java(pattern: str, flags: str | None) -> str:
    prefix = ""
    if flags:
        inline = "".join(ch for ch in flags if ch in "ims")
        if inline:
            prefix = f"(?{inline})"
    return prefix + pattern


_JAVA_REGEX_OK: dict[str, bool] = {}


def _java_regex_compiles(spark: SparkSession, pattern: str) -> bool:
    """Driver-side probe: does java.util.regex accept this pattern?  JS
    accepts constructs Java rejects (dangling '{', some escapes); patterns
    are shapes-graph-sized, so the result is memoized per pattern."""
    if pattern not in _JAVA_REGEX_OK:
        jvm = getattr(spark, "_jvm", None)
        if jvm is None:
            # Spark Connect session: no py4j bridge to probe with.  Route to
            # the Python JS-regex fallback (False) — semantically correct for
            # every pattern, just slower than rlike; never crash the probe.
            _JAVA_REGEX_OK[pattern] = False
        else:
            try:
                jvm.java.util.regex.Pattern.compile(pattern)
                _JAVA_REGEX_OK[pattern] = True
            except Exception:
                _JAVA_REGEX_OK[pattern] = False
    return _JAVA_REGEX_OK[pattern]


_INT_LEX = r"^\s*[+-]?[0-9]"          # JS parseInt(lex) not NaN
_FLOAT_LEX = r"^\s*[+-]?([0-9]|\.[0-9])"  # JS parseFloat(lex) not NaN

# Default result messages — vocabulary DATA from the Apache-2.0 DASH
# vocabulary validator declarations (vocabularies/dash.ttl, used by
# createResultMessages when neither shape nor validator overrides,
# validation-engine.js:149-173).  {$param}/{?param} substituted driver-side.
DEFAULT_MESSAGES: dict[str, str] = {
    SH + "ClassConstraintComponent": "Value does not have class {$class}",
    SH + "ClosedConstraintComponent": "Predicate {?path} is not allowed (closed shape)",
    SH + "DatatypeConstraintComponent": "Value does not have datatype {$datatype}",
    SH + "DisjointConstraintComponent":
        "Value node must not also be one of the values of {$disjoint}",
    SH + "EqualsConstraintComponent": "Must have same values as {$equals}",
    SH + "HasValueConstraintComponent": "Value must be {$hasValue}",
    SH + "InConstraintComponent": "Value is not in {$in}",
    SH + "LanguageInConstraintComponent": "Language does not match any of {$languageIn}",
    SH + "LessThanConstraintComponent": "Value is not < value of {$lessThan}",
    SH + "LessThanOrEqualsConstraintComponent": "Value is not <= value of {$lessThanOrEquals}",
    SH + "MaxCountConstraintComponent": "More than {$maxCount} values",
    SH + "MaxExclusiveConstraintComponent": "Value is not < {$maxExclusive}",
    SH + "MaxInclusiveConstraintComponent": "Value is not <= {$maxInclusive}",
    SH + "MaxLengthConstraintComponent": "Value has more than {$maxLength} characters",
    SH + "MinCountConstraintComponent": "Less than {$minCount} values",
    SH + "MinExclusiveConstraintComponent": "Value is not > {$minExclusive}",
    SH + "MinInclusiveConstraintComponent": "Value is not >= {$minInclusive}",
    SH + "MinLengthConstraintComponent": "Value has less than {$minLength} characters",
    SH + "NodeConstraintComponent": "Value does not have shape {$node}",
    SH + "NodeKindConstraintComponent": "Value does not have node kind {$nodeKind}",
    SH + "NotConstraintComponent": "Value does have shape {$not}",
    SH + "PatternConstraintComponent": 'Value does not match pattern "{$pattern}"',
    SH + "QualifiedMaxCountConstraintComponent":
        "More than {$qualifiedMaxCount} values have shape {$qualifiedValueShape}",
    SH + "QualifiedMinCountConstraintComponent":
        "Less than {$qualifiedMinCount} values have shape {$qualifiedValueShape}",
    DASH + "ClosedByTypesConstraintComponent":
        "Property {?path} is not among those permitted for any of the types",
    DASH + "SubSetOfConstraintComponent": "Must be one of the values of {$subSetOf}",
    DASH + "CoExistsWithConstraintComponent": "Values must co-exist with values of {$coExistsWith}",
    DASH + "HasValueWithClassConstraintComponent":
        "At least one of the values must have class {$hasValueWithClass}",
    DASH + "NonRecursiveConstraintComponent": "Points back at itself (recursively)",
    DASH + "PrimaryKeyConstraintComponent": "Violation of primary key constraint",
    DASH + "RootClassConstraintComponent": "Value must be subclass of {$rootClass}",
    DASH + "StemConstraintComponent": "Value does not have stem {$stem}",
}

# property-validator messages that differ from the node form
# (vocabularies/dash.ttl:1245 hasValue, :1157 disjoint)
PROPERTY_DEFAULT_MESSAGES: dict[str, str] = {
    SH + "HasValueConstraintComponent": "Missing expected value {$hasValue}",
    SH + "DisjointConstraintComponent": "Property must not share any values with {$disjoint}",
}


# ----------------------------------------------------------------- paths
def trips(data: DataFrame, pred_enc: str | None = None) -> DataFrame:
    """Triples projected to fresh attribute ids (t_*) so repeated
    self-joins of the data graph stay unambiguous."""
    return t_triples(data if pred_enc is None else data.filter(F.col("p") == pred_enc))


def eval_path(data: DataFrame, path: Path, focus_df: DataFrame) -> DataFrame:
    """focus frame -> (focus5, value5) over the triples `data` via
    SPARQL-path algebra (ref: src/rdfquery.js:1024-1080; mapping SURVEY.md
    §2.3)."""
    start = focus_df.select(
        *term_cols("focus"),
        *[F.col(c).alias(c.replace("focus", "cur")) for c in term_cols("focus")],
    )
    out = _walk(data, path, start)
    renamed = out.select(
        *term_cols("focus"),
        *[F.col(c.replace("value", "cur")).alias(c) for c in term_cols("value")],
    )
    # r6: only SEQ roots can emit duplicate (focus, value) pairs — two
    # intermediate routes reaching the same value.  pred/inverse hops
    # over a set-semantics triple frame are distinct per (focus, value)
    # by triple uniqueness, and alt/zeroOrOne/zeroOrMore/oneOrMore each
    # dedup inside _walk (the fixpoint accumulator is a disjoint union
    # of deduped frontiers) — the old blanket dedup re-sorted an
    # already-distinct frame for every non-pred path.
    if path.kind == "seq":
        renamed = renamed.dropDuplicates(["focus", "value"])
    return renamed


def _hop_pred(data: DataFrame, df: DataFrame, pred_iri: str, inverse: bool = False) -> DataFrame:
    t = trips(data, f"<{pred_iri}>")
    if not inverse:
        joined = df.join(t, df["cur"] == t["t_s"], "inner")
        new_cur = [t[c].alias(n) for c, n in zip(term_cols("t_o"), term_cols("cur"))]
    else:
        joined = df.join(t, df["cur"] == t["t_o"], "inner")
        new_cur = subject_decomposed("t_s", "cur")
    return joined.select(*[df[c] for c in term_cols("focus")], *new_cur)


def _walk(data: DataFrame, path: Path, df: DataFrame) -> DataFrame:
    if path.kind == "pred":
        return _hop_pred(data, df, path.pred)
    if path.kind == "inverse":
        return _hop_pred(data, df, path.pred, inverse=True)
    if path.kind == "seq":
        cur = df
        for child in path.children:
            cur = _walk(data, child, cur)
        return cur
    if path.kind == "alt":
        branches = [_walk(data, c, df) for c in path.children]
        return functools.reduce(DataFrame.unionByName, branches).dropDuplicates(["focus", "cur"])
    if path.kind == "zeroOrOne":
        return df.unionByName(_walk(data, path.children[0], df)).dropDuplicates(
            ["focus", "cur"]
        )
    if path.kind in ("zeroOrMore", "oneOrMore"):
        child = path.children[0]
        if path.kind == "zeroOrMore":
            base = df.dropDuplicates(["focus", "cur"])
        else:
            base = _walk(data, child, df).dropDuplicates(["focus", "cur"])
        # iterative fixpoint join with per-round checkpointing
        # (SURVEY.md §4 custom machinery #1; cycle guard = the anti-join).
        # Only FRONTIERS are checkpointed, and the checkpoint job counts
        # the frontier it materializes; acc stays a lazy union of
        # already-checkpointed frontiers (one scan per round, bounded by
        # the traversal depth, so lineage stays flat).
        frontier = cut_lineage(base)
        acc = frontier
        while True:
            obs = Observation()
            frontier, seen = observed_cut(
                _walk(data, child, frontier)
                .dropDuplicates(["focus", "cur"])
                .join(acc, ["focus", "cur"], "left_anti")
                .observe(obs, F.count(F.lit(1)).alias("n")),
                obs,
            )
            if not seen["n"]:
                break
            acc = acc.unionByName(frontier)
        return acc
    raise ValueError(f"unknown path kind {path.kind}")


class Engine:
    """Plans a shapes graph's Program (program.py) over a data graph.

    The report unit's frames live in one memo, `_frames`, under the
    Program's frame keys (targets, values, candidates, counts, class_fail);
    a member unit's frames, planned over an explicit focus frame (ROOT),
    live only as long as that one plan.

    Precondition: `data` holds distinct (s, p, o) triples.  eval_path
    dedups only seq-path results, and _count_frame counts a simple path's
    values on the triple side; both rely on it.

    `focus`, a one-column frame of encoded terms, restricts every shape's
    targets to those terms (incremental re-validation)."""

    def __init__(
        self,
        spark: SparkSession,
        data: DataFrame,
        shapes: LocalGraph,
        registry=None,
        error_batch: int = -1,
        subclass_edges: dict | None = None,
        max_driver_results: int = 100_000,
        max_shape_recursion: int = 25,
        focus: DataFrame | None = None,
    ):
        self.spark = spark
        self.data = data
        self.focus = focus
        self.shapes = shapes
        self.registry = registry
        self.ir = ShapesIR(shapes, registry)
        self.program = Program(self.ir, _KINDS, max_shape_recursion)
        self.error_batch = error_batch
        self.max_driver_results = max_driver_results
        # parent enc -> child encs; callers that already hold the graph
        # driver-side (fixture harness) can pass the edges to skip a collect
        self._sub_children: dict[str, set[str]] | None = subclass_edges
        self._distinct_types: list[str] | None = None  # cached once per Engine
        # shared-scan memo (see _frame): many shapes target the same classes
        # and walk the same paths, so each distinct target, value,
        # candidate, count and class-fail frame is built once
        self._frames: dict[tuple, DataFrame] = {}

    def release(self) -> None:
        """Empty the engine's frame memo.  The memo never persists, so this
        only drops driver-side plan references; a long-lived process that
        keeps one engine across many reports can call it between them."""
        self._frames.clear()

    def _frame(self, key: tuple, memo: dict) -> DataFrame:
        """The frame named by `key`, built once per `memo` from the frames
        the Program says it is built from.  Never persisted: a report is
        read by one action, and Spark's exchange reuse already shares the
        memo's identical sub-plans within it."""
        df = memo.get(key)
        if df is None:
            parents = [self._frame(k, memo) for k in self.program.frames[key]]
            df = memo[key] = self._build(key, *parents)
        return df

    # ------------------------------------------------------------------ data
    def _subclass_children(self) -> dict[str, set[str]]:
        """Collect rdfs:subClassOf edges from the DATA graph once (ontology is
        small even at 100 TB data; ref getSubClassesOf walks the store,
        shapes-graph.js:54-58) -> parent -> {children}.  The triples are
        distinct, and the sets dedup anyway, so no shuffle precedes it."""
        if self._sub_children is None:
            m: dict[str, set[str]] = {}
            for r in self.data.filter(F.col("p") == SUBCLASS_ENC).select("s", "o").collect():
                m.setdefault(r["o"], set()).add(r["s"])
            self._sub_children = m
        return self._sub_children

    # classes are ontology-sized, not data-sized; with dirty 100 TB data the
    # distinct rdf:type object set is unbounded in theory, so hard-cap it
    # rather than silently materializing millions of driver rows
    MAX_DISTINCT_TYPES = 100_000

    def distinct_types(self) -> list[str]:
        """Distinct rdf:type objects in the data graph, collected once per
        Engine lifetime (used by dash:closedByTypes)."""
        if self._distinct_types is None:
            rows = (
                self.data.filter(F.col("p") == RDF_TYPE_ENC)
                .select("o")
                .distinct()
                .limit(self.MAX_DISTINCT_TYPES + 1)
                .collect()
            )
            if len(rows) > self.MAX_DISTINCT_TYPES:
                raise ShaclValidationError(
                    f"more than {self.MAX_DISTINCT_TYPES} distinct rdf:type "
                    "objects in the data graph; refusing driver-side collect"
                )
            self._distinct_types = [r["o"] for r in rows]
        return self._distinct_types

    def data_subclasses(self, cls_enc: str) -> set[str]:
        """Transitive subclasses in the data graph (excludes cls itself)."""
        return _reach(self._subclass_children(), cls_enc)

    def _typed(self, cls: Term) -> DataFrame:
        """The rdf:type triples of `cls` and its data-graph subclasses."""
        encs = sorted(self.data_subclasses(cls.encoded()) | {cls.encoded()})
        return self.data.filter((F.col("p") == RDF_TYPE_ENC) & F.col("o").isin(encs))

    # --------------------------------------------------------------- targets
    def targets_frame(self, shape: Shape) -> DataFrame:
        """Focus-node frame for the shape's targets, memoized by the target
        spec's content: real shape sets pile dozens of shapes onto the same
        few target classes (without the memo, wall grew ~linearly in shape
        count at 50 shapes)."""
        return self._frame(self.program.targets_key(shape.node), self._frames)

    def _targets_frame_uncached(self, classes, nodes, subjects_of, objects_of) -> DataFrame:
        # fast path (r6): when every target piece is subject-derived
        # (targetClass / targetSubjectsOf), the 4 decomposed columns are pure
        # functions of the encoded subject — union the 1-column encoded
        # frames, distinct on that single column (HashAggregate, no
        # first(string) buffers, narrow exchange), decompose once after.
        # Node/objectsOf targets carry literal dt/lang that cannot be
        # re-derived from the encoded form, so they keep the 5-column dedup.
        # The pieces dedup once, after their union: a per-piece dedup under
        # it would cost an extra aggregate pass over the same rows.
        typed = [self._typed(cls) for cls in classes]
        subjects = [self.data.filter(F.col("p") == pred.encoded()) for pred in subjects_of]
        if not nodes and not objects_of and (classes or subjects_of):
            return self._focused(
                [t.select(F.col("s").alias("focus")) for t in typed + subjects]
            ).dropDuplicates(["focus"]).select(*subject_decomposed("focus", "focus"))
        pieces = [t.select(*subject_decomposed("s", "focus")) for t in typed]
        if nodes:
            pieces.append(terms_frame(self.spark, nodes, "focus"))
        pieces += [t.select(*subject_decomposed("s", "focus")) for t in subjects]
        pieces += [self.data.filter(F.col("p") == pred.encoded()).select(*object_decomposed("focus"))
                   for pred in objects_of]
        if not pieces:
            return terms_frame(self.spark, [], "focus")
        return self._focused(pieces).dropDuplicates(["focus"])

    def _focused(self, pieces: list[DataFrame]) -> DataFrame:
        """The union of target pieces, kept to the `focus` terms if given."""
        out = functools.reduce(DataFrame.unionByName, pieces)
        return out if self.focus is None else out.join(self.focus, "focus", "left_semi")

    # ------------------------------------------------------------ validation
    def validate(self) -> ValidationReport:
        """Driver-side report (ref validateAll, validation-engine.js).

        Driver materialization is ALWAYS bounded: error_batch if set
        (validation-engine-configuration.js semantics), else
        max_driver_results (default 100k) — a non-conforming 100 TB graph
        must not OOM the driver because someone called the convenience API.
        report.truncated flags the cap; the full set stays distributed via
        report_df()."""
        out = self._all_violations().select(*RECORD_COLS)
        cap = self.error_batch if self.error_batch >= 0 else self.max_driver_results
        rows = out.limit(cap + 1).collect()
        truncated = len(rows) > cap
        if truncated:
            rows = rows[:cap]
            if self.error_batch < 0:
                logging.getLogger(__name__).warning(
                    "validation report truncated at max_driver_results=%d; "
                    "use report_df() for the full distributed report", cap,
                )

        def term(enc: str | None) -> Term | None:
            return decode_term(enc) if enc else None

        return ValidationReport([
            ValidationResult(
                focus=term(r["focus"]), value=term(r["value"]), path=term(r["path"]),
                component=r["component"], severity=r["severity"],
                source_shape=term(r["source_shape"]), message=r["message"],
            )
            for r in rows
        ], truncated=truncated)

    def report_df(self) -> DataFrame:
        """Full report as a DataFrame (for writing to parquet/Iceberg)."""
        return self._all_violations().select(*RECORD_COLS)

    def _all_violations(self) -> DataFrame:
        """Report rows for every shape-with-target: the Program's report
        unit, so checks of different shapes that scan the same value or
        count frame (the common case in wide shape sets — many property
        shapes over the same target class and path) share one fused pass
        instead of one scan per shape.  The rows keep `bubble`, the target
        focus each row was found under."""
        return self._union_viols(self._plan(self.program.report))

    def shape_violations(self, shape: Shape, focus_df: DataFrame, stack: tuple = ()) -> DataFrame:
        """All violation rows for `shape` over the given focus frame, below
        the ancestor shape nodes `stack` (ref: validateNodeAgainstShape,
        validation-engine.js:201-218)."""
        unit = self.program.member(shape.node, stack)
        return self._union_viols(self._plan(unit, focus_df, stack))

    def _plan(self, unit: Unit, root: DataFrame | None = None, stack: tuple = ()) -> list[DataFrame]:
        """Violation frames of a compiled unit (`root` is the frame of ROOT,
        whose frames are shared within this plan only): one _fused_rows
        pass per group, and every other check dispatched with its
        ancestors, so recursion through nonconforming sees the same depth
        as a nested walk.  All legs sharing a chain are lifted through it
        once; the join distributes over the union, so the row multiset
        equals a per-shape walk's."""
        frame = functools.partial(self._frame, memo=self._frames if root is None else {ROOT: root})
        legs: dict[tuple, list[DataFrame]] = {}
        for chk in unit.others:
            v = self._dispatch(chk, frame, stack + chk.stack)
            if v is not None:
                legs.setdefault(chk.chain, []).append(v.select(*VIOL_COLS))
        for (key, chain), checks in unit.groups.items():
            row = checks[0].kind == "row"
            oks = _OK_CONDS if row else _COUNT_OKS
            entries = [(chk.shape, chk.c, oks[chk.c.component.iri](self, chk.shape, chk.c))
                       for chk in checks]
            legs.setdefault(chain, []).append(self._fused_rows(frame(key), entries, with_value=row))
        out = []
        for chain, frames in legs.items():
            rows = self._union_viols(frames)
            for values_key in chain:
                mapping = frame(values_key).select(
                    F.col("focus").alias("_pfocus"), F.col("value").alias("_pvalue")
                )
                rows = rows.join(
                    mapping, rows["bubble"] == mapping["_pvalue"], "inner"
                ).select(F.col("_pfocus").alias("bubble"), *VIOL_COLS[1:])
            out.append(rows)
        return out

    def _build(self, key: tuple, *parents: DataFrame) -> DataFrame:
        """Build the frame named by `key` from its parent frames."""
        kind = key[0]
        if kind == "targets":
            return self._targets_frame_uncached(*key[1:])
        if kind == "values":  # node shapes use the focus itself (shapes-graph.js:348-355)
            (focus,), path = parents, key[2]
            if path is None:
                return focus.select(
                    *term_cols("focus"),
                    *[F.col(c).alias(c.replace("focus", "value")) for c in term_cols("focus")],
                )
            return eval_path(self.data, path, focus)
        if kind == "candidates":
            return _values_as_candidates(*parents)
        if kind == "counts":
            return _count_frame(self, *parents, key[2])
        if kind == "class_fail":
            # validateClass (dash.js:27-29): instance-of incl. data-graph
            # subclass closure — broadcast-joined type closure.  N shapes
            # asserting the same class over the same value frame share it.
            # The typed subjects are broadcast as they are: an anti-join
            # ignores duplicates, so a dedup would only add a shuffle
            (values,) = parents
            instances = self._typed(key[2]).select(F.col("s").alias("node"))
            return values.join(
                F.broadcast(instances), values["value"] == instances["node"], "left_anti"
            )
        raise ValueError(f"unknown frame kind {kind}")

    def _union_viols(self, frames: list[DataFrame]) -> DataFrame:
        if frames:
            return functools.reduce(DataFrame.unionByName, frames)
        # range(0)-backed: the optimizer's PropagateEmptyRelation folds this
        # into an empty LocalRelation and prunes it out of report unions
        # entirely.  createDataFrame([], schema) is RDD-backed in PySpark and
        # every empty accumulator leg scheduled real (no-op) tasks per union.
        return self.spark.range(0).select(*[_NULL().alias(c) for c in VIOL_COLS])

    def _fused_rows(self, values: DataFrame, entries: list[tuple[Shape, Constraint, Column]],
                    with_value: bool = True) -> DataFrame:
        """ONE pass over a value (or count) frame evaluates every check in
        `entries`: rows where any check fails are kept, each check's fail
        struct (component, message, severity, source shape, path) collects
        into an array, nulls are compacted out, and the array explodes into
        violation rows.  k checks — possibly from k shapes sharing the frame
        — cost one scan branch instead of k filter+union branches.  The
        any-fail filter comes first, so the optimizer pushes it below the
        path join like a plain per-constraint filter, and only failing rows
        reach the explode."""
        any_fail = None
        structs = []
        for shape, c, ok in entries:
            path_col = _path_lit(shape)
            fail = ~ok
            any_fail = fail if any_fail is None else any_fail | fail
            structs.append(F.when(fail, F.struct(
                F.lit(c.component.iri).alias("comp"),
                self._message_col(shape, c, self._shape_message(shape), path_col).alias("msg"),
                F.lit(shape.severity.value).alias("sev"),
                F.lit(shape.node.encoded()).alias("src"),
                path_col.alias("pth"),
            )))
        viol = F.explode(F.filter(F.array(*structs), lambda x: x.isNotNull()))
        exploded = values.filter(any_fail).select("*", viol.alias("_viol"))
        # count frames have no value columns (createResult parity with
        # _rows(with_value=False): value stays null on count violations)
        return _select_viols(
            exploded, [F.col(cn) if with_value else _NULL() for cn in term_cols("value")],
            *[F.col(f"_viol.{f}") for f in ("pth", "comp", "sev", "src", "msg")],
        )

    def nonconforming(self, shape_node: Term, nodes_df: DataFrame, stack: tuple = ()) -> DataFrame:
        """DF['node'] of nodes NOT conforming to the shape, checked below
        the ancestor shape nodes `stack` — the distributed analog of
        nodeConformsToShape (index.js:82-92); only the set membership
        escapes (result suppression, validation-engine.js:74-81).

        Recursive shapes (sh:node cycles) are unrolled DATA-DEPENDENTLY: on
        re-entry, an empty candidate frontier short-circuits (the recursion
        is well-founded on acyclic data and stops at the leaves), so e.g.
        PersonShape{ knows -> PersonShape } validates finite data exactly
        like the reference. The frontier is checkpointed and counted by one
        job, on re-entry only, never on the non-recursive fast path."""
        shape = self.ir.get_shape(shape_node)
        if shape.node in stack:
            # cut lineage at every recursion level: without this the logical
            # plan NESTS once per level and a ~30-deep chain OOMs the driver
            # during analysis before the depth cap can fire (observed:
            # java.lang.OutOfMemoryError in generateTreeString)
            obs = Observation()
            nodes_df, seen = observed_cut(nodes_df.observe(obs, F.count(F.lit(1)).alias("n")), obs)
            if not seen["n"]:
                return self.spark.range(0).select(_NULL().alias("node"))
        viols = self.shape_violations(shape, nodes_df, stack)
        return viols.select(F.col("bubble").alias("node")).dropDuplicates(["node"])

    # --------------------------------------------------------------- helpers
    def _rows(self, df: DataFrame, shape: Shape, comp_iri: str, with_value: bool = True,
              path_col: Column | None = None, value_cols: list[Column] | None = None,
              message_col: Column | None = None) -> DataFrame:
        """Normalize a failure frame into violation rows
        (ref: createResult, validation-engine.js:50-64)."""
        if value_cols is None:
            value_cols = [F.col(c) if with_value else _NULL() for c in term_cols("value")]
        return _select_viols(
            df, value_cols, _path_lit(shape) if path_col is None else path_col,
            F.lit(comp_iri), F.lit(shape.severity.value), F.lit(shape.node.encoded()),
            self._shape_message(shape) if message_col is None else message_col,
        )

    #: separates multiple sh:message values inside the single message column;
    #: single source of truth is ValidationResult.MESSAGE_SEP (the splitter) —
    #: aliased here so the joiner and splitters cannot drift apart
    MESSAGE_SEP = ValidationResult.MESSAGE_SEP

    def _shape_message(self, shape: Shape) -> Column:
        # shape-level sh:message wins (createResultMessages,
        # validation-engine.js:149-173); ALL sh:message values are kept,
        # joined with MESSAGE_SEP for the sinks to split.
        if shape.messages:
            return F.lit(self.MESSAGE_SEP.join(m.value for m in shape.messages))
        return _NULL()

    def _num_param(self, t: Term) -> float | None:
        try:
            return float(t.value)
        except (TypeError, ValueError):
            return None

    # -------------------------------------------------------------- dispatch
    def _dispatch(self, chk: Check, frame, stack: tuple) -> DataFrame | None:
        """Violation frame of one "other" check over the frames it names:
        its _IMPLS entry, or the registry validator of a custom component;
        `stack` is the check's full ancestor stack."""
        shape, c, comp = chk.shape, chk.c, chk.c.component
        style = comp.property_style if shape.is_property_shape else comp.node_style
        impl = _IMPLS.get(comp.iri)
        if style is None or (impl is None and not comp.custom):
            raise ShaclValidationError(
                f"Cannot find validator for constraint component {comp.iri}"
            )
        frames = [frame(key) for key in chk.frames]
        if comp.custom:
            return self._custom(shape, c, *frames, style)
        rows = impl(self, shape, c, *frames, stack)
        if rows is None:
            return None
        return rows.withColumn(
            "message", self._message_col(shape, c, F.col("message"), F.col("path"))
        )

    def _message_col(self, shape: Shape, c: Constraint, message: Column, path: Column) -> Column:
        """`message` (the shape's sh:message, or a validator's own message),
        else the component default; a {?path} in the default becomes the
        row's path label — closed/closedByTypes record the OFFENDING
        predicate in the path column."""
        default = self._default_message(shape, c)
        if default is None:
            return message
        if "{?path}" in default:
            default_col = F.replace(F.lit(default), F.lit("{?path}"), self._label_col(path))
        else:
            default_col = F.lit(default)
        return F.coalesce(message, default_col)

    def _param_label(self, val: Term) -> str:
        """nodeLabel (validation-engine.js:6-29) incl. the Collection branch:
        an rdf:List param ({$in}, {$languageIn}) renders as the ', '-joined
        element labels, not 'Blank node _:bN'."""
        if val.is_bnode:
            try:
                items = self.shapes.rdf_list(val)
            except ValueError:
                items = []  # a non-list bnode (e.g. an inline shape)
            if items:
                return ", ".join(node_label(t, self.shapes.prefixes) for t in items)
        return node_label(val, self.shapes.prefixes)

    def _label_col(self, col: Column) -> Column:
        """Per-row nodeLabel for ENCODED terms ('<iri>' form): prefix-shorten
        against the shapes-graph namespaces, else keep the <iri> rendering.
        The first declared matching prefix wins, as in node_label."""
        bare = F.regexp_extract(col, "^<(.*)>$", 1)
        out = None
        for p, ns in self.shapes.prefixes.items():
            branch = (bare.startswith(ns), F.regexp_replace(bare, "^" + re.escape(ns), p + ":"))
            out = F.when(*branch) if out is None else out.when(*branch)
        return col if out is None else out.otherwise(col)  # non-IRIs pass through

    def _default_message(self, shape: Shape, c: Constraint) -> str | None:
        """Component default message with {$param}/{?param} substitution
        (ref: createResultMessages + withSubstitutions,
        validation-engine.js:149-173, 316-325); property-validator variants
        (dash.ttl:1245, :1157) win on property shapes."""
        msg = (shape.is_property_shape and PROPERTY_DEFAULT_MESSAGES.get(c.component.iri)
               or DEFAULT_MESSAGES.get(c.component.iri))
        return None if msg is None else _substitute(msg, c.params, self._param_label)

# --------------------------------------------------------------------------
# Constraint implementations (module-level for a flat dispatch table).  Each
# _IMPLS entry takes (engine, shape, constraint, then the frames its check
# names — targets and values — then the check's ancestor stack) and returns
# a violation frame or None.  Citations point at the verdict logic being
# reproduced (shared/dash.js).
# --------------------------------------------------------------------------

def _impl_class(eng: Engine, shape, c, targets, fail, stack):
    # validateClass (dash.js:27-29): the check scans its class_fail frame,
    # shared by every shape asserting the same class over the same values
    return eng._rows(fail, shape, c.component.iri)


def _cond_datatype(eng, shape, c):
    # validateDatatype (dash.js:92-99) + isValidForDatatype (dash.js:526-541):
    # exact datatype IRI equality; lexical check only for integer/decimal/
    # float (JS parseInt/parseFloat semantics) and boolean.
    dt = c.param_value.value
    ok = (F.col("value_kind") == "literal") & (F.col("value_dt") == dt)
    if dt == XSD_INTEGER:
        ok = ok & F.col("value_v").rlike(_INT_LEX)
    elif dt in (XSD_DECIMAL, XSD_FLOAT):
        ok = ok & F.col("value_v").rlike(_FLOAT_LEX)
    elif dt == XSD_BOOLEAN:
        ok = ok & F.col("value_v").isin(["true", "false"])
    return ok


_NODEKIND_ALLOWED = {
    SH + "BlankNode": ["bnode"],
    SH + "IRI": ["iri"],
    SH + "Literal": ["literal"],
    SH + "BlankNodeOrIRI": ["bnode", "iri"],
    SH + "BlankNodeOrLiteral": ["bnode", "literal"],
    SH + "IRIOrLiteral": ["iri", "literal"],
}


def _cond_nodekind(eng, shape, c):
    allowed = _NODEKIND_ALLOWED.get(c.param_value.value, [])
    return F.col("value_kind").isin(allowed)


def _cond_pattern(eng, shape, c):
    # validatePattern (dash.js:305-311): bnode fails; regex over value.value
    # (IRIs included). JS RegExp -> Java regex with inline flags (rlike,
    # whole-stage codegen fast path). Patterns Java rejects (JS-only syntax
    # like a dangling '{') fall back to an Arrow-vectorized Python re —
    # Python shares JS's lenient treatment of those constructs.
    flags = c.params.get("flags")
    flag_str = flags.value if flags else None
    raw = c.params["pattern"].value
    java_re = _js_regex_to_java(raw, flag_str)
    if _java_regex_compiles(eng.spark, java_re):
        return (F.col("value_kind") != "bnode") & F.col("value_v").rlike(java_re)
    from pyspark.sql.functions import pandas_udf

    pyflags = 0
    for ch, fl in (("i", re.I), ("m", re.M), ("s", re.S)):
        if flag_str and ch in flag_str:
            pyflags |= fl
    try:
        rx = re.compile(raw, pyflags)
    except re.error as e:
        raise ShaclValidationError(
            f"invalid sh:pattern {raw!r}: rejected by both Java regex "
            f"and the Python fallback ({e})"
        ) from e

    @pandas_udf("boolean")
    def _js_match(v: pd.Series) -> pd.Series:
        return v.map(lambda x: x is not None and rx.search(x) is not None)

    return (F.col("value_kind") != "bnode") & _js_match(F.col("value_v"))


def _cond_minlength(eng, shape, c):
    n = eng._num_param(c.param_value)
    return (F.col("value_kind") != "bnode") & (F.length("value_v") >= F.lit(n))


def _cond_maxlength(eng, shape, c):
    n = eng._num_param(c.param_value)
    return (F.col("value_kind") != "bnode") & (F.length("value_v") <= F.lit(n))


def _range_cond(op):
    def cond(eng, shape, c):
        # validateMin/MaxInclusive/Exclusive (dash.js:223-249): literal-only,
        # JS Number() coercion on both sides; NaN comparisons fail.
        bound = eng._num_param(c.param_value)
        if bound is None:
            return F.lit(False)
        num = js_number(F.col("value_v"))
        return (F.col("value_kind") == "literal") & num.isNotNull() & op(num, F.lit(bound))

    return cond


def _cond_in(eng, shape, c):
    # validateIn (dash.js:163-167): term-identity membership in shapes-graph list
    members = [t.encoded() for t in eng.shapes.rdf_list(c.param_value)]
    return F.col("value").isin(members)


def _cond_languagein(eng, shape, c):
    # validateLanguageIn (dash.js:169-184): literal with nonempty lang whose
    # tag STARTS WITH one of the listed tags.
    tags = [t.value for t in eng.shapes.rdf_list(c.param_value)]
    lang_ok = F.lit(False)
    for t in tags:
        lang_ok = lang_ok | F.col("value_lang").startswith(t)
    return (
        (F.col("value_kind") == "literal")
        & F.col("value_lang").isNotNull()
        & (F.col("value_lang") != "")
        & lang_ok
    )


def _cond_stem(eng, shape, c):
    return (F.col("value_kind") == "iri") & F.col("value_v").startswith(c.param_value.value)


def _impl_rootclass(eng, shape, c, targets, values, stack):
    # validateRootClass (dash.js:365-367): zeroOrMore(subClassOf) reachability
    root = c.param_value.encoded()
    reach = sorted(eng.data_subclasses(root) | {root})
    fail = values.filter(~F.col("value").isin(reach))
    return eng._rows(fail, shape, c.component.iri)


def _triple_impl(how: str):
    def impl(eng, shape, c, targets, values, stack):
        # validateSubSetOf (dash.js:373-375): (focus, subSetOf, value) must
        # exist (left_anti); validateDisjoint (dash.js:101-103): violation if
        # (focus, disjoint, value) exists (left_semi)
        t = trips(eng.data, c.param_value.encoded())
        fail = values.join(
            t, (values["focus"] == t["t_s"]) & (values["value"] == t["t_o"]), how
        )
        return eng._rows(fail, shape, c.component.iri)

    return impl


def _impl_hasvalue(eng, shape, c, targets, values, stack):
    want = c.param_value.encoded()
    if shape.is_property_shape:
        # validateHasValueProperty (dash.js:151-154): ∃ path value == hasValue
        have = values.filter(F.col("value") == want).select("focus").dropDuplicates()
        fail = targets.join(have, "focus", "left_anti")
    else:
        # validateHasValueNode (dash.js:147-149): focus == hasValue
        fail = targets.filter(F.col("focus") != want)
    return eng._rows(fail, shape, c.component.iri, with_value=False)


def _impl_hasvaluewithclass(eng, shape, c, targets, values, stack):
    # validateHasValueWithClass (dash.js:156-161)
    # a semi-join ignores duplicate instance rows: no dedup shuffle
    instances = eng._typed(c.param_value).select(F.col("s").alias("node"))
    have = values.join(
        F.broadcast(instances), values["value"] == instances["node"], "left_semi"
    ).select("focus").dropDuplicates()
    fail = targets.join(have, "focus", "left_anti")
    return eng._rows(fail, shape, c.component.iri, with_value=False)


def _values_as_candidates(values: DataFrame) -> DataFrame:
    return values.select(
        *[F.col(c).alias(c.replace("value", "focus")) for c in term_cols("value")]
    ).dropDuplicates(["focus"])


def _count_frame(eng, targets: DataFrame, values: DataFrame, path: Path | None) -> DataFrame:
    """(focus5, _cnt) per target, where `values` is the value frame of
    `path` over `targets`.  Built once per Program counts key (focus,
    path): minCount and maxCount shapes sharing them — e.g. "at least 1"
    and "at most 1" over the same property across a wide shape set — reuse
    one aggregation instead of re-shuffling the value frame each."""
    if path is not None and path.is_simple_pred:
        # r6 "aggregate before you shuffle": the value frame is
        # targets ⋈ trips(pred), so per-focus value counts equal the
        # per-subject row counts of the filtered triple side — aggregate
        # that side directly (map-side partial agg over the narrow
        # (p, s) projection) and left-join targets once, skipping the
        # wide values SortMergeJoin entirely.  Join-multiplicity parity:
        # values rows per focus == trips rows with t_s == focus, and
        # `value` (the triple object) is never null, so count("value")
        # == count(*).
        counts = (
            eng.data.filter(F.col("p") == f"<{path.pred}>")
            .groupBy(F.col("s").alias("focus"))
            .agg(F.count("*").alias("_cnt"))
        )
    else:
        counts = values.groupBy("focus").agg(F.count("value").alias("_cnt"))
    return targets.join(counts, "focus", "left").withColumn(
        "_cnt", F.coalesce(F.col("_cnt"), F.lit(0))
    )


def _impl_uniquelang(eng, shape, c, targets, values, stack):
    # validateUniqueLangProperty (dash.js:377-404): per overused language one
    # violation with the exact message string; no value recorded.
    if c.param_value != TRUE:
        return None
    langs = (
        values.filter(
            (F.col("value_kind") == "literal")
            & F.col("value_lang").isNotNull()
            & (F.col("value_lang") != "")
        )
        .groupBy(*term_cols("focus"), "value_lang")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
    )
    msg = F.format_string('Language "%s" has been used by %d values', F.col("value_lang"), F.col("_n"))
    return eng._rows(langs, shape, c.component.iri, with_value=False, message_col=msg)


def _impl_equals(eng, shape, c, targets, values, stack):
    comp_iri = c.component.iri
    other = eval_path(eng.data, Path("pred", pred=c.param_value.value), targets)
    if shape.is_property_shape:
        # validateEqualsProperty (dash.js:105-125): symmetric difference,
        # one violation per missing member on either side.
        # anti-join on (focus, value) both directions
        a = values.select(*term_cols("focus"), *term_cols("value"))
        b = other.select(*term_cols("focus"), *term_cols("value"))
        miss1 = a.join(b.select("focus", "value"), ["focus", "value"], "left_anti")
        miss2 = b.join(a.select("focus", "value"), ["focus", "value"], "left_anti")
        return eng._rows(miss1.unionByName(miss2), shape, comp_iri)
    # validateEqualsNode (dash.js:127-145): every value of the equals
    # predicate must equal the focus; zero values -> one violation (value=focus)
    neq = other.filter(F.col("value") != F.col("focus"))
    empty = targets.join(other.select("focus").dropDuplicates(), "focus", "left_anti")
    self_val = empty.select(
        *term_cols("focus"),
        *[F.col(x).alias(x.replace("focus", "value")) for x in term_cols("focus")],
    )
    return eng._rows(neq.unionByName(self_val), shape, comp_iri)


def _lessthan_impl(strict: bool):
    def impl(eng, shape, c, targets, values, stack):
        # validateLessThan(/OrEquals)Property (dash.js:186-216): cross product
        # of path values × other-prop values per focus; incomparable (mixed
        # datatypes) or cmp >= 0 (> 0) is a violation; string comparison.
        other = eval_path(eng.data, Path("pred", pred=c.param_value.value), targets).select(
            F.col("focus").alias("_f2"),
            *[F.col(x).alias(x.replace("value", "_o")) for x in term_cols("value")],
        )
        pairs = values.join(other, values["focus"] == other["_f2"], "inner")
        cmp_bad = F.when(_incomparable("value", "_o"), F.lit(True)).otherwise(
            _cmp_struct("value") >= _cmp_struct("_o") if strict
            else _cmp_struct("value") > _cmp_struct("_o")
        )
        return eng._rows(pairs.filter(cmp_bad), shape, c.component.iri)

    return impl


def _impl_closed(eng, shape, c, targets, values, stack):
    # validateClosed (dash.js:31-54): allowed = IRI paths of this shape's
    # property shapes + sh:ignoredProperties; one violation per offending
    # (predicate, object) with custom path/value. rdf:type NOT auto-ignored.
    if c.params.get("closed") != TRUE:
        return None
    allowed: list[str] = []
    for pshape in eng.shapes.objects(shape.node, iri(SH + "property")):
        p = eng.shapes.object(pshape, iri(SH + "path"))
        if p is not None and p.is_iri:
            allowed.append(p.encoded())
    ignored = c.params.get("ignoredProperties")
    if ignored is not None:
        allowed += [t.encoded() for t in eng.shapes.rdf_list(ignored)]
    t = trips(eng.data)
    off = values.join(t, values["value"] == t["t_s"], "inner").filter(~t["t_p"].isin(allowed))
    return eng._rows(off, shape, c.component.iri, path_col=F.col("t_p"),
                     value_cols=[F.col(c) for c in term_cols("t_o")])


def _impl_closedbytypes(eng, shape, c, targets, values, stack):
    # validateClosedByTypesNode (dash.js:56-83): allowed props come from the
    # focus node's rdf:type closure joined to shapes-graph property paths.
    if c.param_value != TRUE:
        return None
    # shapes-graph side: class -> allowed predicate encs (driver, KB-sized)
    cls_props: dict[str, list[str]] = {}
    for (cls_node, _, pshape) in eng.shapes.find(None, iri(SH + "property"), None):
        p = eng.shapes.object(pshape, iri(SH + "path"))
        if p is not None and p.is_iri:
            cls_props.setdefault(cls_node.encoded(), []).append(p.encoded())
    # data side: focus -> direct types, then zeroOrMore(subClassOf) UP in
    # data. Invert the Engine-cached parent->children map (one collect per
    # Engine lifetime, shared with sh:class) instead of re-collecting here.
    parents: dict[str, set[str]] = {}
    for parent, children in eng._subclass_children().items():
        for child in children:
            parents.setdefault(child, set()).add(parent)
    typed = eng.data.filter(F.col("p") == RDF_TYPE_ENC).select(
        F.col("s").alias("_n"), F.col("o").alias("_t")
    )
    # expand each focus's direct types to their superclosure driver-side map
    # via a broadcast mapping (type -> allowed preds over closure); the type
    # list is cached + size-capped on the Engine
    type_allowed = [
        (ty, pred)
        for ty in eng.distinct_types()
        for pred in {p for sup in _reach(parents, ty) | {ty} for p in cls_props.get(sup, ())}
    ]
    # an empty allowed set is an empty LocalRelation: the optimizer folds
    # the joins over it away
    allowed_df = local_frame(eng.spark, type_allowed, "_t string, _pred string")
    focus_allowed = (
        targets.join(typed, targets["focus"] == typed["_n"], "inner")
        .join(F.broadcast(allowed_df), "_t", "inner")
        .select("focus", "_pred")
        .dropDuplicates()
    )
    t = trips(eng.data)
    fa = focus_allowed.select(
        F.col("focus").alias("_fa_focus"), F.col("_pred").alias("_fa_pred")
    )
    off = (
        targets.join(t, targets["focus"] == t["t_s"], "inner")
        .filter(t["t_p"] != RDF_TYPE_ENC)
        .join(
            fa,
            (F.col("focus") == fa["_fa_focus"]) & (t["t_p"] == fa["_fa_pred"]),
            "left_anti",
        )
    )
    return eng._rows(off, shape, c.component.iri, path_col=F.col("t_p"),
                     value_cols=[F.col(c) for c in term_cols("t_o")])


def _impl_coexistswith(eng, shape, c, targets, values, stack):
    # validateCoExistsWith (dash.js:85-90): (∃ path value) must equal (∃ coProp value)
    has1 = values.select("focus").dropDuplicates().withColumn("_h1", F.lit(1))
    has2 = (eng.data.filter(F.col("p") == c.param_value.encoded())
            .select(F.col("s").alias("focus")).dropDuplicates().withColumn("_h2", F.lit(1)))
    flags = targets.join(has1, "focus", "left").join(has2, "focus", "left")
    fail = flags.filter(F.coalesce(F.col("_h1"), F.lit(0)) != F.coalesce(F.col("_h2"), F.lit(0)))
    return eng._rows(fail, shape, c.component.iri, with_value=False)


def _impl_uniquevalueforclass(eng, shape, c, targets, values, stack):
    # validateUniqueValueForClass (dash.js:406-424): violation per (other
    # instance of the class sharing a path value, value) pair.  Self-join on
    # the value column — the skew-prone join SURVEY §2.6 flags; the instance
    # filter is applied BEFORE the join to bound the hot side.
    if shape.path is None or not shape.path.is_simple_pred:
        raise ShaclValidationError("dash:uniqueValueForClass requires a simple predicate path")
    # instance frame is one row per class member — corpus-sized, NOT
    # broadcastable at scale (observed: 4g-driver heap OOM broadcasting
    # 1.5M instance IRIs at sf1); shuffle-hash keys both sides on the
    # subject and builds the per-partition hash from the instance rows (a
    # semi-join ignores their duplicates)
    instances = eng._typed(c.param_value).select(F.col("s").alias("node"))
    others = (
        trips(eng.data, f"<{shape.path.pred}>")
        .join(instances.hint("shuffle_hash"), F.col("t_s") == F.col("node"), "left_semi")
        .select(F.col("t_s").alias("_other"), F.col("t_o").alias("_oval"))
    )
    fail = values.join(others, (values["value"] == others["_oval"])
                       & (values["focus"] != others["_other"]), "inner")
    return eng._rows(fail, shape, c.component.iri)


def _impl_nonrecursive(eng, shape, c, targets, values, stack):
    # validateNonRecursiveProperty (dash.js:280-289)
    if c.param_value != TRUE:
        return None
    fail = values.filter(F.col("value") == F.col("focus")).dropDuplicates(["focus"])
    return eng._rows(fail, shape, c.component.iri)


def _encode_uri_component(col):
    """JS encodeURIComponent as a Column expression. Java URLEncoder
    (F.url_encode, UTF-8, uppercase hex) differs from encodeURIComponent in
    exactly seven tokens: space -> '+' vs '%20', and !~'()* which
    encodeURIComponent leaves bare; fix those up deterministically."""
    out = F.url_encode(col)
    for src, dst in [
        ("+", "%20"), ("%21", "!"), ("%7E", "~"),
        ("%27", "'"), ("%28", "("), ("%29", ")"),
    ]:
        out = F.replace(out, F.lit(src), F.lit(dst))
    return out


def _impl_primarykey(eng, shape, c, targets, values, cnt, stack):
    # validatePrimaryKeyProperty (dash.js:313-325): three failure modes with
    # exact message strings; encodeURIComponent parity stays JVM-side
    # (vectorized url_encode + finite fix-ups, no Python in the path).  `cnt`
    # is the counts frame min/maxCount over the same path share.
    uri_start = c.param_value.value
    first_val = values.groupBy("focus").agg(F.min("value_v").alias("_val"))
    frame = cnt.join(first_val, "focus", "left")
    expected = F.concat(F.lit(uri_start), _encode_uri_component(F.col("_val")))
    msg = (
        F.when(F.col("focus_kind") != "iri", F.lit("Must be an IRI"))
        .when(F.col("_cnt") != 1, F.lit("Must have exactly one value"))
        .when(F.col("focus_v") != expected, F.concat(F.lit("Does not have URI "), expected))
        .otherwise(_NULL())
    )
    fail = frame.withColumn("_msg", msg).filter(F.col("_msg").isNotNull())
    return eng._rows(fail, shape, c.component.iri, with_value=False, message_col=F.col("_msg"))


# ---- nested conformance (rejection counts) ----

def _rejected(eng: Engine, frame: DataFrame, members: list[Term], fails, stack: tuple) -> DataFrame:
    """Rows of `frame` whose value node fails `fails(n, k)`: n counts the
    `members` shapes that reject the node below the ancestor `stack`, k =
    len(members) — the reference's per-node count of conforming members
    (dash.js:17-25, 276-303, 426-435).  Each nonconforming set is distinct
    per node, so one count over their union gives n; no members give an
    empty count."""
    candidates = _values_as_candidates(frame)
    rejects = [eng.nonconforming(m, candidates, stack) for m in members]
    counts = functools.reduce(
        DataFrame.unionByName, rejects, eng.spark.range(0).select(_NULL().alias("node"))
    ).groupBy("node").agg(F.count("*").alias("_n"))
    n = F.coalesce(F.col("_n"), F.lit(0))
    return (
        frame.join(counts, frame["value"] == counts["node"], "left")
        .filter(fails(n, len(members)))
        .select(*frame.columns)
    )


def _logical_impl(fails):
    """sh:and/or/xone (a list of member shapes) or sh:not/node (one)."""
    def impl(eng, shape, c, targets, values, stack):
        (members,) = eng.program.members(shape, c)
        fail = _rejected(eng, values, members, fails, stack)
        return eng._rows(fail, shape, c.component.iri)

    return impl


def _qualified_impl(is_min: bool):
    def impl(eng, shape, c, targets, values, stack):
        # validateQualifiedMin/MaxCountProperty + helper (dash.js:327-363):
        # count the values conforming to the qualified shape and, when the
        # shapes are disjoint, to none of the sibling qualified shapes
        bound = eng._num_param(
            c.params["qualifiedMinCount" if is_min else "qualifiedMaxCount"]
        )
        qshape, *siblings = eng.program.members(shape, c)
        qualified = _rejected(eng, values, qshape, lambda n, k: n == 0, stack)
        for sibs in siblings:
            qualified = _rejected(eng, qualified, sibs, lambda n, k: n == k, stack)
        counts = qualified.groupBy("focus").agg(F.count("*").alias("_cnt"))
        frame = targets.join(counts, "focus", "left").withColumn(
            "_cnt", F.coalesce(F.col("_cnt"), F.lit(0))
        )
        cond = (F.col("_cnt") >= F.lit(bound)) if is_min else (F.col("_cnt") <= F.lit(bound))
        return eng._rows(frame.filter(~cond), shape, c.component.iri, with_value=False)

    return impl


#: row-wise value-constraint OK conditions, evaluated only by the fused
#: single-pass evaluator (Engine._fused_rows): each builder returns the
#: per-row OK Column over a (focus5, value5) frame.
_OK_CONDS = {
    SH + "DatatypeConstraintComponent": _cond_datatype,
    SH + "NodeKindConstraintComponent": _cond_nodekind,
    SH + "PatternConstraintComponent": _cond_pattern,
    SH + "MinLengthConstraintComponent": _cond_minlength,
    SH + "MaxLengthConstraintComponent": _cond_maxlength,
    SH + "MinInclusiveConstraintComponent": _range_cond(lambda a, b: a >= b),
    SH + "MinExclusiveConstraintComponent": _range_cond(lambda a, b: a > b),
    SH + "MaxInclusiveConstraintComponent": _range_cond(lambda a, b: a <= b),
    SH + "MaxExclusiveConstraintComponent": _range_cond(lambda a, b: a < b),
    SH + "InConstraintComponent": _cond_in,
    SH + "LanguageInConstraintComponent": _cond_languagein,
    DASH + "StemConstraintComponent": _cond_stem,
}

#: count-constraint OK conditions over the COUNT frame ((focus5, _cnt) from
#: _count_frame), evaluated by the same fused evaluator: min/maxCount
#: shapes sharing (targets, path) flush as one pass over one aggregation.
_COUNT_OKS = {
    SH + "MinCountConstraintComponent": (
        lambda eng, shape, c: F.col("_cnt") >= F.lit(eng._num_param(c.param_value))
    ),
    SH + "MaxCountConstraintComponent": (
        lambda eng, shape, c: F.col("_cnt") <= F.lit(eng._num_param(c.param_value))
    ),
}

_IMPLS = {
    SH + "ClassConstraintComponent": _impl_class,
    SH + "UniqueLangConstraintComponent": _impl_uniquelang,
    SH + "HasValueConstraintComponent": _impl_hasvalue,
    SH + "EqualsConstraintComponent": _impl_equals,
    SH + "DisjointConstraintComponent": _triple_impl("left_semi"),
    SH + "LessThanConstraintComponent": _lessthan_impl(strict=True),
    SH + "LessThanOrEqualsConstraintComponent": _lessthan_impl(strict=False),
    SH + "ClosedConstraintComponent": _impl_closed,
    # validateAnd/Or/Not/Xone/Node (dash.js:17-25, 276-303, 426-435)
    # n of k members reject the value (_rejected); dash.js:17-25, 276-303, 426-435
    SH + "AndConstraintComponent": _logical_impl(lambda n, k: n > 0),
    SH + "OrConstraintComponent": _logical_impl(lambda n, k: n == k),
    SH + "NotConstraintComponent": _logical_impl(lambda n, k: n == 0),
    SH + "XoneConstraintComponent": _logical_impl(lambda n, k: k - n != 1),
    SH + "NodeConstraintComponent": _logical_impl(lambda n, k: n > 0),
    SH + "QualifiedMinCountConstraintComponent": _qualified_impl(is_min=True),
    SH + "QualifiedMaxCountConstraintComponent": _qualified_impl(is_min=False),
    DASH + "ClosedByTypesConstraintComponent": _impl_closedbytypes,
    DASH + "CoExistsWithConstraintComponent": _impl_coexistswith,
    DASH + "HasValueWithClassConstraintComponent": _impl_hasvaluewithclass,
    DASH + "NonRecursiveConstraintComponent": _impl_nonrecursive,
    DASH + "UniqueValueForClassConstraintComponent": _impl_uniquevalueforclass,
    DASH + "PrimaryKeyConstraintComponent": _impl_primarykey,
    DASH + "RootClassConstraintComponent": _impl_rootclass,
    DASH + "SubSetOfConstraintComponent": _triple_impl("left_anti"),
}


#: the fused components' kinds, as the Program groups them
_KINDS = {**dict.fromkeys(_OK_CONDS, "row"), **dict.fromkeys(_COUNT_OKS, "count")}


# custom-component dispatch (registry.py) — attached to Engine here to keep
# the impl table and the class in one module.
def _custom_default_message(self: Engine, shape, c) -> str | None:
    """Validator-level (then component-level) sh:message with {$param}/{?param}
    substitution (ref: createResultMessages + withSubstitutions,
    validation-engine.js:149-173, 316-325)."""
    comp_node = iri(c.component.iri)
    msg = None
    preds = ([SH + "propertyValidator", SH + "validator"] if shape.is_property_shape
             else [SH + "nodeValidator", SH + "validator"])
    for pred in preds:
        for v in self.shapes.objects(comp_node, iri(pred)):
            m = self.shapes.object(v, iri(SH + "message"))
            if m is not None:
                msg = m.value
                break
        if msg:
            break
    if msg is None:
        m = self.shapes.object(comp_node, iri(SH + "message"))
        msg = m.value if m is not None else None
    return None if msg is None else _substitute(
        msg, c.params, lambda val: node_label(val, self.shapes.prefixes))


def _substitute(msg: str, params: dict, label) -> str:
    """{$param}/{?param} replaced by `label` of the parameter's value."""
    for lname, val in params.items():
        if val is not None:
            msg = msg.replace("{$" + lname + "}", label(val)).replace("{?" + lname + "}", label(val))
    return msg


def _custom(self: Engine, shape, c, targets, values, style):
    fn_name = self.ir.validator_function_name(c.component, shape.is_property_shape)
    validator = None if self.registry is None else self.registry.resolve(c.component.iri, fn_name)
    if validator is None:
        raise ShaclValidationError(
            f"Cannot find validator for constraint component {c.component.iri}"
        )
    rows = validator(self, shape, c, targets, values, style)
    if rows is None:
        return None
    default = _custom_default_message(self, shape, c)
    return rows.withColumn("message", F.coalesce(
        F.col("message"), self._shape_message(shape),
        F.lit(default) if default is not None else _NULL(),
    ))


Engine._custom = _custom
