"""ShapeIR compiler: shapes LocalGraph -> plain-Python shape intermediate
representation, computed once on the driver and (conceptually) broadcast.

Behavioral reference: /root/reference/src/shapes-graph.js —
  * component/parameter discovery        (lines 184-218, 364-385)
  * per-occurrence constraint instancing (lines 282-311)
  * path AST construction                (lines 105-156)
  * target discovery                     (lines 317-345, 419-438)

The reference discovers ALL constraint components from the auto-imported SHACL
+ DASH vocabularies at runtime (shapes-graph.js:369-375).  Here the core and
DASH components are a static table (they are fixed by the W3C SHACL spec /
DASH vocab), and only *user-defined* components are discovered dynamically
from the user shapes graph; their validators come from the Python registry
(registry.py), mirroring sh:JSValidator/sh:jsFunctionName resolution
(shapes-graph.js:220-257) without eval().
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field

from .localgraph import LocalGraph
from .terms import NAMESPACES, Term, iri, local_name
from .turtle import RDF_FIRST, RDF_TYPE

SH = NAMESPACES["sh"]
DASH = NAMESPACES["dash"]
RDFS_CLASS = "http://www.w3.org/2000/01/rdf-schema#Class"

# validator invocation styles (ref: validation-engine.js:233-298):
GENERIC = "generic"     # sh:validator        -> called once per VALUE node
PER_FOCUS = "per_focus"  # sh:propertyValidator / sh:nodeValidator -> once per focus


@dataclass(frozen=True)
class ComponentDef:
    iri: str
    # param local name -> predicate IRI
    params: dict = field(hash=False)
    optionals: frozenset = frozenset()
    # invocation style when the constrained shape is a property shape / node shape;
    # None means no validator exists for that shape kind (reference throws)
    property_style: str | None = GENERIC
    node_style: str | None = GENERIC
    custom: bool = False  # validator resolved via registry


def _comp(ns: str, local: str, params: list[str], optionals: list[str] = (),
          prop: str | None = GENERIC, node: str | None = GENERIC) -> ComponentDef:
    return ComponentDef(ns + local + "ConstraintComponent", {p: ns + p for p in params},
                        frozenset(optionals), prop, node)


_c = functools.partial(_comp, SH)
_d = functools.partial(_comp, DASH)


# Static table of SHACL core + DASH components.  Parameter sets and validator
# styles follow vocabularies/shacl.ttl:466-1133 and vocabularies/dash.ttl
# (sh:validator => GENERIC per-value, sh:propertyValidator/nodeValidator =>
# PER_FOCUS), as inventoried in SURVEY.md §2.6.
CORE_COMPONENTS: list[ComponentDef] = [
    _c("And", ["and"]),
    _c("Class", ["class"]),
    _c("Closed", ["closed", "ignoredProperties"], ["ignoredProperties"]),
    _c("Datatype", ["datatype"]),
    _c("Disjoint", ["disjoint"]),
    _c("Equals", ["equals"], prop=PER_FOCUS, node=PER_FOCUS),
    _c("HasValue", ["hasValue"], prop=PER_FOCUS, node=PER_FOCUS),
    _c("In", ["in"]),
    _c("LanguageIn", ["languageIn"]),
    _c("LessThan", ["lessThan"], prop=PER_FOCUS, node=None),
    _c("LessThanOrEquals", ["lessThanOrEquals"], prop=PER_FOCUS, node=None),
    _c("MaxCount", ["maxCount"], prop=PER_FOCUS, node=None),
    _c("MaxExclusive", ["maxExclusive"]),
    _c("MaxInclusive", ["maxInclusive"]),
    _c("MaxLength", ["maxLength"]),
    _c("MinCount", ["minCount"], prop=PER_FOCUS, node=None),
    _c("MinExclusive", ["minExclusive"]),
    _c("MinInclusive", ["minInclusive"]),
    _c("MinLength", ["minLength"]),
    _c("Node", ["node"]),
    _c("NodeKind", ["nodeKind"]),
    _c("Not", ["not"]),
    _c("Or", ["or"]),
    _c("Pattern", ["pattern", "flags"], ["flags"]),
    _c("Property", ["property"], prop="native", node="native"),
    ComponentDef(
        iri=SH + "QualifiedMaxCountConstraintComponent",
        params={"qualifiedMaxCount": SH + "qualifiedMaxCount",
                "qualifiedValueShape": SH + "qualifiedValueShape",
                "qualifiedValueShapesDisjoint": SH + "qualifiedValueShapesDisjoint"},
        optionals=frozenset(["qualifiedValueShapesDisjoint"]),
        property_style=PER_FOCUS, node_style=None,
    ),
    ComponentDef(
        iri=SH + "QualifiedMinCountConstraintComponent",
        params={"qualifiedMinCount": SH + "qualifiedMinCount",
                "qualifiedValueShape": SH + "qualifiedValueShape",
                "qualifiedValueShapesDisjoint": SH + "qualifiedValueShapesDisjoint"},
        optionals=frozenset(["qualifiedValueShapesDisjoint"]),
        property_style=PER_FOCUS, node_style=None,
    ),
    _c("UniqueLang", ["uniqueLang"], prop=PER_FOCUS, node=None),
    _c("Xone", ["xone"]),
    # DASH extension components (SURVEY.md §2.6, shared/dash.js:56-424)
    _d("ClosedByTypes", ["closedByTypes"], prop=None, node=PER_FOCUS),
    _d("CoExistsWith", ["coExistsWith"], prop=PER_FOCUS, node=None),
    _d("HasValueWithClass", ["hasValueWithClass"], prop=PER_FOCUS, node=None),
    _d("NonRecursive", ["nonRecursive"], prop=PER_FOCUS, node=None),
    ComponentDef(iri=DASH + "PrimaryKeyConstraintComponent",
                 params={"uriStart": DASH + "uriStart"},
                 property_style=PER_FOCUS, node_style=None),
    _d("RootClass", ["rootClass"]),
    # dead code in the reference (no jsFunctionName binding in its dash.ttl,
    # validator kept at shared/dash.js:406-424 for TopBraid parity) —
    # implemented here as a live component
    _d("UniqueValueForClass", ["uniqueValueForClass"], prop=PER_FOCUS, node=None),
    _d("Stem", ["stem"]),
    _d("SubSetOf", ["subSetOf"]),
]


# --- path AST (ref: src/shapes-graph.js:105-156) ---------------------------

@dataclass(frozen=True)
class Path:
    kind: str  # 'pred' | 'seq' | 'alt' | 'inverse' | 'zeroOrOne' | 'zeroOrMore' | 'oneOrMore'
    pred: str | None = None          # for 'pred' / 'inverse' (IRI string)
    children: tuple = ()             # for 'seq' / 'alt' / unary kinds

    @property
    def is_simple_pred(self) -> bool:
        return self.kind == "pred"


def compile_path(shapes: LocalGraph, node: Term) -> Path:
    if node.is_iri:
        return Path("pred", pred=node.value)
    if node.is_bnode:
        if shapes.object(node, iri(RDF_FIRST)) is not None:
            elems = shapes.rdf_list(node)
            return Path("seq", children=tuple(compile_path(shapes, e) for e in elems))
        alt = shapes.object(node, iri(SH + "alternativePath"))
        if alt is not None:
            elems = shapes.rdf_list(alt)
            return Path("alt", children=tuple(compile_path(shapes, e) for e in elems))
        for kw in ("zeroOrMorePath", "oneOrMorePath", "zeroOrOnePath"):
            sub = shapes.object(node, iri(SH + kw))
            if sub is not None:
                return Path(kw.replace("Path", ""), children=(compile_path(shapes, sub),))
        inv = shapes.object(node, iri(SH + "inversePath"))
        if inv is not None:
            child = compile_path(shapes, inv)
            if child.kind != "pred":
                # ref limitation: only inverse of IRI supported (rdfquery.js:1050)
                raise ValueError("inversePath of non-IRI path unsupported")
            return Path("inverse", pred=child.pred)
    raise ValueError(f"unsupported SHACL path {node}")


# --- constraints & shapes ---------------------------------------------------

@dataclass
class Constraint:
    component: ComponentDef
    # snapshot of parameter values by local name (ref: shapes-graph.js:161-176)
    params: dict
    # for single-parameter components: the specific value occurrence
    param_value: Term | None = None


@dataclass
class Shape:
    node: Term
    severity: Term
    deactivated: bool
    path_node: Term | None
    path: Path | None
    constraints: list
    messages: list

    @property
    def is_property_shape(self) -> bool:
        return self.path_node is not None


@dataclass
class TargetSpec:
    classes: list        # sh:targetClass values + implicit class
    nodes: list          # sh:targetNode values
    subjects_of: list    # sh:targetSubjectsOf predicates
    objects_of: list     # sh:targetObjectsOf predicates
    # sh:target (e.g. dash:AllObjectsTarget): the reference lists such shapes
    # as "with target" (shapes-graph.js:431) but getTargetNodes never
    # evaluates sh:target (shapes-graph.js:317-345) -> contributes no focus
    # nodes; reproduced for verdict parity.
    has_sh_target: bool = False

    @property
    def empty(self) -> bool:
        return not (
            self.classes or self.nodes or self.subjects_of or self.objects_of
            or self.has_sh_target
        )


class ShapesIR:
    """Compiled shapes graph. All computation driver-side over LocalGraph."""

    def __init__(self, shapes_graph: LocalGraph, registry=None):
        self.g = shapes_graph
        self.registry = registry
        self.components: list[ComponentDef] = list(CORE_COMPONENTS)
        self._discover_custom_components()
        # parameter predicate IRI -> component (ref: shapes-graph.js:378-385)
        self.params_map: dict[str, ComponentDef] = {}
        for comp in self.components:
            for pred in comp.params.values():
                self.params_map[pred] = comp
        self._shape_cache: dict[Term, Shape] = {}

    # -- custom component discovery (ref: shapes-graph.js:369-375, 184-218) --
    def _discover_custom_components(self) -> None:
        cc = iri(SH + "ConstraintComponent")
        skip = iri(DASH + "ParameterConstraintComponent")
        known = {c.iri for c in self.components}
        for node in self.g.instances_of(cc):
            if node == skip or not node.is_iri:
                continue
            inherited_params: dict[str, str] = {}
            inherited_opt: set[str] = set()
            if node.value in known:
                # The reference discovers components from the merged
                # (auto-imported vocab + user) shapes graph, so a user
                # declaration that RE-declares a vocab component with its own
                # validator overrides the built-in behavior
                # (shapes-graph.js:364-385). Mirror that: replace the static
                # def with a registry-backed one iff the user supplies a
                # validator; otherwise keep the built-in.  The built-in's
                # PARAMETERS are inherited (merged under the user's) — in the
                # reference the vocab's sh:parameter triples are still in the
                # merged graph, so e.g. sh:flags stays recognized when a user
                # redeclares PatternConstraintComponent listing only
                # sh:pattern.
                if not (
                    self._has_js_validator(node, SH + "validator")
                    or self._has_js_validator(node, SH + "propertyValidator")
                    or self._has_js_validator(node, SH + "nodeValidator")
                ):
                    continue
                old = next(c for c in self.components if c.iri == node.value)
                inherited_params = dict(old.params)
                inherited_opt = set(old.optionals)
                self.components = [c for c in self.components if c.iri != node.value]
            params: dict[str, str] = inherited_params
            optionals: set[str] = inherited_opt
            for p_node in self.g.objects(node, iri(SH + "parameter")):
                path = self.g.object(p_node, iri(SH + "path"))
                if path is None or not path.is_iri:
                    continue
                lname = local_name(path.value)
                params[lname] = path.value
                from .terms import TRUE
                if any(o == TRUE for o in self.g.objects(p_node, iri(SH + "optional"))):
                    optionals.add(lname)
            if not params:
                continue
            has_prop = self._has_js_validator(node, SH + "propertyValidator")
            has_node = self._has_js_validator(node, SH + "nodeValidator")
            has_generic = self._has_js_validator(node, SH + "validator")
            self.components.append(ComponentDef(
                iri=node.value,
                params=params,
                optionals=frozenset(optionals),
                property_style=(PER_FOCUS if has_prop else (GENERIC if has_generic else None)),
                node_style=(PER_FOCUS if has_node else (GENERIC if has_generic else None)),
                custom=True,
            ))

    def _has_js_validator(self, comp_node: Term, pred_iri: str) -> bool:
        for v in self.g.objects(comp_node, iri(pred_iri)):
            if self.g.has(v, iri(RDF_TYPE), iri(SH + "JSValidator")):
                return True
        return False

    def validator_function_name(self, comp: ComponentDef, prop_shape: bool) -> str | None:
        """Resolve sh:jsFunctionName for a custom component (validator choice
        order mirrors shapes-graph.js:208-217)."""
        node = iri(comp.iri)
        preds = ([SH + "propertyValidator", SH + "validator"] if prop_shape
                 else [SH + "nodeValidator", SH + "validator"])
        for pred in preds:
            for v in self.g.objects(node, iri(pred)):
                if self.g.has(v, iri(RDF_TYPE), iri(SH + "JSValidator")):
                    fn = self.g.object(v, iri(SH + "jsFunctionName"))
                    if fn is not None:
                        return fn.value
        return None

    # -- shapes (ref: shapes-graph.js:282-311, 396-438) --
    def get_shape(self, node: Term) -> Shape:
        s = self._shape_cache.get(node)
        if s is None:
            s = self._build_shape(node)
            self._shape_cache[node] = s
        return s

    def _build_shape(self, node: Term) -> Shape:
        g = self.g
        severity = g.object(node, iri(SH + "severity")) or iri(SH + "Violation")
        from .terms import TRUE
        deactivated = any(o == TRUE for o in g.objects(node, iri(SH + "deactivated")))
        path_node = g.object(node, iri(SH + "path"))
        path = compile_path(g, path_node) if path_node is not None else None
        messages = g.objects(node, iri(SH + "message"))

        constraints: list[Constraint] = []
        handled: set[str] = set()
        for (_, p, o) in g.find(node, None, None):
            if not p.is_iri:
                continue
            comp = self.params_map.get(p.value)
            if comp is None or comp.iri in handled:
                continue
            if len(comp.params) == 1:
                # one constraint per parameter value occurrence
                lname = next(iter(comp.params))
                constraints.append(Constraint(comp, {lname: o}, param_value=o))
            else:
                if self._is_complete(comp, node):
                    params = {}
                    for lname, pred in comp.params.items():
                        v = g.object(node, iri(pred))
                        if v is not None:
                            params[lname] = v
                    constraints.append(Constraint(comp, params))
                    handled.add(comp.iri)
        return Shape(node, severity, deactivated, path_node, path, constraints, messages)

    def _is_complete(self, comp: ComponentDef, node: Term) -> bool:
        for lname, pred in comp.params.items():
            if lname not in comp.optionals and not self.g.has(node, iri(pred), None):
                return False
        return True

    def shape_nodes_with_constraints(self) -> list[Term]:
        out: list[Term] = []
        seen: set[Term] = set()
        for comp in self.components:
            for lname, pred in comp.params.items():
                if lname in comp.optionals:
                    continue
                for (s, _, _) in self.g.find(None, iri(pred), None):
                    if s not in seen:
                        seen.add(s)
                        out.append(s)
        return out

    def shapes_with_target(self) -> list[Shape]:
        out = []
        for node in self.shape_nodes_with_constraints():
            if not self.target_spec(node).empty:
                out.append(self.get_shape(node))
        return out

    def target_spec(self, node: Term) -> TargetSpec:
        g = self.g
        classes = list(g.objects(node, iri(SH + "targetClass")))
        # implicit class target: shape node is itself an rdfs:Class instance
        # (instance-of computed within the SHAPES graph; ref shapes-graph.js:320-322)
        if g.is_instance_of(node, iri(RDFS_CLASS)):
            classes.append(node)
        return TargetSpec(
            classes=classes,
            nodes=list(g.objects(node, iri(SH + "targetNode"))),
            subjects_of=list(g.objects(node, iri(SH + "targetSubjectsOf"))),
            objects_of=list(g.objects(node, iri(SH + "targetObjectsOf"))),
            has_sh_target=g.has(node, iri(SH + "target"), None),
        )
