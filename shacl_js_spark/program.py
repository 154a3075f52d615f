"""The compiled form of a shapes graph: which frames a report scans and which
checks run over each, decided on the driver with no Spark call (no pyspark
import); validation.Engine turns a Program into DataFrames.

Every shape-with-target flattens into checks, one per constraint, with
sh:property expanded in place: the child's focus is the parent's value nodes
(validation-engine.js:224-232), so a path-less parent passes its own focus,
and a path-bearing parent appends its value frame to the child's bubble
chain.  A frame is named by a content key, so
shapes sharing target classes and paths share frames:

  ("targets", classes, nodes, subjectsOf, objectsOf)  a target spec's focus
  ("root",)  an explicit focus frame (ROOT)
  ("values", focus, path)  the path's values over a focus (None: the focus)
  ("candidates", values)  the distinct values: the focus of the sh:property
      children of a shape with a path
  ("counts", focus, path)  (focus, _cnt) for min/maxCount and dash:primaryKey
  ("class_fail", values, class)  the values that are no instance of class

Row-wise and count checks sharing (frame, bubble chain) form one group, one
fused pass; every other check runs alone.  The member shapes of sh:node,
and, or, not, xone and qualified* compile once per shape node over ROOT
(the reference's getShape cache, shapes-graph.js:396-403).
"""

from __future__ import annotations

import functools
from typing import NamedTuple

from .shapes import DASH, SH, Constraint, Path, Shape, ShapesIR
from .terms import TRUE, Term, iri

#: key of an explicit focus frame (Engine.shape_violations' focus_df)
ROOT = ("root",)


class ShaclValidationError(RuntimeError):
    """Mirrors the reference's thrown validation errors (e.g. 'Cannot find
    validator for constraint component ...', validation-engine.js:301)."""


class Check(NamedTuple):
    """Constraint `c` of `shape`, of kind "row", "count" (fused) or "other".
    `frames` are the keys it scans: the fused frame, else its focus and
    value frames, with sh:class's class_fail frame in place of the values
    and dash:primaryKey's counts frame appended.  `chain` holds the value
    frame keys of its path-bearing sh:property ancestors, innermost first;
    `stack` the shape nodes from its unit's root shape down to `shape`."""

    shape: Shape
    c: Constraint
    kind: str
    frames: tuple
    chain: tuple
    stack: tuple


class Unit:
    """The checks compiled from one root, in compile order, split into
    fused groups by (frame key, bubble chain) and the other checks."""

    def __init__(self, checks: list[Check]):
        self.checks = checks
        self.groups: dict[tuple, list[Check]] = {}
        self.others: list[Check] = []
        for chk in checks:
            if chk.kind == "other":
                self.others.append(chk)
            else:
                self.groups.setdefault((chk.frames[0], chk.chain), []).append(chk)


_LISTED = {SH + n + "ConstraintComponent" for n in ("And", "Or", "Xone")}
_SINGLE = {SH + "NotConstraintComponent", SH + "NodeConstraintComponent"}
_QUALIFIED = {SH + f"Qualified{n}CountConstraintComponent" for n in ("Min", "Max")}


class Program:
    """`kinds` maps the fused components' IRIs to "row" or "count"; every
    other component, and every custom one, is "other"."""

    def __init__(self, ir: ShapesIR, kinds: dict[str, str], max_shape_recursion: int = 25):
        self.ir = ir
        self.kinds = kinds
        self.max_shape_recursion = max_shape_recursion
        self.frames: dict[tuple, tuple] = {ROOT: ()}
        self._units: dict[Term, Unit] = {}

    @functools.cached_property
    def report(self) -> Unit:
        """Every shape-with-target over its targets frame."""
        return Unit([chk for shape in self.ir.shapes_with_target()
                     for chk in self._compile(shape, self.targets_key(shape.node))])

    def member(self, node: Term, stack: tuple) -> Unit:
        """The unit of shape `node` over ROOT, entered below the ancestor
        `stack`: the recursion guard counts the stack and each check's own."""
        unit = self._unit(node)
        for chk in unit.checks:
            functools.reduce(self._enter, chk.stack, stack)
        return unit

    def _unit(self, node: Term) -> Unit:
        if node not in self._units:
            self._units[node] = Unit(self._compile(self.ir.get_shape(node), ROOT))
        return self._units[node]

    def targets_key(self, node: Term) -> tuple:
        spec = self.ir.target_spec(node)
        return self._frame(("targets", *(
            tuple(sorted(terms, key=Term.encoded))
            for terms in (spec.classes, spec.nodes, spec.subjects_of, spec.objects_of)
        )))

    def members(self, shape: Shape, c: Constraint) -> list[list[Term]]:
        """The member-shape lists whose nonconforming sets a logical or
        qualified check counts (dash.js:17-25, 276-303, 327-363, 426-435):
        and/or/xone list them, not/node name one, and qualified* names its
        qualifiedValueShape, then, when disjoint, the sibling qualified
        shapes of the parents' other sh:property shapes."""
        comp, g = c.component, self.ir.g
        if comp.custom:
            return []
        if comp.iri in _LISTED:
            return [g.rdf_list(c.param_value)]
        if comp.iri in _SINGLE:
            return [[c.param_value]]
        if comp.iri not in _QUALIFIED:
            return []
        qshape = c.params["qualifiedValueShape"]
        out = [[qshape]]
        if c.params.get("qualifiedValueShapesDisjoint") == TRUE:
            prop, qvs = iri(SH + "property"), iri(SH + "qualifiedValueShape")
            out.append([sib_q for parent in g.subjects(prop, shape.node)
                        for sib in g.objects(parent, prop)
                        for sib_q in g.objects(sib, qvs) if sib_q != qshape])
        return out

    def _frame(self, key: tuple, *parents: tuple) -> tuple:
        self.frames.setdefault(key, parents)
        return key

    def _enter(self, stack: tuple, node: Term) -> tuple:
        if stack.count(node) >= self.max_shape_recursion:
            # recursion through acyclic data stops at nonconforming's empty
            # frontier first; the cap means cyclic data, a path-free shape
            # cycle (the reference would stack-overflow, index.js:82-92) or
            # deeper data than the cap
            raise ShaclValidationError(
                f"recursive shape reference at {node} exceeded "
                f"max_shape_recursion={self.max_shape_recursion}; either the "
                "data/shape graph is cyclic, or the acyclic recursion depth "
                "exceeds the cap — raise Engine(max_shape_recursion=...) for "
                "deeper finite data"
            )
        return stack + (node,)

    def _compile(self, shape: Shape, focus: tuple, chain: tuple = (), stack: tuple = ()) -> list[Check]:
        if shape.deactivated:
            return []
        stack = self._enter(stack, shape.node)
        values = self._frame(("values", focus, shape.path), focus)
        checks = []
        for c in shape.constraints:
            comp = c.component
            if comp.iri == SH + "PropertyConstraintComponent":
                child = self.ir.get_shape(c.param_value)
                if shape.path is None:  # the values are the (distinct) focus itself
                    checks += self._compile(child, focus, chain, stack)
                else:
                    checks += self._compile(child, self._frame(("candidates", values), values),
                                            (values, *chain), stack)
                continue
            # custom components and components invalid for this shape kind
            # are "other": the Engine runs the registry validator or raises
            style = comp.property_style if shape.is_property_shape else comp.node_style
            kind = "other" if comp.custom or style is None else self.kinds.get(comp.iri, "other")
            counts = ("counts", focus, shape.path)
            if kind == "row":
                frames = (values,)
            elif kind == "count":
                frames = (self._frame(counts, focus, values),)
            elif comp.iri == SH + "ClassConstraintComponent" and not comp.custom:
                frames = (focus, self._frame(("class_fail", values, c.param_value), values))
            elif comp.iri == DASH + "PrimaryKeyConstraintComponent" and not comp.custom:
                frames = (focus, values, self._frame(counts, focus, values))
            else:
                frames = (focus, values)
            checks.append(Check(shape, c, kind, frames, chain, stack))
        return checks

    # ---------------------------------------------------------------- text
    def describe(self) -> str:
        """The frames (each over the frames it is built from), then the
        report's and every reachable member shape's groups and other checks,
        as one text that depends only on the shapes graph."""
        units, seen, ids = [("report", self.report)], set(), {}
        for _, unit in units:  # grows while iterating: members breadth-first
            for chk in unit.others:
                for node in (m for ms in self.members(chk.shape, chk.c) for m in ms):
                    if node not in seen:
                        seen.add(node)
                        units.append((f"member {self._text(node)}", self._unit(node)))

        def fid(key: tuple) -> str:
            if key not in ids:
                for parent in self.frames[key]:
                    fid(parent)
                ids[key] = f"f{len(ids)}"
            return ids[key]

        def check(chk: Check) -> str:
            params = ", ".join(f"{k}={self._text(v)}" for k, v in chk.c.params.items())
            comp = self._text(iri(chk.c.component.iri)).removesuffix("ConstraintComponent")
            return f"    {' > '.join(map(self._text, chk.stack))}: {comp}({params})"

        body = []
        for title, unit in units:
            body.append(title + ":")
            for (key, chain), checks in unit.groups.items():
                body += [f"  {checks[0].kind} {' via '.join([fid(key), *map(fid, chain)])}",
                         *map(check, checks)]
            for chk in unit.others:
                body += [f"  other {' '.join(map(fid, chk.frames))}"
                         f"{''.join(' via ' + fid(k) for k in chk.chain)}", check(chk)]
        frames = [f"  {ids[key]} = {key[0]}({', '.join(self._text(x, fid) for x in key[1:])})"
                  for key in ids]
        return "\n".join(["frames:", *frames, *body])

    def _text(self, x, fid=None) -> str:
        """A term, path, frame key (by `fid`) or target-spec part as text."""
        if x is None:
            return "-"
        if isinstance(x, Term):
            return x.value if x.is_bnode else node_label(x, self.ir.g.prefixes)
        if isinstance(x, Path):
            if x.kind in ("pred", "inverse"):
                return "^" * (x.kind == "inverse") + self._text(iri(x.pred))
            if x.kind in ("seq", "alt"):
                sep = " / " if x.kind == "seq" else " | "
                return "(" + sep.join(map(self._text, x.children)) + ")"
            return self._text(x.children[0]) + {"zeroOrMore": "*", "oneOrMore": "+",
                                                "zeroOrOne": "?"}[x.kind]
        if x in self.frames:
            return fid(x)
        return " ".join(map(self._text, x)) or "-"


def node_label(t: Term, prefixes: dict) -> str:
    """ref: nodeLabel (validation-engine.js:6-29)."""
    if t.is_iri:
        for p, ns in prefixes.items():
            if t.value.startswith(ns):
                return f"{p}:{t.value[len(ns):]}"
        return f"<{t.value}>"
    if t.is_bnode:
        return "Blank node " + t.value
    return t.value
