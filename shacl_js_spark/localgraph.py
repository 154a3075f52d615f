"""Driver-side in-memory triple store for SHAPES graphs.

Shapes are KB-sized even when the data graph is TB-sized (SURVEY.md §1.5), so
shape compilation happens entirely on the driver against this indexed store;
only the compiled ShapeIR (plain Python values) is broadcast to executors.

Behavioral reference: RDFLibGraph.find/query (src/rdflib-graph.js:42-48) and
the RDFQueryUtil helpers (src/shapes-graph.js:29-103) — re-expressed as plain
Python; the volcano iterator machinery is not reproduced (we have no need for
pull-based iteration on the driver).
"""

from __future__ import annotations

from collections import defaultdict

from .terms import Term, iri
from .turtle import RDF_FIRST, RDF_NIL, RDF_REST, RDF_TYPE, Triple, parse_turtle

RDFS_SUBCLASSOF = "http://www.w3.org/2000/01/rdf-schema#subClassOf"


class LocalGraph:
    def __init__(self, triples: list[Triple] | None = None, prefixes: dict[str, str] | None = None):
        self.triples: list[Triple] = []
        self.prefixes: dict[str, str] = dict(prefixes or {})
        self._spo: dict[Term, dict[Term, list[Term]]] = defaultdict(lambda: defaultdict(list))
        self._pos: dict[Term, dict[Term, list[Term]]] = defaultdict(lambda: defaultdict(list))
        if triples:
            for t in triples:
                self.add(*t)

    @classmethod
    def from_turtle(cls, text: str, bnode_prefix: str = "b") -> "LocalGraph":
        triples, prefixes = parse_turtle(text, bnode_prefix=bnode_prefix)
        return cls(triples, prefixes)

    def add(self, s: Term, p: Term, o: Term) -> None:
        self.triples.append((s, p, o))
        self._spo[s][p].append(o)
        self._pos[p][o].append(s)

    def __len__(self) -> int:
        return len(self.triples)

    # --- pattern matching (each arg Term or None wildcard) ---
    def find(self, s: Term | None, p: Term | None, o: Term | None):
        if s is not None:
            if p is not None:
                for obj in self._spo.get(s, {}).get(p, ()):
                    if o is None or obj == o:
                        yield (s, p, obj)
            else:
                for pred, objs in self._spo.get(s, {}).items():
                    for obj in objs:
                        if o is None or obj == o:
                            yield (s, pred, obj)
        elif p is not None:
            if o is not None:
                for subj in self._pos.get(p, {}).get(o, ()):
                    yield (subj, p, o)
            else:
                for obj, subjs in self._pos.get(p, {}).items():
                    for subj in subjs:
                        yield (subj, p, obj)
        else:
            for t in self.triples:
                if o is None or t[2] == o:
                    yield t

    def objects(self, s: Term, p: Term) -> list[Term]:
        return list(self._spo.get(s, {}).get(p, ()))

    def object(self, s: Term, p: Term) -> Term | None:
        objs = self._spo.get(s, {}).get(p, ())
        return objs[0] if objs else None

    def subjects(self, p: Term, o: Term) -> list[Term]:
        return list(self._pos.get(p, {}).get(o, ()))

    def has(self, s: Term | None, p: Term | None, o: Term | None) -> bool:
        return next(self.find(s, p, o), None) is not None

    # --- rdf:List walking (ref: src/shapes-graph.js:72-83) ---
    def rdf_list(self, head: Term) -> list[Term]:
        out: list[Term] = []
        nil = iri(RDF_NIL)
        first, rest = iri(RDF_FIRST), iri(RDF_REST)
        seen = set()
        while head != nil:
            if head in seen:
                raise ValueError("cyclic rdf:List")
            seen.add(head)
            v = self.object(head, first)
            if v is None:
                raise ValueError(f"malformed rdf:List at {head}")
            out.append(v)
            head = self.object(head, rest) or nil
        return out

    # --- class hierarchy (ref: src/shapes-graph.js:33-70) ---
    def subclasses_of(self, cls: Term) -> set[Term]:
        """Transitive subclasses (excludes cls itself), via rdfs:subClassOf."""
        sub = iri(RDFS_SUBCLASSOF)
        out: set[Term] = set()
        stack = [cls]
        while stack:
            cur = stack.pop()
            for child in self.subjects(sub, cur):
                if child not in out:
                    out.add(child)
                    stack.append(child)
        return out

    def instances_of(self, cls: Term) -> list[Term]:
        classes = self.subclasses_of(cls)
        classes.add(cls)
        rdf_type = iri(RDF_TYPE)
        seen: set[Term] = set()
        out: list[Term] = []
        for c in classes:
            for s in self.subjects(rdf_type, c):
                if s not in seen:
                    seen.add(s)
                    out.append(s)
        return out

    def is_instance_of(self, node: Term, cls: Term) -> bool:
        classes = self.subclasses_of(cls)
        for t in self.objects(node, iri(RDF_TYPE)):
            if t == cls or t in classes:
                return True
        return False

