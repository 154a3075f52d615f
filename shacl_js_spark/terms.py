"""RDF term model (driver side).

Behavioral reference: /root/reference/src/rdfquery/term-factory.js:30-87 and the
rdflib monkey-patches in /root/reference/src/rdflib-graph.js:10-25.  Terms follow
RDF 1.1: every literal carries a datatype (plain -> xsd:string, language-tagged
-> rdf:langString).

The distributed engine does NOT ship these objects to executors; there a term is
a 5-column group (enc, v, kind, dt, lang) — see graph.py.  The single `enc`
string is an injective N-Triples-style encoding used as the join/equality key.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

# --- namespaces (ref: src/rdfquery.js:152-160 + src/shapes-graph.js:27) ---
NAMESPACES: dict[str, str] = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "sh": "http://www.w3.org/ns/shacl#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "schema": "http://schema.org/",
    "dc": "http://purl.org/dc/elements/1.1/",
    "dcterms": "http://purl.org/dc/terms/",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "dash": "http://datashapes.org/dash#",
}

XSD_STRING = NAMESPACES["xsd"] + "string"
XSD_BOOLEAN = NAMESPACES["xsd"] + "boolean"
XSD_INTEGER = NAMESPACES["xsd"] + "integer"
XSD_DECIMAL = NAMESPACES["xsd"] + "decimal"
XSD_DOUBLE = NAMESPACES["xsd"] + "double"
XSD_FLOAT = NAMESPACES["xsd"] + "float"
RDF_LANGSTRING = NAMESPACES["rdf"] + "langString"

IRI_KIND = "iri"
BNODE_KIND = "bnode"
LITERAL_KIND = "literal"

# termType names as used by compareTerms ordering (ref: src/rdfquery.js:910)
_TERMTYPE_NAME = {BNODE_KIND: "BlankNode", LITERAL_KIND: "Literal", IRI_KIND: "NamedNode"}


@dataclass(frozen=True)
class Term:
    """One RDF term: kind in {'iri','bnode','literal'}; literals carry
    datatype (never None) and optional lang."""

    value: str
    kind: str = IRI_KIND
    datatype: str | None = None
    lang: str | None = None

    # --- predicates mirroring the reference's isURI/isBlankNode/isLiteral ---
    @property
    def is_iri(self) -> bool:
        return self.kind == IRI_KIND

    @property
    def is_bnode(self) -> bool:
        return self.kind == BNODE_KIND

    @property
    def is_literal(self) -> bool:
        return self.kind == LITERAL_KIND

    @property
    def termtype_name(self) -> str:
        return _TERMTYPE_NAME[self.kind]

    def encoded(self) -> str:
        return encode_term(self.value, self.kind, self.datatype, self.lang)

    def __str__(self) -> str:  # debugging only
        return self.encoded()


def iri(value: str) -> Term:
    return Term(value, IRI_KIND)


def bnode(value: str) -> Term:
    if not value.startswith("_:"):
        # ref: src/rdflib-graph.js:108-117 normalizes blank ids to "_:<id>"
        value = "_:" + value
    return Term(value, BNODE_KIND)


def literal(value: str, datatype: str | None = None, lang: str | None = None) -> Term:
    if lang:
        datatype = RDF_LANGSTRING
    elif datatype is None:
        datatype = XSD_STRING
    return Term(value, LITERAL_KIND, datatype, lang)


TRUE = literal("true", XSD_BOOLEAN)
FALSE = literal("false", XSD_BOOLEAN)


@lru_cache(maxsize=4096)
def T(ttl: str) -> Term:
    """TTL-shortcut term builder (ref: term-factory.js term(), lines 30-56):
    recognizes booleans, \\d+ integers, \\d+\\.\\d+ floats, qnames, else plain
    string literal."""
    import re

    if ttl in ("true", "false"):
        return literal(ttl, XSD_BOOLEAN)
    if re.fullmatch(r"\d+", ttl):
        return literal(ttl, XSD_INTEGER)
    if re.fullmatch(r"\d+\.\d+", ttl):
        return literal(ttl, XSD_FLOAT)
    col = ttl.find(":")
    if col > 0:
        ns = NAMESPACES.get(ttl[:col])
        if ns is not None:
            return iri(ns + ttl[col + 1 :])
        return iri(ttl)  # absolute IRI with scheme
    return literal(ttl)


# --- encoding (the distributed join key) ---

_ESCAPES = [("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")]


def escape_lex(s: str) -> str:
    for raw, esc in _ESCAPES:
        s = s.replace(raw, esc)
    return s


def unescape_lex(s: str) -> str:
    out, i, n = [], 0, len(s)
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n:
            nxt = s[i + 1]
            mapped = {"\\": "\\", '"': '"', "n": "\n", "r": "\r", "t": "\t"}.get(nxt)
            if mapped is not None:
                out.append(mapped)
                i += 2
                continue
        out.append(c)
        i += 1
    return "".join(out)


def encode_term(value: str, kind: str, datatype: str | None, lang: str | None) -> str:
    """Injective single-string encoding; equality of encodings == term identity.

    iri      -> <value>
    bnode    -> _:id
    literal  -> "escaped"            (xsd:string)
                "escaped"@lang       (rdf:langString)
                "escaped"^^<dt>      (other datatypes)
    """
    if kind == IRI_KIND:
        return f"<{value}>"
    if kind == BNODE_KIND:
        return value if value.startswith("_:") else "_:" + value
    lex = f'"{escape_lex(value)}"'
    if lang:
        return f"{lex}@{lang}"
    if datatype and datatype != XSD_STRING:
        return f"{lex}^^<{datatype}>"
    return lex


def decode_term(enc: str) -> Term:
    if enc.startswith("<"):
        return iri(enc[1:-1])
    if enc.startswith("_:"):
        return bnode(enc)
    assert enc.startswith('"'), enc
    # find closing unescaped quote
    i = 1
    while True:
        j = enc.index('"', i)
        k = j - 1
        back = 0
        while k >= 0 and enc[k] == "\\":
            back += 1
            k -= 1
        if back % 2 == 0:
            break
        i = j + 1
    value = unescape_lex(enc[1:j])
    rest = enc[j + 1 :]
    if rest.startswith("@"):
        return literal(value, lang=rest[1:])
    if rest.startswith("^^<"):
        return literal(value, datatype=rest[3:-1])
    return literal(value)


# --- term comparison (ref: src/rdfquery.js:903-938 compareTerms and
#     index.js:66-76 compareNodes) ---

def compare_terms(t1: Term | None, t2: Term | None) -> int:
    """Order by termType name, then value (codepoint order; the reference uses
    JS localeCompare — divergence documented in SURVEY.md §1.3, pinned by
    fixtures), then datatype, then language."""
    if t1 is None:
        return 0 if t2 is None else 1
    if t2 is None:
        return -1
    if t1.termtype_name != t2.termtype_name:
        return -1 if t1.termtype_name < t2.termtype_name else 1
    if t1.value != t2.value:
        return -1 if t1.value < t2.value else 1
    if t1.is_literal:
        d1, d2 = t1.datatype or "", t2.datatype or ""
        if d1 != d2:
            return -1 if d1 < d2 else 1
        if d1 == RDF_LANGSTRING:
            l1, l2 = t1.lang or "", t2.lang or ""
            if l1 != l2:
                return -1 if l1 < l2 else 1
    return 0


def compare_nodes(t1: Term | None, t2: Term | None) -> int | None:
    """Returns None ('incomparable') when both are literals with differing
    datatypes (ref: index.js:66-76); sh:lessThan treats None as violation."""
    if t1 is not None and t2 is not None and t1.is_literal and t2.is_literal:
        if (t1.datatype is None) != (t2.datatype is None):
            return None
        if t1.datatype and t2.datatype and t1.datatype != t2.datatype:
            return None
    return compare_terms(t1, t2)


def local_name(uri: str) -> str:
    """ref: src/rdfquery.js getLocalName — last # else last /."""
    idx = uri.rfind("#")
    if idx < 0:
        idx = uri.rfind("/")
    if idx < 0:
        raise ValueError(f"cannot get local name of {uri}")
    return uri[idx + 1 :]
