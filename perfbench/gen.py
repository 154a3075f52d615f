"""Seeded input generator for the benchmark workloads.

Every input the benchmark hands to the program is made here from one seed,
so the same seed gives byte-identical inputs and the program under test
receives only files and strings:

* ``documents``  - a synthetic corpus in the pipeline's ``documents.parquet``
  input schema (doc_id, text, lang, source, n_chars), replicated xK with a seeded
  per-replica token shuffle (the ``scripts/gen_sf.py`` replication style:
  token counts are preserved, so work scales linearly with K);
* ``kg_graph``   - a knowledge graph of the pipeline's shape (documents,
  entities, media, co-occurrence) as triples in the program's triple schema,
  with planted violations, split into a base half and document-sliced delta
  batches: a batch holds its documents and every entity they are the first
  to mention, so a node's ``rdf:type`` never arrives after a mention of it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# corpus vocabulary: the synthetic testdata's 30 tokens (25 of them are
# entity-lexicon surfaces in shacl_js_spark.pipeline.synth)
VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
KEY_OFFSET = 10_000_000  # replica k shifts doc ids by k * KEY_OFFSET
TOKENS_MIN, TOKENS_MAX = 10, 90


def documents(seed: int, n_docs: int, replicas: int) -> pa.Table:
    """Base corpus of `n_docs` documents plus `replicas - 1` token-shuffled
    copies with shifted doc ids."""
    rng = np.random.default_rng([seed, 0])
    # document lengths follow a fixed cycle, so that every seed gives the
    # same amount of text; the seed draws the tokens and languages
    n_tok = TOKENS_MIN + np.arange(n_docs) * 37 % (TOKENS_MAX - TOKENS_MIN + 1)
    vocab = np.array(VOCAB)
    texts = [vocab[rng.integers(0, len(VOCAB), size=n)].tolist() for n in n_tok]
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P).tolist()
    ids, out_texts, out_langs, sources = [], [], [], []
    for k in range(replicas):
        for d in range(n_docs):
            toks = texts[d]
            if k:
                toks = list(toks)
                np.random.default_rng([seed, k, d]).shuffle(toks)
            ids.append(k * KEY_OFFSET + d)
            out_texts.append(" ".join(toks))
            out_langs.append(langs[d])
            sources.append(f"src{d % N_SOURCES}")
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(out_texts, pa.string()),
        "lang": pa.array(out_langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in out_texts], pa.int64()),
    })


def write_documents(table: pa.Table, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return out_dir


# ------------------------------------------------------------------ kg graph

EX = "http://example.org/kg#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
XSD = "http://www.w3.org/2001/XMLSchema#"
GRAPH = "urn:x-shacl:dataGraph"
TRIPLE_FIELDS = ["s", "p", "o", "o_v", "o_kind", "o_dt", "o_lang", "g"]

SERIES_LEN = 4          # documents d, d+1, .. of one series chain by ex:partOf
MENTIONS = (2, 6)       # entities a document mentions, inclusive range
PLANT_P = 0.02          # chance of each planted defect per document / entity


def _iri(v: str) -> tuple:
    return f"<{v}>", v, "iri", None, None


def _lit(v: str, dt: str = XSD + "string") -> tuple:
    o = f'"{v}"' if dt == XSD + "string" else f'"{v}"^^<{dt}>'
    return o, v, "literal", dt, None


def kg_graph(seed: int, n_docs: int, n_batches: int) -> tuple[pa.Table, list[pa.Table]]:
    """-> (base graph: the first half of the documents, delta batches: the
    second half sliced into `n_batches` runs of consecutive documents with
    about the same number of triples).

    Planted defects, each with chance PLANT_P: a document without
    ex:language (minCount), with two (maxCount), with a literal ex:hasMedia
    (nodeKind), mentioning a node that is never typed (class); an entity
    whose label is an integer (datatype)."""
    rng = np.random.default_rng([seed, 4])
    n_ents = max(8, n_docs // 2)
    # Zipf-like entity popularity, as in a real corpus
    pop = 1.0 / np.arange(1, n_ents + 1)
    pop /= pop.sum()
    seen: set[int] = set()
    pairs_seen: set[tuple[int, int]] = set()

    def doc_triples(d: int) -> list[tuple]:
        doc = f"{EX}doc/{d}"
        plant = rng.random(4) < PLANT_P
        out = [(doc, RDF_TYPE, _iri(EX + "Document"))]
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        if not plant[0]:
            out.append((doc, EX + "language", _lit(lang)))
        if plant[1]:
            out.append((doc, EX + "language", _lit("xx")))
        out.append((doc, EX + "source", _iri(f"{EX}source/src{d % N_SOURCES}")))
        if d % SERIES_LEN:
            out.append((doc, EX + "partOf", _iri(f"{EX}doc/{d - 1}")))
        if plant[2]:
            out.append((doc, EX + "hasMedia", _lit(f"media {d}")))
        elif d % 4 == 0:
            media = f"{EX}media/{d}"
            out.append((doc, EX + "hasMedia", _iri(media)))
            out.append((media, RDF_TYPE, _iri(EX + "Image")))
        k = int(rng.integers(MENTIONS[0], MENTIONS[1] + 1))
        ents = sorted({int(e) for e in rng.choice(n_ents, size=k, p=pop)})
        for e in ents:
            ent = f"{EX}entity/E{e}"
            out.append((doc, EX + "mentions", _iri(ent)))
            if e not in seen:
                seen.add(e)
                out.append((ent, RDF_TYPE, _iri(EX + "Entity")))
                label = _lit(str(e), XSD + "integer") if rng.random() < PLANT_P else _lit(VOCAB[e % len(VOCAB)] + f" {e}")
                out.append((ent, RDFS_LABEL, label))
        for a, b in ((a, b) for i, a in enumerate(ents) for b in ents[i + 1:]):
            if (a, b) not in pairs_seen:
                pairs_seen.add((a, b))
                out.append((f"{EX}entity/E{a}", EX + "coOccursWith", _iri(f"{EX}entity/E{b}")))
        if plant[3]:
            out.append((doc, EX + "mentions", _iri(f"{EX}ghost/{d}")))
        return out

    def table(docs: list[list[tuple]]) -> pa.Table:
        rows = [(f"<{s}>", f"<{p}>", *o, GRAPH) for triples in docs for s, p, o in triples]
        return pa.table({f: pa.array([r[i] for r in rows], pa.string())
                         for i, f in enumerate(TRIPLE_FIELDS)})

    docs = [doc_triples(d) for d in range(n_docs)]
    half = n_docs // 2
    # cut the second half where the running triple count crosses each
    # k / n_batches share, so every batch carries about the same work
    sizes = np.cumsum([len(t) for t in docs[half:]])
    cuts = [half, *(half + 1 + np.searchsorted(sizes, sizes[-1] * np.arange(1, n_batches) / n_batches)), n_docs]
    return table(docs[:half]), [table(docs[lo:hi]) for lo, hi in zip(cuts, cuts[1:])]
