"""Triple emission: linked mentions + doc/media metadata -> TRIPLE_SCHEMA rows.

The construct-operator analog (ref: RDFQuery construct, src/rdfquery.js:311-357
— triple templates over solutions), expressed as selects/unions over the link
and span frames.  Emitted graph:

    doc  rdf:type        ex:Document
    doc  ex:language     "lang"
    doc  ex:source       src IRI
    doc  ex:mentions     entity           (distinct per doc)
    doc  ex:hasMedia     media IRI        (from media spans)
    media rdf:type       ex:Image/Audio/Video
    ent  rdf:type        ex:Entity
    ent  rdfs:label      "surface"        (per surface that links to it)
    entA ex:coOccursWith entB             (A < B, same doc, distinct)

co-occurrence is the shuffle-heavy stage (self-join per doc); at scale the
doc->entity frame is pre-aggregated (collect_set per doc) so the pair
explosion happens map-side from grouped rows, not via a row-level self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import ensure_object_agg_headroom, iri_cols, literal_cols, ordered_pairs, triple_cols
from ..terms import NAMESPACES

EX = "http://example.org/kg#"
RDF_TYPE = NAMESPACES["rdf"] + "type"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"

G = "urn:x-shacl:dataGraph"


def _triple(df, s_col, p_iri: str, o_cols) -> DataFrame:
    return df.select(*triple_cols(iri_cols(s_col)[0], p_iri, o_cols, G))


def emit_triples(
    spark: SparkSession, docs: DataFrame, links: DataFrame
) -> DataFrame:
    # the doc->entity collect_set below has lexicon-bounded buffers; keep it
    # an actual hash aggregation instead of the default 128-key sort fallback
    ensure_object_agg_headroom(spark)
    doc_iri = F.concat(F.lit(EX + "doc/"), F.col("doc_id"))
    ent_iri = F.concat(F.lit(EX + "entity/"), F.col("entity_id"))

    doc_meta = docs.select("doc_id", "lang", "source")
    parts = [
        _triple(doc_meta, doc_iri, RDF_TYPE, iri_cols(EX + "Document")),
        _triple(doc_meta, doc_iri, EX + "language", literal_cols(F.col("lang"))),
        _triple(
            doc_meta, doc_iri, EX + "source",
            iri_cols(F.concat(F.lit(EX + "source/"), F.col("source"))),
        ),
    ]

    # Dedup the NARROW frames before widening to triples: a doc mentioning
    # an entity via several surfaces, and every link row re-asserting the
    # entity's type/label, would otherwise inflate the union ~5x (measured
    # 14.5M raw -> 2.9M distinct at sf0.1x20) and push that inflation as
    # WIDE triple rows through the final canonicalize dedup shuffle.  The
    # narrow distincts are partial-aggregated map-side (within-doc dups
    # combine before the exchange) and the entity frame collapses to
    # lexicon size, so the expensive wide dedup only handles the dups that
    # canonicalization itself creates.
    # one shuffle serves both the mentions branch and co-occurrence: group
    # per doc (collect_set dedups inside the aggregation buffer — bounded by
    # the lexicon-sized entity universe, not corpus size), then re-derive
    # the distinct (doc, entity) rows MAP-SIDE by exploding the grouped sets
    grouped = links.select("doc_id", "entity_id").groupBy("doc_id").agg(
        F.sort_array(F.collect_set("entity_id")).alias("ents")
    )
    doc_ents = grouped.select("doc_id", F.explode("ents").alias("entity_id"))
    parts.append(_triple(doc_ents, doc_iri, EX + "mentions", iri_cols(ent_iri)))

    ents = links.select("entity_id", "surface").distinct()
    parts.append(_triple(ents, ent_iri, RDF_TYPE, iri_cols(EX + "Entity")))
    parts.append(_triple(ents, ent_iri, RDFS_LABEL, literal_cols(F.col("surface"))))

    # media spans: filter the ARRAY before exploding — text spans are 2/3 of
    # all spans and carry the heavy text payload strings; exploding them into
    # rows only to filter them out dominated this branch's cost (explode-
    # then-filter and filter-then-explode emit the same media rows, order
    # within a doc preserved; no positional index is used here)
    media = (
        docs.select(
            "doc_id",
            F.explode(F.filter("spans", lambda s: s["kind"] != "text")).alias("span"),
        )
        .select(
            "doc_id",
            F.col("span.media_ref").alias("media_ref"),
            F.initcap(F.col("span.kind")).alias("media_kind"),
        )
    )
    # md5 (not sha1): portable across engines so the oracle can rebuild it
    media_iri = F.concat(F.lit(EX + "media/"), F.md5(F.col("media_ref")))
    parts.append(_triple(media, doc_iri, EX + "hasMedia", iri_cols(media_iri)))
    # media node typing is per media object, not per referencing doc — the
    # narrow distinct collapses the shared-media fan-in before widening
    parts.append(
        _triple(
            media.select("media_ref", "media_kind").distinct(), media_iri, RDF_TYPE,
            iri_cols(F.concat(F.lit(EX), F.col("media_kind"))),
        )
    )

    # co-occurrence: pairs exploded map-side from the grouped sets above,
    # global dedup via partial-agg distinct (hot pairs combine map-side
    # before the shuffle)
    pairs = grouped.select(
        "doc_id", F.explode(ordered_pairs("ents", "ea", "eb")).alias("pair")
    ).select(F.col("pair.ea").alias("ea"), F.col("pair.eb").alias("eb")).distinct()
    ea_iri = F.concat(F.lit(EX + "entity/"), F.col("ea"))
    eb_iri = F.concat(F.lit(EX + "entity/"), F.col("eb"))
    parts.append(_triple(pairs, ea_iri, EX + "coOccursWith", iri_cols(eb_iri)))

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
