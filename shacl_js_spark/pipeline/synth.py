"""Deterministic interleaved-documents synthesis.

Produces the north-rule input table
    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)
derived 1:1 from the driver-provided ``documents.parquet`` (doc_id, text,
lang, source, n_chars) at a scale factor — no external data, fully
deterministic (seeded by doc_id content, not RNG state), so every run and
every parallelism level sees identical bytes.

Text spans are fixed-size token windows of the source text; a media span
(image/audio/video, media_ref = media://<doc>/<i>) is interleaved after every
other text span.  `offset` is the running character offset, making
span-sequence order reconstructible — the per-row invariant
(kind, text, media_ref, offset order) that every downstream stage must
preserve (BASELINE.json input_hint).

Implementation is pure Spark SQL (split + transform/filter + sequence higher-
order functions); no Python in the row path, so it scales with executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import local_frame
from ..ops.dedup import md5_int

TOKENS_PER_SPAN = 8
MEDIA_EVERY = 2  # a media span after every 2nd text span
MEDIA_KINDS = ["image", "audio", "video"]

# documents.parquet (TESTDATA.md), read with it so that no job infers it
DOCUMENTS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
SPAN_SCHEMA = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"

# Fixed entity lexicon over the synthetic corpus vocabulary (TESTDATA.md).
# surface -> [(entity_id, prior)] — multiple candidates force real linking.
_VOCAB = [
    "spark", "join", "filter", "window", "stream", "batch", "query", "table",
    "scan", "merge", "sort", "hash", "group", "order", "key", "value",
    "row", "data", "customer", "line", "part", "small", "fast", "slow", "the",
]
ENTITY_LEXICON: dict[str, list[tuple[str, float]]] = {}
for _i, _w in enumerate(_VOCAB):
    # two candidate entities per surface; deterministic priors
    ENTITY_LEXICON[_w] = [
        (f"ent_{_w}_a", 0.6 + (_i % 3) * 0.05),
        (f"ent_{_w}_b", 0.5 + (_i % 5) * 0.04),
    ]


def interleaved_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read <sf_dir>/documents.parquet -> interleaved spans table."""
    raw = spark.read.schema(DOCUMENTS_SCHEMA).parquet(f"{sf_dir}/documents.parquet")
    return raw_to_interleaved(raw)


# above any doc_id the scale-up generator emits (scripts/gen_sf.py replicas
# occupy k * 1e7, k < 100), so bench replication of an already-replicated
# corpus can never collide ids
REPLICATE_OFFSET = 1_000_000_000


def replicate_docs(spark: SparkSession, raw_docs: DataFrame, replicate: int) -> DataFrame:
    """Deterministically expand a raw documents frame `replicate`-fold with
    collision-free doc_ids — the ONE definition of the bench/scaling corpus
    expansion (four scripts previously copy-pasted it; a missed edit in one
    silently reintroduces id collisions that deflate dedup pair counts)."""
    if replicate <= 1:
        return raw_docs
    rep = spark.range(replicate).select(F.col("id").alias("rep"))
    return raw_docs.crossJoin(rep).select(
        (F.col("doc_id") + F.col("rep") * REPLICATE_OFFSET).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )


def raw_to_interleaved(raw: DataFrame) -> DataFrame:
    """Span layout is constructed positionally (T T M T T M ... for
    MEDIA_EVERY=2): output index k holds a media span when (k+1) % 3 == 0
    (the j-th media, j=(k+1)/3), else the i-th text span with
    i = k - (k+1)//3.  No array_sort: an interpreted comparator lambda over
    every span pair costed ~70% of pipeline wall time at 10^6 docs.

    The doc-prefix projection happens FIRST (separate select): a column
    reference captured inside a higher-order-function lambda resolves against
    the OUTPUT projection in Spark 4, so building `concat('doc-', doc_id)`
    inline while also aliasing it to doc_id doubled the prefix inside
    media_ref (silent until the media triples got a value-hash oracle)."""
    raw = raw.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("doc_id"),
        "text", "lang", "source",
    ).select(
        # r6: split ONCE into an attribute — an inline split(text) referenced
        # inside the transform lambda below is re-evaluated per span element
        # (HOF lambda bodies re-execute embedded subexpressions), measured
        # ~15% of the span-build stage at x20
        "doc_id", F.split(F.col("text"), " ").alias("_toks"), "lang", "source",
    )
    toks = F.col("_toks")
    n_spans = F.ceil(F.size(toks) / F.lit(TOKENS_PER_SPAN)).cast("int")
    doc = F.col("doc_id")
    n_media = F.floor(n_spans / F.lit(MEDIA_EVERY)).cast("int")
    total = n_spans + n_media

    blk = MEDIA_EVERY + 1  # output block: MEDIA_EVERY text spans + 1 media

    def span_at(k):
        is_media = (k + 1) % blk == 0
        j = ((k + 1) / blk).cast("int")           # media ordinal (1-based)
        i = (k - F.floor((k + 1) / blk)).cast("int")  # text ordinal (0-based)
        # portable md5-prefix hash (not xxhash64) so oracles can recompute it
        media_kind = F.element_at(
            F.array(*[F.lit(m) for m in MEDIA_KINDS]),
            (md5_int(F.concat_ws("/", doc, j.cast("string"))) % 3 + 1).cast("int"),
        )
        return F.when(
            is_media,
            F.struct(
                media_kind.alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.concat(F.lit("media://"), doc, F.lit("/"), j.cast("string")).alias("media_ref"),
                (j * TOKENS_PER_SPAN * MEDIA_EVERY).cast("int").alias("offset"),
            ),
        ).otherwise(
            F.struct(
                F.lit("text").alias("kind"),
                F.concat_ws(" ", F.slice(toks, i * TOKENS_PER_SPAN + 1, TOKENS_PER_SPAN)).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                (i * TOKENS_PER_SPAN).cast("int").alias("offset"),
            )
        )

    spans = F.transform(F.sequence(F.lit(0), total - 1), span_at)
    return raw.select(
        doc.alias("doc_id"),
        spans.cast(SPAN_SCHEMA).alias("spans"),
        F.col("lang"),
        F.col("source"),
    )


def lexicon_df(spark: SparkSession) -> DataFrame:
    """Broadcastable candidate table: (surface, entity_id, prior)."""
    rows = [
        (surface, ent, prior)
        for surface, cands in ENTITY_LEXICON.items()
        for (ent, prior) in cands
    ]
    return local_frame(spark, rows, "surface string, entity_id string, prior double")


def lexicon_grouped_df(spark: SparkSession) -> DataFrame:
    """(surface, _cands: array<struct<entity_id,prior>>) built DRIVER-SIDE:
    the dictionary is in-memory already, so grouping it with a Spark
    aggregation would add a pointless exchange to every plan that broadcasts
    it (the link stage asserts zero non-broadcast exchanges)."""
    rows = [(surface, cands) for surface, cands in ENTITY_LEXICON.items()]
    return local_frame(
        spark, rows, "surface string, _cands array<struct<entity_id:string, prior:double>>"
    )
