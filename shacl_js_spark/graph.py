"""Distributed triples DataFrame: schema, loaders, term-column helpers.

The data graph is a DataFrame with fixed schema (SURVEY.md §1.5) replacing the
reference's rdflib statement store (src/rdflib-graph.js:34-44):

    s       encoded subject   (<iri> | _:id)        -- join key
    p       encoded predicate (<iri>)               -- filter key
    o       encoded object                          -- join key
    o_v     object lexical value / iri / bnode id
    o_kind  'iri' | 'bnode' | 'literal'
    o_dt    datatype iri (literals; xsd:string for plain)
    o_lang  language tag or null
    g       graph uri

Single-string encoded terms give 1-column equi-joins; decomposed o_* columns
keep constraint predicates JVM-side (no re-parsing).  At 100 TB this layout
is Parquet/Iceberg-friendly: filters on `p` prune row groups, and only the
columns a constraint touches are read.

The encoding is the injective N-Triples-style one of terms.encode_term:
<iri>, _:id, "lex", "lex"@lang, "lex"^^<dt>, where lex escapes backslash,
'"', LF, CR and tab (terms._ESCAPES, in that order).  Spark code builds
encoded terms only through iri_cols / literal_cols / triple_cols below, the
Column twin of encode_term, so driver and executors agree on every join key.

Term frames (focus/value sets flowing through validation) use 5-column groups
with a prefix: {x}, {x}_v, {x}_kind, {x}_dt, {x}_lang.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from .terms import (
    _ESCAPES,
    IRI_KIND,
    LITERAL_KIND,
    RDF_LANGSTRING,
    XSD_STRING,
    Term,
    encode_term,
)
from .turtle import Triple, parse_turtle

TRIPLE_FIELDS = ["s", "p", "o", "o_v", "o_kind", "o_dt", "o_lang", "g"]
TRIPLE_SCHEMA = StructType([StructField(n, StringType(), True) for n in TRIPLE_FIELDS])

DEFAULT_GRAPH = "urn:x-shacl:dataGraph"  # ref: index.js:26


def ordered_pairs(arr, a_name: str = "a", b_name: str = "b"):
    """array<T> (assumed sorted, distinct) -> array<struct<a,b>> of all
    ordered pairs (a before b in the array).  The map-side pair-explosion
    idiom shared by co-occurrence emission, grouped n-gram pair generation,
    and the co-occurrence oracle query — one definition so the slice
    arithmetic can't drift between them."""
    from pyspark.sql import functions as F

    arr = F.col(arr) if isinstance(arr, str) else arr
    return F.flatten(
        F.transform(
            arr,
            lambda a, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda b: F.struct(a.alias(a_name), b.alias(b_name)),
            ),
        )
    )


#: Spark's default for spark.sql.objectHashAggregate.sortBased.fallbackThreshold
_OBJ_AGG_DEFAULT = "128"


def ensure_object_agg_headroom(spark: SparkSession, threshold: int = 65536) -> None:
    """Raise the ObjectHashAggregate sort-fallback threshold if it is still at
    Spark's conservative default (128 grouping keys per task).

    collect_set/collect_list aggregations whose per-group buffers are BOUNDED
    by design (entity sets capped by the lexicon universe, pair lists capped
    by max_df / max_bucket) degrade to a full sort-based aggregation as soon
    as a task sees more than 128 distinct keys — at any realistic scale that
    is every task, so the 'object hash' aggregate was effectively always a
    sort of its whole input (measured 2.3 s -> 0.8 s on the doc->entity-set
    aggregation at sf0.1 x20).  65536 keys x a few-hundred-byte bounded
    buffer stays far below task memory at any corpus size; only the DEFAULT
    is upgraded, so an operator-set value always wins.  UNBOUNDED-buffer
    aggregations must not rely on this helper."""
    key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    if spark.conf.get(key, _OBJ_AGG_DEFAULT) == _OBJ_AGG_DEFAULT:
        spark.conf.set(key, str(threshold))


_warned_checkpoint_cleanup = False


def cut_lineage(df: DataFrame) -> DataFrame:
    """Materialize `df` eagerly and truncate its lineage: each fixpoint round
    (paths, recursive sh:node levels, connected components) and the eager
    dedup and packing results.  Uses RELIABLE checkpointing — survives
    executor loss, required for long fixpoints on a real cluster — whenever
    the session has a checkpoint dir configured (sc.setCheckpointDir,
    typically HDFS/object-store); falls back to fast localCheckpoint
    otherwise (single-host / tests).  Either way each stage runs once.

    Storage hygiene: each fixpoint iteration leaves a checkpoint file behind;
    superseded iterations go out of scope, and Spark's context cleaner
    deletes their files IF `spark.cleaner.referenceTracking.cleanCheckpoints`
    is true (a session-start conf — it cannot be set here).  All in-repo
    session builders (bench.py, scripts/*) set it; the warning below covers
    externally-built sessions, where a long fixpoint without the cleaner
    exhausts checkpoint storage."""
    global _warned_checkpoint_cleanup
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        if not _warned_checkpoint_cleanup:
            conf = sc.getConf().get("spark.cleaner.referenceTracking.cleanCheckpoints", "false")
            if conf.lower() != "true":
                import logging

                logging.getLogger(__name__).warning(
                    "reliable checkpointing is active but "
                    "spark.cleaner.referenceTracking.cleanCheckpoints is not "
                    "enabled: superseded fixpoint checkpoints will accumulate "
                    "in %s — set the conf at session start for long jobs",
                    sc.getCheckpointDir(),
                )
            _warned_checkpoint_cleanup = True
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def observed_cut(df: DataFrame, obs: Observation) -> tuple[DataFrame, dict]:
    """cut_lineage(df) and the values of `obs`, an Observation the caller
    attached (DataFrame.observe) to `df` or to a frame `df` is built from.
    The checkpoint job fills them in, exactly under either checkpoint kind,
    so a fixpoint learns its frontier size and a skew guard its drop count
    without a probe job of their own."""
    out = cut_lineage(df)
    return out, obs.get


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType | str) -> DataFrame:
    """A frame of driver-side `rows` (tuples; `schema` a StructType or DDL).
    Built from an Arrow table it is a LocalRelation, which needs no job and
    no Python worker; `createDataFrame(list)` is an RDD that starts Python
    workers on every action over it."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = zip(*rows) if rows else ([] for _ in arrow)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(list(c), f.type) for c, f in zip(cols, arrow)], schema=arrow))


def term_to_row_parts(t: Term) -> tuple[str, str, str, str | None, str | None]:
    """(enc, v, kind, dt, lang) for a term."""
    return (t.encoded(), t.value, t.kind, t.datatype, t.lang)


def triples_to_rows(triples: list[Triple], g: str = DEFAULT_GRAPH) -> list[tuple]:
    rows = []
    for s, p, o in triples:
        enc_o, v, kind, dt, lang = term_to_row_parts(o)
        rows.append((s.encoded(), p.encoded(), enc_o, v, kind, dt, lang, g))
    return rows


def triples_df(spark: SparkSession, triples: list[Triple], g: str = DEFAULT_GRAPH) -> DataFrame:
    # RDF graphs have SET semantics (the reference's rdflib store dedups on
    # insert): a source document stating the same triple twice must not
    # inflate minCount/maxCount/uniqueLang/qualified counts. Dedup is cheap
    # here (driver-built list); DataFrame-sourced callers own their own
    # set-semantics (documented on Engine).
    seen = set()
    rows = []
    for r in triples_to_rows(triples, g):
        key = (r[0], r[1], r[2])
        if key not in seen:
            seen.add(key)
            rows.append(r)
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def turtle_df(spark: SparkSession, text: str, g: str = DEFAULT_GRAPH) -> DataFrame:
    trips, _ = parse_turtle(text)
    return triples_df(spark, trips, g)


# --- column helpers -------------------------------------------------------

def _null() -> Column:
    return F.lit(None).cast("string")


def term_cols(prefix: str) -> list[str]:
    return [prefix, f"{prefix}_v", f"{prefix}_kind", f"{prefix}_dt", f"{prefix}_lang"]


def subject_decomposed(col: str = "s", prefix: str = "focus") -> list[Column]:
    """Decompose an encoded subject column (iri/bnode only) into a 5-col group."""
    c = F.col(col)
    is_bnode = c.startswith("_:")
    return [
        c.alias(prefix),
        F.when(is_bnode, c).otherwise(F.expr(f"substring({col}, 2, length({col}) - 2)")).alias(f"{prefix}_v"),
        F.when(is_bnode, F.lit("bnode")).otherwise(F.lit("iri")).alias(f"{prefix}_kind"),
        _null().alias(f"{prefix}_dt"),
        _null().alias(f"{prefix}_lang"),
    ]


def object_decomposed(prefix: str = "value") -> list[Column]:
    return [
        F.col("o").alias(prefix),
        F.col("o_v").alias(f"{prefix}_v"),
        F.col("o_kind").alias(f"{prefix}_kind"),
        F.col("o_dt").alias(f"{prefix}_dt"),
        F.col("o_lang").alias(f"{prefix}_lang"),
    ]


def _as_col(x) -> Column:
    """A Column as is; a str as a constant."""
    return x if isinstance(x, Column) else F.lit(x)


def iri_cols(value) -> list[Column]:
    """The object group (o, o_v, o_kind, o_dt, o_lang) of the IRI `value`
    (a Column, or a str constant), unaliased."""
    v = _as_col(value)
    return [F.concat(F.lit("<"), v, F.lit(">")), v, F.lit(IRI_KIND), _null(), _null()]


def literal_cols(value, datatype: str = XSD_STRING, lang=None) -> list[Column]:
    """The object group (o, o_v, o_kind, o_dt, o_lang) of a literal with
    lexical form `value` (a Column, or a str constant), unaliased — the
    Column twin of terms.encode_term.  A `lang` (a Column or str, non-empty
    on every row) makes it rdf:langString; otherwise the datatype is
    `datatype`, and only a non-xsd:string one is written into `o`."""
    v = _as_col(value)
    lex = v
    for raw, esc in _ESCAPES:
        lex = F.replace(lex, F.lit(raw), F.lit(esc))
    if lang is not None:
        tag = _as_col(lang)
        return [F.concat(F.lit('"'), lex, F.lit('"@'), tag), v, F.lit(LITERAL_KIND),
                F.lit(RDF_LANGSTRING), tag]
    suffix = '"' if datatype == XSD_STRING else f'"^^<{datatype}>'
    return [F.concat(F.lit('"'), lex, F.lit(suffix)), v, F.lit(LITERAL_KIND),
            F.lit(datatype), _null()]


def triple_cols(s_enc: Column, p, o_cols: list[Column], g: str) -> list[Column]:
    """One row in TRIPLE_FIELDS order: the encoded subject, the predicate
    (an IRI string, or a Column that is already encoded), a 5-column object
    group (iri_cols, literal_cols or any term group) and the graph name.
    The columns are aliased, so they serve both `select` and `F.struct`."""
    p_enc = p if isinstance(p, Column) else F.lit(encode_term(p, IRI_KIND, None, None))
    return [c.alias(n) for c, n in zip([s_enc, p_enc, *o_cols, F.lit(g)], TRIPLE_FIELDS)]


def t_triples(df: DataFrame) -> DataFrame:
    """The triples projected to fresh attribute ids (t_s, t_p, t_o, t_o_v,
    t_o_kind, t_o_dt, t_o_lang) so repeated self-joins of the data graph
    stay unambiguous."""
    return df.select(*[F.col(c).alias("t_" + c) for c in TRIPLE_FIELDS if c != "g"])


def terms_frame(spark: SparkSession, terms: list[Term], prefix: str = "focus") -> DataFrame:
    schema = StructType([StructField(n, StringType(), True) for n in term_cols(prefix)])
    return local_frame(spark, [term_to_row_parts(t) for t in terms], schema)


def ntriples_lines(df: DataFrame) -> DataFrame:
    """Serialize a TRIPLE_SCHEMA frame to N-Triples lines (one string column
    'line').  The encoded term columns are already N-Triples lexical forms
    (ref sink behavior: report graph -> N-Triples, index.js:168-175)."""
    return df.select(
        F.concat_ws(" ", F.col("s"), F.col("p"), F.col("o"), F.lit(".")).alias("line")
    )


# JS Number() coercion analog for numeric constraint params/values
# (ref: shared/dash.js:223-249 uses Number($value.lex)):
def js_number(col: Column) -> Column:
    """Cast a lexical string like JS Number(): '' -> 0, invalid -> null (NaN)."""
    return F.when(F.trim(col) == "", F.lit(0.0)).otherwise(col.try_cast("double"))
