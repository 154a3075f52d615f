"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship: full KG-construction + SHACL validation on sf0.001,
               returns the canonical triples DataFrame.
queries()    — one entry per implemented operator family (SURVEY.md §2):
               SHACL constraint validators (engine-run, SQL oracle), RDF query
               operators (match/path algebra), KG pipeline stages, dedup /
               similarity / text-analysis ops, windowed event analytics,
               classic joins/aggregations.
oracle_sql() — DuckDB-runnable ANSI SQL equivalents (same column names).

Numeric discipline for the value-hash gate: money sums go through
DECIMAL(38,2) (exact, engine-independent); float similarity is computed in
double with identical operand order on both sides and rounded to 6 digits.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shacl_js_spark.graph import TRIPLE_FIELDS, iri_cols, literal_cols, triple_cols
from shacl_js_spark.localgraph import LocalGraph
from shacl_js_spark.ops.dedup import (
    LSH_BANDS,
    MAX_LSH_BUCKET,
    MINHASH_P,
    N_HASHES,
    cosine,
    dup_clusters,
    embedding_cosine_pairs,
    exact_dedup_groups,
    hash_params,
    lsh_candidate_pairs,
    minhash_jaccard_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from shacl_js_spark.ops.similarity import brute_force_topk, ivf_assign
from shacl_js_spark.ops.text import fingerprint, lang_id, quality_score, token_stats
from shacl_js_spark.pipeline.canonicalize import alias_edges, connected_components
from shacl_js_spark.pipeline.synth import ENTITY_LEXICON, interleaved_documents, lexicon_df
from shacl_js_spark.graph import ordered_pairs
from shacl_js_spark.plans.query import RDFQueryDF
from shacl_js_spark.shapes import Path
from shacl_js_spark.terms import XSD_STRING
from shacl_js_spark.validation import Engine

EX = "http://ex/"


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

def _pq(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Build-once, persist-once shared query inputs.  The driver calls each
# queries() entry independently, but many entries derive the SAME input
# (the customer/order triple graph, the tag graph, the interleaved docs);
# a real deployment validates many shape sets over ONE materialized graph,
# not a rebuilt graph per shape.  Caching also fixes a leak: the previous
# per-call .persist() was never released, so a full gate run pinned one
# copy of the same input per query.  Entries are keyed by (name, sf_dir)
# and invalidated when a different SparkSession shows up (identity check —
# a DataFrame from a stopped session must never be served).  EVICTION: the
# gate only ever runs one sf_dir per session, so on every insert, entries
# for a different sf_dir or a different session are unpersisted and dropped
# — a long-lived session iterating sf_dirs holds one sf_dir's frames, not
# an unbounded accumulation.
_INPUT_CACHE: dict[tuple[str, str], tuple[SparkSession, DataFrame]] = {}


def _evict_stale(spark: SparkSession, sf_dir: str) -> None:
    # ASSUMES one sf_dir per session (every in-repo caller: driver gate,
    # check_oracle, bench).  A session that deliberately alternates sf_dirs
    # would thrash this cache — recompute cost only, never wrong results,
    # because eviction happens strictly on insert of a DIFFERENT key, not
    # while a served frame's sf_dir is still the active one.  If cross-sf
    # sessions ever become a pattern, switch to a count-threshold eviction.
    for key, (sess, df) in list(_INPUT_CACHE.items()):
        if sess is spark and key[1] == sf_dir:
            continue
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — executors freed the blocks
        del _INPUT_CACHE[key]


def _cached_input(name: str, spark: SparkSession, sf_dir: str, build) -> DataFrame:
    key = (name, sf_dir)
    hit = _INPUT_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    _evict_stale(spark, sf_dir)
    df = build().persist()
    _INPUT_CACHE[key] = (spark, df)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared interleaved-docs corpus (persisted once per sf_dir/session;
    feeds the kg_* stage queries and the flagship entry)."""
    return _cached_input(
        "interleaved_docs", spark, sf_dir, lambda: interleaved_documents(spark, sf_dir)
    )


def _spo(s_col, p_iri, o_cols) -> list:
    """One triple row about the IRI `s_col`, in the gate graph "g"."""
    return triple_cols(iri_cols(s_col)[0], p_iri, o_cols, "g")


def _iri_triple(df, s_col, p_iri, o_col) -> DataFrame:
    return df.select(*_spo(s_col, p_iri, iri_cols(o_col)))


def _lit_triple(df, s_col, p_iri, o_col, dt=XSD_STRING) -> DataFrame:
    return df.select(*_spo(s_col, p_iri, literal_cols(o_col, dt)))


def _iri_struct(s_col, p_iri, o_col, cond=None):
    st = F.struct(*_spo(s_col, p_iri, iri_cols(o_col)))
    return st if cond is None else F.when(cond, st)


def _lit_struct(s_col, p_iri, o_col):
    return F.struct(*_spo(s_col, p_iri, literal_cols(o_col)))


def _inline_triples(df, structs) -> DataFrame:
    """One scan, all triple patterns: explode an array of (possibly
    conditional) triple structs, dropping the null (condition-false) slots."""
    return df.select(
        F.inline(F.filter(F.array(*structs), lambda x: x.isNotNull()))
    ).select(*TRIPLE_FIELDS)


def _customer_triples(spark, sf_dir) -> DataFrame:
    """Shared tpch->RDF mapping used by the SHACL queries."""
    # the driver parquet files are single-row-group (one scan split); spread
    # the triple build + downstream engine joins across the cluster
    par = spark.sparkContext.defaultParallelism
    cust = _pq(spark, sf_dir, "customer").repartition(par)
    orders = _pq(spark, sf_dir, "orders").repartition(par)
    c_iri = F.concat(F.lit(EX + "c/"), F.col("c_custkey").cast("string"))
    o_cust_iri = F.concat(F.lit(EX + "c/"), F.col("o_custkey").cast("string"))
    o_iri = F.concat(F.lit(EX + "o/"), F.col("o_orderkey").cast("string"))
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    # one scan per source table (inline-exploded triple structs), not one
    # scan per triple pattern: 8 union branches = 8 parquet scans + 8 codegen
    # stages; this emits all patterns of a table in a single projection
    cust_triples = _inline_triples(
        cust,
        [
            _iri_struct(c_iri, rdf_type, F.lit(EX + "Customer")),
            _lit_struct(c_iri, EX + "name", F.col("c_name")),
            _lit_struct(c_iri, EX + "segment", F.col("c_mktsegment")),
            # class hierarchy exercised by shacl_class: VIP ⊂ BigCustomer
            _iri_struct(
                c_iri, rdf_type, F.lit(EX + "BigCustomer"),
                cond=(F.col("c_acctbal") > 5000) & (F.col("c_acctbal") <= 9000),
            ),
            _iri_struct(c_iri, rdf_type, F.lit(EX + "VIP"), cond=F.col("c_acctbal") > 9000),
        ],
    )
    order_triples = _inline_triples(
        orders,
        [
            _iri_struct(o_cust_iri, EX + "order", o_iri),
            _iri_struct(o_iri, EX + "cust", o_cust_iri),
            _iri_struct(o_iri, rdf_type, F.lit(EX + "Order")),
        ],
    )
    hier = spark.createDataFrame([(EX + "VIP", EX + "BigCustomer")], "a string, b string")
    hier_triples = _iri_triple(
        hier, F.col("a"), "http://www.w3.org/2000/01/rdf-schema#subClassOf", F.col("b")
    )
    return cust_triples.unionByName(order_triples).unionByName(hier_triples)


def _shacl_violations(spark, sf_dir, shapes_ttl: str) -> DataFrame:
    # persist the derived triples once per (input, session): the engine reads
    # them several times (target scan, per-constraint joins) and ~10 queries
    # share this exact graph; the class hierarchy is known statically here,
    # so pass it instead of collecting it from the data
    data = _cached_input(
        "customer_triples", spark, sf_dir, lambda: _customer_triples(spark, sf_dir)
    )
    engine = Engine(
        spark, data, LocalGraph.from_turtle(shapes_ttl),
        subclass_edges={f"<{EX}BigCustomer>": {f"<{EX}VIP>"}},
    )
    return engine.report_df()


_SHAPES_PREFIX = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://ex/> .
"""


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Full KG construction on sf0.001 + SHACL validation; returns the
    canonical triples DataFrame (driver collects)."""
    from shacl_js_spark.pipeline.canonicalize import canonicalize_triples
    from shacl_js_spark.pipeline.emit import EX as KG_EX, emit_triples
    from shacl_js_spark.pipeline.extract import extract_mentions
    from shacl_js_spark.pipeline.link import link_entities
    from shacl_js_spark.pipeline.materialize import KG_SHAPES_TTL

    sf_dir = "/root/testdata/sf0.001"
    docs = _docs(spark, sf_dir)
    mentions = extract_mentions(spark, docs)
    links = link_entities(spark, mentions)
    raw = emit_triples(spark, docs, links)
    mapping = connected_components(spark, alias_edges(spark))
    # persisted: the report's scans and the driver's later collect share
    # one run of the pipeline
    triples = _cached_input(
        "kg_triples", spark, sf_dir,
        lambda: canonicalize_triples(spark, raw, mapping, KG_EX + "entity/"),
    )
    # emit_triples writes no rdfs:subClassOf edge, so the class hierarchy is
    # empty: no job collects it
    report = Engine(
        spark, triples, LocalGraph.from_turtle(KG_SHAPES_TTL), subclass_edges={}
    ).validate()
    assert report.conforms(), f"KG graph failed SHACL validation: {report.results()[:3]}"
    return triples


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_shacl_mincount(spark, sf_dir):
    ttl = _SHAPES_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:order ; sh:minCount 5 ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("focus")).orderBy("focus")


def q_shacl_maxcount(spark, sf_dir):
    ttl = _SHAPES_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:order ; sh:maxCount 14 ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("focus"))


def q_shacl_pattern(spark, sf_dir):
    ttl = _SHAPES_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:name ; sh:pattern "^Customer#0000000[0-4]" ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("focus"), F.col("value_v").alias("bad_name"))


def q_shacl_class(spark, sf_dir):
    ttl = _SHAPES_PREFIX + """
ex:OrderShape a sh:NodeShape ; sh:targetClass ex:Order ;
  sh:property [ sh:path ex:cust ; sh:class ex:BigCustomer ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("order_iri"), F.col("value_v").alias("cust_iri"))


def q_shacl_in(spark, sf_dir):
    ttl = _SHAPES_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:segment ; sh:in ( "BUILDING" "AUTOMOBILE" "MACHINERY" ) ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("focus"), F.col("value_v").alias("segment"))


def _line_qty_report(spark, sf_dir, constraint: str) -> DataFrame:
    """lineitem qty as xsd:decimal literals; one range constraint applied.
    Shared by the four min/max Inclusive/Exclusive oracle queries
    (validateMin/MaxInclusive/Exclusive, ref shared/dash.js:223-249)."""
    def build():
        li = _pq(spark, sf_dir, "lineitem")
        li_iri = F.concat(
            F.lit(EX + "li/"), F.col("l_orderkey").cast("string"), F.lit("-"),
            F.col("l_linenumber").cast("string"),
        )
        rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        # (l_orderkey, l_linenumber) is not unique in the synthetic data; RDF
        # graphs have set semantics, so dedup the mapped triples.  r6: dedup
        # the NARROW source keys per branch before widening — each branch's
        # (s,p,o) is a pure function of its keys (type ⟵ (ok,ln);
        # qty ⟵ (ok,ln,qty_lex)) and the branches differ in p, so per-branch
        # narrow distincts are set-identical to the old wide
        # dropDuplicates(s,p,o) while replacing a SortAggregate over ~1.2M
        # widened rows (5 first(string) buffers) with two HashAggregates
        # over 2-3 source columns (project early, guide §2.3).
        qty_lex = F.col("l_quantity").cast("decimal(12,1)").cast("string")
        keys = li.select("l_orderkey", "l_linenumber", qty_lex.alias("_qty_lex"))
        type_src = keys.select("l_orderkey", "l_linenumber").distinct()
        qty_src = keys.distinct()
        return _iri_triple(type_src, li_iri, rdf_type, F.lit(EX + "Line")).unionByName(
            _lit_triple(qty_src, li_iri, EX + "qty", F.col("_qty_lex"),
                        dt="http://www.w3.org/2001/XMLSchema#decimal")
        )

    # the biggest derived graph in the suite (~2x lineitem rows) and shared
    # by four range queries: build+dedup once, persist s-partitioned
    data = _cached_input("line_qty_triples", spark, sf_dir, build)
    ttl = _SHAPES_PREFIX + f"""
ex:LineShape a sh:NodeShape ; sh:targetClass ex:Line ;
  sh:property [ sh:path ex:qty ; {constraint} ] .
"""
    # this graph has no rdfs:subClassOf edges — say so, instead of having
    # the engine scan+collect to discover it
    engine = Engine(spark, data, LocalGraph.from_turtle(ttl), subclass_edges={})
    return engine.report_df().select(
        F.col("focus_v").alias("line"), F.col("value_v").alias("qty_lex")
    )


def q_shacl_range(spark, sf_dir):
    return _line_qty_report(spark, sf_dir, "sh:maxInclusive 25")


def q_shacl_mininclusive(spark, sf_dir):
    return _line_qty_report(spark, sf_dir, "sh:minInclusive 5")


def q_shacl_minexclusive(spark, sf_dir):
    return _line_qty_report(spark, sf_dir, "sh:minExclusive 5")


def q_shacl_maxexclusive(spark, sf_dir):
    return _line_qty_report(spark, sf_dir, "sh:maxExclusive 25")


def q_shacl_hasvalue(spark, sf_dir):
    # every customer must have segment BUILDING among its ex:segment values
    ttl = _SHAPES_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:segment ; sh:hasValue "BUILDING" ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("focus"))


def q_shacl_minlength(spark, sf_dir):
    ttl = _SHAPES_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:segment ; sh:minLength 9 ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("focus"), F.col("value_v").alias("segment"))


def q_shacl_xone(spark, sf_dir):
    # exactly one of {starts with A-F, length >= 9} must hold for the segment
    ttl = _SHAPES_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:segment ;
    sh:xone ( [ sh:pattern "^[A-F]" ] [ sh:minLength 9 ] ) ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("focus"), F.col("value_v").alias("segment"))


def q_shacl_and(spark, sf_dir):
    ttl = _SHAPES_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:segment ;
    sh:and ( [ sh:pattern "^[A-Z]" ] [ sh:minLength 9 ] ) ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("focus"), F.col("value_v").alias("segment"))


def q_shacl_or(spark, sf_dir):
    ttl = _SHAPES_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:segment ;
    sh:or ( [ sh:pattern "^A" ] [ sh:pattern "^B" ] ) ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("focus"), F.col("value_v").alias("segment"))


def q_shacl_not(spark, sf_dir):
    ttl = _SHAPES_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:segment ; sh:not [ sh:pattern "^B" ] ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("focus"), F.col("value_v").alias("segment"))


def q_shacl_closed(spark, sf_dir):
    # closed shape allowing only name+segment+order(+rdf:type is NOT
    # auto-ignored -> listed in ignoredProperties): violations are the
    # ex:cust/ex:order-object triples? targets are customers: offending
    # triples are any (customer, p, o) with p outside the allowed set.
    ttl = _SHAPES_PREFIX + """
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:closed true ;
  sh:ignoredProperties ( rdf:type ) ;
  sh:property [ sh:path ex:name ; sh:minCount 0 ] ;
  sh:property [ sh:path ex:segment ; sh:minCount 0 ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    # offending predicate = ex:order (every customer with orders)
    return v.filter(F.col("component").endswith("ClosedConstraintComponent")).select(
        F.col("focus_v").alias("focus"),
        F.col("path").alias("pred"),
        F.col("value_v").alias("value"),
    )


def _tag_triples(spark, sf_dir) -> DataFrame:
    """customers with two comparable tag properties + typed refs for the
    equals/disjoint/nodeKind/uniqueLang/lessThan constraint queries."""
    cust = _pq(spark, sf_dir, "customer")
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    c_iri = F.concat(F.lit(EX + "c/"), F.col("c_custkey").cast("string"))
    tag2 = F.when(F.col("c_acctbal") > 0, F.col("c_mktsegment")).otherwise(F.lit("NONE"))
    lang1 = F.lit("en")
    lang2 = F.when(F.col("c_acctbal") > 5000, F.lit("en")).otherwise(F.lit("de"))

    parts = [
        _iri_triple(cust, c_iri, rdf_type, F.lit(EX + "Customer")),
        _lit_triple(cust, c_iri, EX + "tag1", F.col("c_mktsegment")),
        _lit_triple(cust, c_iri, EX + "tag2", tag2),
        cust.select(*_spo(c_iri, EX + "label", literal_cols(F.col("c_name"), lang=lang1))),
        cust.select(*_spo(c_iri, EX + "label", literal_cols(F.col("c_mktsegment"), lang=lang2))),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _tag_violations(spark, sf_dir, ttl_body: str) -> DataFrame:
    data = _cached_input("tag_triples", spark, sf_dir, lambda: _tag_triples(spark, sf_dir))
    return Engine(spark, data, LocalGraph.from_turtle(_SHAPES_PREFIX + ttl_body)).report_df()


def q_shacl_equals(spark, sf_dir):
    v = _tag_violations(spark, sf_dir, """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:tag1 ; sh:equals ex:tag2 ] .
""")
    return v.select(F.col("focus_v").alias("focus"), F.col("value_v").alias("value"))


def q_shacl_disjoint(spark, sf_dir):
    v = _tag_violations(spark, sf_dir, """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:tag1 ; sh:disjoint ex:tag2 ] .
""")
    return v.select(F.col("focus_v").alias("focus"), F.col("value_v").alias("value"))


def q_shacl_uniquelang(spark, sf_dir):
    v = _tag_violations(spark, sf_dir, """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:label ; sh:uniqueLang true ] .
""")
    return v.select(F.col("focus_v").alias("focus"), F.col("message").alias("message"))


def q_shacl_languagein(spark, sf_dir):
    # labels carry @en and (for acctbal<=5000) @de; languageIn ("en") flags
    # the @de values
    v = _tag_violations(spark, sf_dir, """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:label ; sh:languageIn ( "en" ) ] .
""")
    return v.select(F.col("focus_v").alias("focus"), F.col("value_v").alias("value"))


def q_shacl_qualified(spark, sf_dir):
    # at least 3 orders whose IRI matches ^http://ex/o/1 (orderkey starts '1')
    ttl = _SHAPES_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:order ;
    sh:qualifiedValueShape [ sh:pattern "^http://ex/o/1" ] ;
    sh:qualifiedMinCount 3 ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("focus"))


def q_shacl_nodekind(spark, sf_dir):
    def build():
        orders = _pq(spark, sf_dir, "orders")
        rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        o_iri = F.concat(F.lit(EX + "o/"), F.col("o_orderkey").cast("string"))
        r_iri = F.concat(F.lit(EX + "r/"), F.col("o_orderkey").cast("string"))
        # ex:ref is an IRI for status F, else the status as a plain literal
        is_f = F.col("o_orderstatus") == "F"
        ref = [F.when(is_f, i).otherwise(lit) for i, lit in
               zip(iri_cols(r_iri), literal_cols(F.col("o_orderstatus")))]
        return _iri_triple(orders, o_iri, rdf_type, F.lit(EX + "Order")).unionByName(
            orders.select(*_spo(o_iri, EX + "ref", ref))
        )

    data = _cached_input("nodekind_triples", spark, sf_dir, build)
    ttl = _SHAPES_PREFIX + """
ex:OrderShape a sh:NodeShape ; sh:targetClass ex:Order ;
  sh:property [ sh:path ex:ref ; sh:nodeKind sh:IRI ] .
"""
    v = Engine(spark, data, LocalGraph.from_turtle(ttl)).report_df()
    return v.select(F.col("focus_v").alias("focus"), F.col("value_v").alias("value"))


def _line_qty_tax_triples(spark, sf_dir) -> DataFrame:
    """lineitem qty+tax decimal literals; shared (cached) by the lessThan and
    lessThanOrEquals queries."""
    li = _pq(spark, sf_dir, "lineitem")
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    li_iri = F.concat(
        F.lit(EX + "li/"), F.col("l_orderkey").cast("string"), F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    dec = "http://www.w3.org/2001/XMLSchema#decimal"
    qty = F.col("l_quantity").cast("decimal(12,1)").cast("string")
    tax = F.col("l_tax").cast("decimal(12,2)").cast("string")
    # RDF set semantics (dup source keys) via NARROW per-branch distincts —
    # set-identical to a wide dropDuplicates(s,p,o) because each branch's
    # (s,p,o) is a pure function of its distinct key columns and the
    # branches differ in p (see _line_qty_report, r6)
    keys = li.select(
        "l_orderkey", "l_linenumber", qty.alias("_qty_lex"), tax.alias("_tax_lex")
    )
    type_src = keys.select("l_orderkey", "l_linenumber").distinct()
    qty_src = keys.select("l_orderkey", "l_linenumber", "_qty_lex").distinct()
    tax_src = keys.select("l_orderkey", "l_linenumber", "_tax_lex").distinct()
    return (
        _iri_triple(type_src, li_iri, rdf_type, F.lit(EX + "Line"))
        .unionByName(_lit_triple(qty_src, li_iri, EX + "qty", F.col("_qty_lex"), dt=dec))
        .unionByName(_lit_triple(tax_src, li_iri, EX + "tax", F.col("_tax_lex"), dt=dec))
    )


def q_shacl_lessthan(spark, sf_dir):
    data = _cached_input(
        "line_qty_tax_triples", spark, sf_dir,
        lambda: _line_qty_tax_triples(spark, sf_dir),
    )
    # sh:lessThan uses STRING comparison (compareTerms; SURVEY §1.3)
    ttl = _SHAPES_PREFIX + """
ex:LineShape a sh:NodeShape ; sh:targetClass ex:Line ;
  sh:property [ sh:path ex:qty ; sh:lessThan ex:tax ] .
"""
    v = Engine(spark, data, LocalGraph.from_turtle(ttl), subclass_edges={}).report_df()
    return v.select(F.col("focus_v").alias("line"), F.col("value_v").alias("qty_lex"))


def q_shacl_lessthanorequals(spark, sf_dir):
    # validateLessThanOrEqualsProperty (ref shared/dash.js:205-216): string
    # compare; violation when qty > tax lexically
    data = _cached_input(
        "line_qty_tax_triples", spark, sf_dir,
        lambda: _line_qty_tax_triples(spark, sf_dir),
    )
    ttl = _SHAPES_PREFIX + """
ex:LineShape a sh:NodeShape ; sh:targetClass ex:Line ;
  sh:property [ sh:path ex:qty ; sh:lessThanOrEquals ex:tax ] .
"""
    v = Engine(spark, data, LocalGraph.from_turtle(ttl), subclass_edges={}).report_df()
    return v.select(F.col("focus_v").alias("line"), F.col("value_v").alias("qty_lex"))


def q_shacl_datatype(spark, sf_dir):
    # validateDatatype + isValidForDatatype (ref shared/dash.js:92-99,
    # 526-541): exact datatype IRI equality, then JS parseInt lexical check
    # for xsd:integer. Three-way data: valid / wrong datatype IRI / bad lexical.
    def build():
        cust = _pq(spark, sf_dir, "customer")
        c_iri = F.concat(F.lit(EX + "c/"), F.col("c_custkey").cast("string"))
        rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        int_dt = "http://www.w3.org/2001/XMLSchema#integer"
        bal_lex = F.floor("c_acctbal").cast("string")
        return (
            _iri_triple(cust, c_iri, rdf_type, F.lit(EX + "Customer"))
            .unionByName(_lit_triple(
                cust.filter(F.col("c_acctbal") > 2000), c_iri, EX + "bal", bal_lex, dt=int_dt))
            .unionByName(_lit_triple(  # xsd:string where integer is required
                cust.filter((F.col("c_acctbal") > 0) & (F.col("c_acctbal") <= 2000)),
                c_iri, EX + "bal", bal_lex))
            .unionByName(_lit_triple(  # parseInt('N/A') is NaN
                cust.filter(F.col("c_acctbal") <= 0), c_iri, EX + "bal", F.lit("N/A"), dt=int_dt))
        )

    data = _cached_input("datatype_triples", spark, sf_dir, build)
    ttl = _SHAPES_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:bal ; sh:datatype xsd:integer ] .
"""
    v = Engine(spark, data, LocalGraph.from_turtle(ttl)).report_df()
    return v.select(F.col("focus_v").alias("focus"), F.col("value_v").alias("value"))


def q_shacl_maxlength(spark, sf_dir):
    ttl = _SHAPES_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:segment ; sh:maxLength 8 ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("focus"), F.col("value_v").alias("segment"))


def q_shacl_hasvalue_node(spark, sf_dir):
    # node form (validateHasValueNode, ref shared/dash.js:147-149): the focus
    # node itself must equal the hasValue term
    ttl = _SHAPES_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:hasValue <http://ex/c/1> .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("focus"))


def q_shacl_node(spark, sf_dir):
    # validateNode (ref shared/dash.js:276-278): value conforms to inner shape
    ttl = _SHAPES_PREFIX + """
ex:OrderShape a sh:NodeShape ; sh:targetClass ex:Order ;
  sh:property [ sh:path ex:cust ; sh:node [ sh:pattern "^http://ex/c/1" ] ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("order_iri"), F.col("value_v").alias("cust_iri"))


def q_shacl_property_nested(spark, sf_dir):
    # sh:property recursion two levels deep: order -> cust -> segment; the
    # inner named NodeShape's property shape must be compiled and evaluated
    # against the sh:node candidates (ref src/shapes-graph.js Shape ctor +
    # shared/dash.js:276-278)
    ttl = _SHAPES_PREFIX + """
ex:OrderShape a sh:NodeShape ; sh:targetClass ex:Order ;
  sh:property [ sh:path ex:cust ; sh:node ex:CustOK ] .
ex:CustOK a sh:NodeShape ;
  sh:property [ sh:path ex:segment ; sh:minLength 9 ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("order_iri"), F.col("value_v").alias("cust_iri"))


def q_shacl_qualified_max(spark, sf_dir):
    # at most 5 orders whose IRI matches ^http://ex/o/1
    ttl = _SHAPES_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:order ;
    sh:qualifiedValueShape [ sh:pattern "^http://ex/o/1" ] ;
    sh:qualifiedMaxCount 5 ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("focus"))


_DASH_PREFIX = _SHAPES_PREFIX + "@prefix dash: <http://datashapes.org/dash#> .\n"


def q_dash_coexistswith(spark, sf_dir):
    # validateCoExistsWith (ref shared/dash.js:85-90): existence of ex:order
    # values must equal existence of ex:nick values. Nicks exist only for
    # custkey % 3 != 0, so violations are (has orders) XOR (has nick).
    def build():
        cust = _pq(spark, sf_dir, "customer")
        orders = _pq(spark, sf_dir, "orders")
        rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        c_iri = F.concat(F.lit(EX + "c/"), F.col("c_custkey").cast("string"))
        o_cust_iri = F.concat(F.lit(EX + "c/"), F.col("o_custkey").cast("string"))
        o_iri = F.concat(F.lit(EX + "o/"), F.col("o_orderkey").cast("string"))
        return (
            _iri_triple(cust, c_iri, rdf_type, F.lit(EX + "Customer"))
            .unionByName(_lit_triple(
                cust.filter(F.col("c_custkey") % 3 != 0), c_iri, EX + "nick", F.col("c_name")))
            .unionByName(_iri_triple(orders, o_cust_iri, EX + "order", o_iri))
        )

    data = _cached_input("nick_triples", spark, sf_dir, build)
    ttl = _DASH_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:order ; dash:coExistsWith ex:nick ] .
"""
    v = Engine(spark, data, LocalGraph.from_turtle(ttl)).report_df()
    return v.select(F.col("focus_v").alias("focus"))


def q_dash_subsetof(spark, sf_dir):
    # validateSubSetOf (ref shared/dash.js:373-375): every ex:tag2 value must
    # also be an ex:tag1 value of the same focus; tag2='NONE' iff acctbal<=0
    data = _cached_input("tag_triples", spark, sf_dir, lambda: _tag_triples(spark, sf_dir))
    ttl = _DASH_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:tag2 ; dash:subSetOf ex:tag1 ] .
"""
    v = Engine(spark, data, LocalGraph.from_turtle(ttl)).report_df()
    return v.select(F.col("focus_v").alias("focus"), F.col("value_v").alias("value"))


def q_dash_primarykey(spark, sf_dir):
    # validatePrimaryKeyProperty (ref shared/dash.js:313-325): focus IRI must
    # equal uriStart + encodeURIComponent(value); customer IRIs are keyed by
    # custkey, not name, so every focus yields the "Does not have URI" message
    ttl = _DASH_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:name ; dash:uriStart "http://ex/c/" ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("focus"), F.col("message").alias("message"))


def q_dash_closedbytypes(spark, sf_dir):
    # validateClosedByTypesNode (ref shared/dash.js:56-83): allowed predicates
    # come from shapes-graph sh:property paths of the focus's rdf:type closure
    # (data-graph subClassOf, upward). ex:order is declared only on
    # ex:BigCustomer, so customers below the BigCustomer threshold violate
    # once per order triple.
    ttl = _DASH_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ; dash:closedByTypes true .
ex:Customer sh:property [ sh:path ex:name ] ; sh:property [ sh:path ex:segment ] .
ex:BigCustomer sh:property [ sh:path ex:order ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(
        F.col("focus_v").alias("focus"),
        F.col("path").alias("pred"),
        F.col("value_v").alias("value"),
    )


def q_dash_rootclass(spark, sf_dir):
    # validateRootClass (ref shared/dash.js:365-371): each value must be the
    # root class or reachable from it downward via subClassOf in the data
    # graph. ex:VIP subClassOf ex:BigCustomer is in the data, so VIP-typed
    # values pass (closure) while the plain ex:Customer type violates.
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    ttl = _DASH_PREFIX + f"""
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path <{rdf_type}> ; dash:rootClass ex:BigCustomer ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("focus"), F.col("value_v").alias("value"))


def q_dash_stem(spark, sf_dir):
    # validateStem (ref shared/dash.js:377-379): value must be an IRI whose
    # uri starts with the stem string.
    ttl = _DASH_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:order ; dash:stem "http://ex/o/1" ] .
"""
    v = _shacl_violations(spark, sf_dir, ttl)
    return v.select(F.col("focus_v").alias("focus"), F.col("value_v").alias("value"))


def q_dash_nonrecursive(spark, sf_dir):
    # validateNonRecursiveProperty (ref shared/dash.js:280-289): violation
    # when a path value IS the focus node. Self-loops planted on
    # custkey % 7 == 0; everyone else points at custkey + 1.
    def build():
        cust = _pq(spark, sf_dir, "customer")
        rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        c_iri = F.concat(F.lit(EX + "c/"), F.col("c_custkey").cast("string"))
        knows = F.when(F.col("c_custkey") % 7 == 0, F.col("c_custkey")).otherwise(
            F.col("c_custkey") + 1
        )
        k_iri = F.concat(F.lit(EX + "c/"), knows.cast("string"))
        return _iri_triple(cust, c_iri, rdf_type, F.lit(EX + "Customer")).unionByName(
            _iri_triple(cust, c_iri, EX + "knows", k_iri)
        )

    data = _cached_input("knows_triples", spark, sf_dir, build)
    ttl = _DASH_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:knows ; dash:nonRecursive true ] .
"""
    v = Engine(spark, data, LocalGraph.from_turtle(ttl)).report_df()
    return v.select(F.col("focus_v").alias("focus"))


def q_dash_hasvaluewithclass(spark, sf_dir):
    # validateHasValueWithClass (ref shared/dash.js:156-161): focus conforms
    # iff at least one ex:order value is an instance of ex:BigOrder; only
    # orders with o_totalprice > 350000 are typed BigOrder, so the class
    # membership join (not mere value existence) decides the verdict.
    def build():
        cust = _pq(spark, sf_dir, "customer")
        orders = _pq(spark, sf_dir, "orders")
        rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        c_iri = F.concat(F.lit(EX + "c/"), F.col("c_custkey").cast("string"))
        o_cust_iri = F.concat(F.lit(EX + "c/"), F.col("o_custkey").cast("string"))
        o_iri = F.concat(F.lit(EX + "o/"), F.col("o_orderkey").cast("string"))
        return (
            _iri_triple(cust, c_iri, rdf_type, F.lit(EX + "Customer"))
            .unionByName(_iri_triple(orders, o_cust_iri, EX + "order", o_iri))
            .unionByName(_iri_triple(
                orders.filter(F.col("o_totalprice") > 350000),
                o_iri, rdf_type, F.lit(EX + "BigOrder"),
            ))
        )

    data = _cached_input("big_order_triples", spark, sf_dir, build)
    ttl = _DASH_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:order ; dash:hasValueWithClass ex:BigOrder ] .
"""
    v = Engine(spark, data, LocalGraph.from_turtle(ttl)).report_df()
    return v.select(F.col("focus_v").alias("focus"))


def q_dash_uniquevalueforclass(spark, sf_dir):
    # validateUniqueValueForClass (ref shared/dash.js:406-424): one violation
    # row per (focus, value) × other-instance sharing that ex:phone value.
    # phone = custkey % 100 plants small collision groups, so the self-join
    # output is bounded (group size ≈ |customer| / 100).
    def build():
        cust = _pq(spark, sf_dir, "customer")
        rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        c_iri = F.concat(F.lit(EX + "c/"), F.col("c_custkey").cast("string"))
        # SCALE-AWARE collision planting: a fixed %100 makes group size grow
        # with the corpus, so the (focus, value) violation OUTPUT is quadratic
        # (22.5e9 rows at sf1 — the row silently OOMed at scale in r4/r5).
        # modulus = n/15 keeps groups at ~15 members at EVERY sf, linear
        # output; at sf0.01 (1500 customers) this is exactly the old %100.
        mod = max(1, cust.count() // 15)
        phone = (F.col("c_custkey") % mod).cast("string")
        return _iri_triple(cust, c_iri, rdf_type, F.lit(EX + "Customer")).unionByName(
            _lit_triple(cust, c_iri, EX + "phone", phone)
        )

    data = _cached_input("phone_triples", spark, sf_dir, build)
    ttl = _DASH_PREFIX + """
ex:CustShape a sh:NodeShape ; sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:phone ; dash:uniqueValueForClass ex:Customer ] .
"""
    v = Engine(spark, data, LocalGraph.from_turtle(ttl)).report_df()
    return v.select(F.col("focus_v").alias("focus"), F.col("value_v").alias("value"))


def q_dash_functions(spark, sf_dir):
    # dash:toString over the dash:AllObjectsTarget / AllSubjectsTarget
    # analogs (ref shared/dash.js:441-464): whole-graph projections plus the
    # term-to-lexical scalar, tagged by which side produced the term.
    from shacl_js_spark.functions import all_objects, all_subjects, dash_to_string

    data = _cached_input("geo_triples", spark, sf_dir, lambda: _geo_triples(spark, sf_dir))
    objs = all_objects(data).select(
        dash_to_string("focus").alias("str"), F.lit("object").alias("side")
    )
    subs = all_subjects(data).select(
        dash_to_string("focus").alias("str"), F.lit("subject").alias("side")
    )
    return objs.unionByName(subs)


# --- RDF query operators ----------------------------------------------------

def _geo_triples(spark, sf_dir) -> DataFrame:
    cust = _pq(spark, sf_dir, "customer")
    nat = _pq(spark, sf_dir, "nation")
    c_iri = F.concat(F.lit(EX + "c/"), F.col("c_custkey").cast("string"))
    n_of_c = F.concat(F.lit(EX + "n/"), F.col("c_nationkey").cast("string"))
    n_iri = F.concat(F.lit(EX + "n/"), F.col("n_nationkey").cast("string"))
    r_iri = F.concat(F.lit(EX + "r/"), F.col("n_regionkey").cast("string"))
    parts = [
        _iri_triple(cust, c_iri, EX + "inNation", n_of_c),
        _iri_triple(nat, n_iri, EX + "inRegion", r_iri),
        _lit_triple(nat, n_iri, EX + "name", F.col("n_name")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_rdf_bgp(spark, sf_dir):
    data = _cached_input("geo_triples", spark, sf_dir, lambda: _geo_triples(spark, sf_dir))
    q = (
        RDFQueryDF(spark, data)
        .match("?c", f"<{EX}inNation>", "?n")
        .match("?n", f"<{EX}inRegion>", "?r")
        .match("?n", f"<{EX}name>", "?nm")
    )
    return q.sols.select(
        F.col("c_v").alias("customer"),
        F.col("r_v").alias("region"),
        F.col("nm_v").alias("nation_name"),
    )


def q_rdf_path_seq(spark, sf_dir):
    data = _cached_input("geo_triples", spark, sf_dir, lambda: _geo_triples(spark, sf_dir))
    p = Path("seq", children=(Path("pred", pred=EX + "inNation"), Path("pred", pred=EX + "inRegion")))
    q = RDFQueryDF(spark, data).match("?c", f"<{EX}inNation>", None).distinct().path("?c", p, "?r")
    return q.sols.select(F.col("c_v").alias("customer"), F.col("r_v").alias("region"))


def q_rdf_path_zero_or_more(spark, sf_dir):
    # parent chain: customer -inNation-> nation -inRegion-> region, as one
    # 'parent' predicate; zeroOrMore reachability from each customer
    def build():
        cust = _pq(spark, sf_dir, "customer")
        nat = _pq(spark, sf_dir, "nation")
        c_iri = F.concat(F.lit(EX + "c/"), F.col("c_custkey").cast("string"))
        n_of_c = F.concat(F.lit(EX + "n/"), F.col("c_nationkey").cast("string"))
        n_iri = F.concat(F.lit(EX + "n/"), F.col("n_nationkey").cast("string"))
        r_iri = F.concat(F.lit(EX + "r/"), F.col("n_regionkey").cast("string"))
        return _iri_triple(cust, c_iri, EX + "parent", n_of_c).unionByName(
            _iri_triple(nat, n_iri, EX + "parent", r_iri)
        )

    # r6: cache like the other path queries' geo_triples — the zeroOrMore
    # fixpoint re-reads the data frame once per round, so an uncached input
    # re-scanned parquet and rebuilt the triple projection every round
    data = _cached_input("parent_triples", spark, sf_dir, build)
    p = Path("zeroOrMore", children=(Path("pred", pred=EX + "parent"),))
    q = RDFQueryDF(spark, data).match("?x", f"<{EX}parent>", None).distinct().path("?x", p, "?y")
    return q.sols.select(F.col("x_v").alias("start"), F.col("y_v").alias("reached"))


def q_rdf_path_alt_inverse(spark, sf_dir):
    data = _cached_input("geo_triples", spark, sf_dir, lambda: _geo_triples(spark, sf_dir))
    # alternative(inverse(inNation) | inRegion) from each nation: customers + region
    p = Path("alt", children=(Path("inverse", pred=EX + "inNation"), Path("pred", pred=EX + "inRegion")))
    q = RDFQueryDF(spark, data).match("?n", f"<{EX}inRegion>", None).distinct().path("?n", p, "?v")
    return q.sols.select(F.col("n_v").alias("nation"), F.col("v_v").alias("linked"))


# --- KG pipeline stages ------------------------------------------------------

def _mentions(spark, sf_dir) -> DataFrame:
    """Shared mention-extraction stage (cached: feeds kg_mentions,
    kg_links_prior, and transitively kg_cooccur)."""
    from shacl_js_spark.pipeline.extract import extract_mentions

    return _cached_input(
        "mentions", spark, sf_dir,
        lambda: extract_mentions(spark, _docs(spark, sf_dir)),
    )


def q_kg_mentions(spark, sf_dir):
    m = _mentions(spark, sf_dir)
    return m.groupBy("doc_id", "surface").agg(F.count("*").cast("bigint").alias("n"))


def q_kg_links_prior(spark, sf_dir):
    """Prior-only argmax linking (the SQL-checkable variant of link.py);
    cached so its consumers (kg_cooccur) and a direct gate call share one
    build."""
    return _cached_input(
        "links_prior", spark, sf_dir, lambda: _links_prior_build(spark, sf_dir)
    )


def _links_prior_build(spark, sf_dir):
    from pyspark.sql import Window

    m = _mentions(spark, sf_dir).select("doc_id", "surface").distinct()
    cands = lexicon_df(spark)
    w = Window.partitionBy("doc_id", "surface").orderBy(F.col("prior").desc(), F.col("entity_id"))
    return (
        m.join(F.broadcast(cands), "surface")
        .withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("doc_id", "surface", "entity_id")
    )


def q_kg_cooccur(spark, sf_dir):
    # production shape (emit.py's grouped explosion): per-doc entity sets
    # exploded to ordered pairs map-side — no row-level self-join on doc_id
    from shacl_js_spark.graph import ensure_object_agg_headroom

    ensure_object_agg_headroom(spark)  # lexicon-bounded collect_set buffers
    links = q_kg_links_prior(spark, sf_dir).select("doc_id", "entity_id")
    grouped = links.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("entity_id")).alias("ents")
    )
    pairs = grouped.select(F.explode(ordered_pairs("ents", "ea", "eb")).alias("p"))
    return pairs.groupBy(F.col("p.ea").alias("ea"), F.col("p.eb").alias("eb")).agg(
        F.count("*").cast("bigint").alias("n_docs")
    )


def q_kg_entity_counts_salted(spark, sf_dir):
    """Hot-entity mention counts via the EXPLICIT two-phase salted
    aggregation (pipeline/skew.py) — the oracle proves salted == plain."""
    from shacl_js_spark.pipeline.skew import entity_mention_counts

    links = q_kg_links_prior(spark, sf_dir).select("doc_id", "entity_id")
    return entity_mention_counts(links, buckets=16).select(
        "entity_id", F.col("n_mentions").cast("bigint").alias("n_mentions")
    )


def q_kg_canonical(spark, sf_dir):
    return connected_components(spark, alias_edges(spark)).select("entity_id", "canonical_id")


def q_kg_triples_full(spark, sf_dir):
    """Full production pipeline (md5-affinity linker + canonicalization);
    value-hash-checked against a full DuckDB replica (_kg_full_sql)."""
    from shacl_js_spark.pipeline.canonicalize import canonicalize_triples
    from shacl_js_spark.pipeline.emit import EX as KG_EX, emit_triples
    from shacl_js_spark.pipeline.link import link_entities

    docs = _docs(spark, sf_dir)
    links = _cached_input(
        "links", spark, sf_dir, lambda: link_entities(spark, _mentions(spark, sf_dir))
    )
    mapping = connected_components(spark, alias_edges(spark))
    return canonicalize_triples(
        spark, emit_triples(spark, docs, links), mapping, KG_EX + "entity/"
    ).select("s", "p", "o", "o_kind")


# --- dedup -------------------------------------------------------------------

def _docs_par(spark, sf_dir) -> DataFrame:
    """documents.parquet spread across the cluster.  The driver file is a
    single row group, so a bare read gives ONE scan split and every map-side
    stage of the dedup path (shingle explosion, hashing, banding) runs on a
    single core; the round-robin repartition costs one tiny shuffle of the
    raw doc rows and buys full-width parallelism for the expensive
    explosions (r6; at 100 TB the scan itself is already split and this
    repartition is a no-op by size — same rationale as _customer_triples)."""
    par = spark.sparkContext.defaultParallelism
    return _pq(spark, sf_dir, "documents").repartition(par)


def q_dedup_exact(spark, sf_dir):
    docs = _docs_par(spark, sf_dir)
    key = F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 4))
    g = exact_dedup_groups(docs, key)
    return g.select(
        "dup_key",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("min_doc").cast("bigint").alias("min_doc"),
        F.col("max_doc").cast("bigint").alias("max_doc"),
    )


def q_dedup_minhash(spark, sf_dir):
    docs = _docs_par(spark, sf_dir)
    return minhash_signatures(docs).select(
        "doc_id", *[F.col(f"mh_{i}").cast("bigint").alias(f"mh_{i}") for i in range(N_HASHES)]
    )


def q_dedup_lsh_pairs(spark, sf_dir):
    docs = _docs_par(spark, sf_dir)
    sigs = minhash_signatures(docs)
    return lsh_candidate_pairs(sigs).select(
        F.col("a").cast("bigint").alias("a"), F.col("b").cast("bigint").alias("b")
    )


def q_dedup_clusters(spark, sf_dir):
    """LSH candidate pairs resolved into duplicate clusters (connected
    components, cluster_id = min member): the end-to-end dedup flow — pair
    generation is banded/bucketed, cluster resolution is the shared CC
    operator (transitive dups A~B~C land in one cluster even when (A,C) was
    never a candidate pair)."""
    pairs = q_dedup_lsh_pairs(spark, sf_dir)
    return dup_clusters(spark, pairs)


def q_dedup_simhash(spark, sf_dir):
    docs = _docs_par(spark, sf_dir)
    return simhash(docs).select("doc_id", F.col("simhash").cast("bigint").alias("simhash"))


def q_dedup_ngram_jaccard(spark, sf_dir):
    docs = _docs_par(spark, sf_dir)
    return ngram_jaccard_pairs(docs, n=3, threshold=0.3, max_df=None).select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        F.col("jaccard").cast("double").alias("jaccard"),
    )


def q_dedup_embedding(spark, sf_dir):
    emb = _pq(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(emb, threshold=0.45).select(
        F.col("a").cast("bigint").alias("a"), F.col("b").cast("bigint").alias("b")
    )


# --- similarity ---------------------------------------------------------------

def q_ann_topk(spark, sf_dir):
    emb = _pq(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, query_vec_id=0, k=10).select(
        "vec_id", F.col("cos").cast("double").alias("cos")
    )


def q_ann_ivf_assign(spark, sf_dir):
    emb = _pq(spark, sf_dir, "embeddings")
    return ivf_assign(emb, n_centroids=16).select("vec_id", F.col("centroid_id").cast("bigint").alias("centroid_id"))


def q_ann_ivf_topk(spark, sf_dir):
    from shacl_js_spark.ops.similarity import ivf_topk

    emb = _pq(spark, sf_dir, "embeddings")
    return ivf_topk(emb, query_vec_id=7, k=10, n_centroids=16).select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("cos").cast("double").alias("cos"),
    )


def q_dedup_verified_jaccard(spark, sf_dir):
    docs = _docs_par(spark, sf_dir)
    return minhash_jaccard_pairs(docs, threshold=0.5).select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        F.col("jaccard").cast("double").alias("jaccard"),
    )


# --- text analysis --------------------------------------------------------------

def q_text_tokens(spark, sf_dir):
    return token_stats(_pq(spark, sf_dir, "documents")).select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_tokens_bpe_est").cast("bigint").alias("n_tokens_bpe_est"),
    )


def q_text_quality(spark, sf_dir):
    return quality_score(_pq(spark, sf_dir, "documents")).select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("quality").cast("double").alias("quality"),
    )


def q_text_langid(spark, sf_dir):
    return lang_id(_pq(spark, sf_dir, "documents")).select(
        "doc_id", "lang_pred",
        F.col("score_data").cast("double").alias("score_data"),
        F.col("score_en").cast("double").alias("score_en"),
        F.col("score_sql").cast("double").alias("score_sql"),
    )


def q_text_fingerprint(spark, sf_dir):
    return fingerprint(_pq(spark, sf_dir, "documents")).select("doc_id", "fp_md5")


# --- multimodal (binary media columns; ops/multimodal.py) ----------------------

def q_media_meta(spark, sf_dir):
    """Typed metadata of every media span — pure Column plan (no Python);
    the oracle recomputes the span interleaving + md5 metadata arithmetic."""
    from shacl_js_spark.ops.multimodal import media_metadata

    return media_metadata(_docs(spark, sf_dir)).select(
        "media_ref", "kind",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("duration_ms").cast("bigint").alias("duration_ms"),
    )


def q_media_features(spark, sf_dir):
    """REAL encode -> Arrow mapInPandas decode/feature path: n_bytes is the
    byte length of the actually-encoded PPM/WAV/Y4M payload, which the
    oracle independently derives from the metadata (container header
    arithmetic) — a full value-hash proof that the binary plumbing ran."""
    from shacl_js_spark.ops.multimodal import extract_features, synth_media_table

    feats = extract_features(synth_media_table(_docs(spark, sf_dir)))
    return feats.select(
        "media_ref", "kind",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.size("feature").cast("bigint").alias("n_dims"),
    )


# --- curation (PII / repetition / contamination / packing) ---------------------

def _pii_decorated(docs):
    """The synthetic corpus contains no PII-shaped strings, so plant
    deterministic ones in known doc subsets (mirrored in the oracle SQL) —
    otherwise the scan verifies nothing but zeros."""
    d = F.col("doc_id")
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(d % 13 == 0,
                   F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com now"))
                   ).otherwise(F.lit("")),
            F.when(d % 29 == 0,
                   F.concat(F.lit(" call +1 (555) 010-"), (d % 10000).cast("string"))
                   ).otherwise(F.lit("")),
            F.when(d % 37 == 0, F.lit(" id 123-45-6789 ok")).otherwise(F.lit("")),
            F.when(d % 41 == 0,
                   F.concat(F.lit(" host 10.0."), (d % 256).cast("string"), F.lit(".7 up"))
                   ).otherwise(F.lit("")),
        ),
    )


def q_cur_pii(spark, sf_dir):
    from shacl_js_spark.ops.curation import pii_scan

    return pii_scan(_pii_decorated(_pq(spark, sf_dir, "documents"))).select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "n_ssn_like", "any_pii", "text_redacted"
    )


def q_cur_repetition(spark, sf_dir):
    from shacl_js_spark.ops.curation import repetition_stats

    return repetition_stats(_pq(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "n_distinct",
        F.col("distinct_ratio").cast("double").alias("distinct_ratio"),
        F.col("top_share").cast("double").alias("top_share"),
    )


def q_cur_contamination(spark, sf_dir):
    from shacl_js_spark.ops.curation import contamination_check

    docs = _pq(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return contamination_check(docs, benchmark, n=8, threshold=0.5).select(
        "doc_id", "n_grams", "n_hit",
        F.col("overlap").cast("double").alias("overlap"),
        "contaminated",
    )


def q_cur_pack(spark, sf_dir):
    from shacl_js_spark.ops.curation import pack_sequences

    return pack_sequences(_pq(spark, sf_dir, "documents"), budget=512).select(
        "doc_id", "n_tokens", "pack_id", "pack_offset"
    )


def q_cur_pack_partitioned(spark, sf_dir):
    # the scale path (two-level prefix sum, no global-order window) against
    # the SAME global-cumsum oracle: proves partitioned == global packing
    from shacl_js_spark.ops.curation import pack_sequences_partitioned

    return pack_sequences_partitioned(
        _pq(spark, sf_dir, "documents"), budget=512, num_partitions=16
    ).select("doc_id", "n_tokens", "pack_id", "pack_offset")


def q_cur_quality_filter(spark, sf_dir):
    # exact-rank oracle twin; quality_threshold_filter is the 100 TB path
    # (approx-quantile thresholds, map-only — parity-tested in pytest)
    from shacl_js_spark.ops.curation import quality_percentile_filter

    return quality_percentile_filter(
        _pq(spark, sf_dir, "documents"), keep_frac=0.9
    ).select("doc_id", "lang", "quality")


def q_cur_stratified_sample(spark, sf_dir):
    # deterministic hash-based data-mixing sample (MIX_FRACTIONS defaults)
    from shacl_js_spark.ops.curation import stratified_sample

    return stratified_sample(_pq(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "weight"
    )


# --- events (windowed analytics) --------------------------------------------------

def q_events_hourly(spark, sf_dir):
    # Aggregation is exact (DECIMAL), but the OUTPUT columns are lexical
    # strings: the driver gate hashes pandas values, where DuckDB DECIMAL
    # degrades to float64 and TIMESTAMP_NTZ renderings diverge (round-1
    # hash_match=false). String forms are engine-independent.
    ev = _pq(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(38,2)")
        .cast("string").alias("total"),
    )


def q_events_sessions_closed(spark, sf_dir):
    """Runs the REAL applyInPandasWithState streaming sessionizer
    (availableNow trigger over the events parquet) and returns the closed
    sessions; the oracle is the lag-window batch twin minus each user's
    final (still-open) session."""
    import shutil
    import tempfile
    import uuid

    from shacl_js_spark.streaming.sessions import SESSION_SCHEMA, sessionize_stream

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file stream source requires a DIRECTORY; stage the single parquet
    src_dir = tempfile.mkdtemp(prefix="evs_stream_")
    qname = f"evs_closed_{uuid.uuid4().hex[:8]}"
    try:
        shutil.copy(f"{sf_dir}/events.parquet", src_dir)
        stream = spark.readStream.schema(schema).parquet(src_dir)
        q = (
            sessionize_stream(stream)
            .writeStream.format("memory").queryName(qname)
            .outputMode("append").trigger(availableNow=True).start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "sessionization stream did not finish in 300s — partial "
                "results would masquerade as a correctness mismatch"
            )
        rows = spark.sql(f"SELECT * FROM {qname}").collect()
    finally:
        if spark.catalog.tableExists(qname):
            spark.catalog.dropTempView(qname)
        shutil.rmtree(src_dir, ignore_errors=True)
    return spark.createDataFrame(rows, SESSION_SCHEMA).select(
        "user_id", "session_start_ms", "session_end_ms",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round("total_value", 4).alias("total_value"),
    )


def q_events_sessions(spark, sf_dir):
    from pyspark.sql import Window

    ev = _pq(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gaps = ev.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_sess",
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.unix_timestamp(F.col("ts").cast("timestamp"))
                - F.unix_timestamp(F.col("prev_ts").cast("timestamp"))
                > 1800
            ),
            1,
        ).otherwise(0),
    )
    return gaps.groupBy("user_id").agg(
        F.sum("new_sess").cast("bigint").alias("n_sessions"),
        F.count("*").cast("bigint").alias("n_events"),
    )


# --- classic joins/aggregations -----------------------------------------------------

def q_tpch_q1(spark, sf_dir):
    li = _pq(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(d("l_quantity")).cast("decimal(38,2)").cast("string").alias("sum_qty"),
            F.sum(d("l_extendedprice")).cast("decimal(38,2)").cast("string").alias("sum_base_price"),
            F.sum((d("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - d("l_discount"))).cast("decimal(38,4)"))
            .cast("decimal(38,4)").cast("string").alias("sum_disc_price"),
            F.count("*").cast("bigint").alias("count_order"),
        )
    )


def q_tpch_q6(spark, sf_dir):
    # TPC-H Q6 shape: pure filter + aggregate — the pushdown/pruning probe
    # (the scan should read 4 columns and push all three predicates)
    li = _pq(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").cast("double") >= 0.02)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((d("l_extendedprice") * d("l_discount")).cast("decimal(38,4)"))
            .cast("decimal(38,4)").cast("string").alias("revenue"),
            F.count("*").cast("bigint").alias("n_rows"),
        )
    )


def q_tpch_q3_top10(spark, sf_dir):
    # TPC-H Q3 shape: 3-way join + agg + deterministic top-10
    li = _pq(spark, sf_dir, "lineitem")
    o = _pq(spark, sf_dir, "orders")
    c = _pq(spark, sf_dir, "customer")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))).cast("decimal(38,4)")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c.filter(F.col("c_mktsegment") == "BUILDING"), o["o_custkey"] == F.col("c_custkey"))
        .groupBy("l_orderkey")
        .agg(F.sum(rev).cast("decimal(38,4)").alias("_rev"))
        .orderBy(F.col("_rev").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            F.col("l_orderkey").cast("bigint").alias("orderkey"),
            F.col("_rev").cast("string").alias("revenue"),
        )
    )


def q_tpch_region_revenue(spark, sf_dir):
    li = _pq(spark, sf_dir, "lineitem")
    o = _pq(spark, sf_dir, "orders")
    c = _pq(spark, sf_dir, "customer")
    n = _pq(spark, sf_dir, "nation")
    r = _pq(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))).cast("decimal(38,4)")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(F.sum(rev).cast("decimal(38,4)").cast("string").alias("revenue"),
             F.count("*").cast("bigint").alias("n_items"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # SHACL constraint validators (engine-run; ref shared/dash.js)
        "shacl_mincount": q_shacl_mincount,
        "shacl_maxcount": q_shacl_maxcount,
        "shacl_pattern": q_shacl_pattern,
        "shacl_class": q_shacl_class,
        "shacl_in": q_shacl_in,
        "shacl_range": q_shacl_range,
        "shacl_and": q_shacl_and,
        "shacl_or": q_shacl_or,
        "shacl_not": q_shacl_not,
        "shacl_hasvalue": q_shacl_hasvalue,
        "shacl_minlength": q_shacl_minlength,
        "shacl_xone": q_shacl_xone,
        "shacl_closed": q_shacl_closed,
        "shacl_equals": q_shacl_equals,
        "shacl_disjoint": q_shacl_disjoint,
        "shacl_uniquelang": q_shacl_uniquelang,
        "shacl_languagein": q_shacl_languagein,
        "shacl_qualified": q_shacl_qualified,
        "shacl_nodekind": q_shacl_nodekind,
        "shacl_lessthan": q_shacl_lessthan,
        "shacl_mininclusive": q_shacl_mininclusive,
        "shacl_minexclusive": q_shacl_minexclusive,
        "shacl_maxexclusive": q_shacl_maxexclusive,
        "shacl_lessthanorequals": q_shacl_lessthanorequals,
        "shacl_datatype": q_shacl_datatype,
        "shacl_maxlength": q_shacl_maxlength,
        "shacl_hasvalue_node": q_shacl_hasvalue_node,
        "shacl_node": q_shacl_node,
        "shacl_property_nested": q_shacl_property_nested,
        "shacl_qualified_max": q_shacl_qualified_max,
        "dash_coexistswith": q_dash_coexistswith,
        "dash_subsetof": q_dash_subsetof,
        "dash_primarykey": q_dash_primarykey,
        "dash_closedbytypes": q_dash_closedbytypes,
        "dash_rootclass": q_dash_rootclass,
        "dash_stem": q_dash_stem,
        "dash_nonrecursive": q_dash_nonrecursive,
        "dash_hasvaluewithclass": q_dash_hasvaluewithclass,
        "dash_uniquevalueforclass": q_dash_uniquevalueforclass,
        "dash_functions": q_dash_functions,
        # RDF query operators (ref src/rdfquery.js)
        "rdf_bgp": q_rdf_bgp,
        "rdf_path_seq": q_rdf_path_seq,
        "rdf_path_zero_or_more": q_rdf_path_zero_or_more,
        "rdf_path_alt_inverse": q_rdf_path_alt_inverse,
        # KG pipeline stages (north rule)
        "kg_mentions": q_kg_mentions,
        "kg_links_prior": q_kg_links_prior,
        "kg_cooccur": q_kg_cooccur,
        "kg_entity_counts_salted": q_kg_entity_counts_salted,
        "kg_canonical": q_kg_canonical,
        "kg_triples_full": q_kg_triples_full,
        # dedup family
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_lsh_pairs": q_dedup_lsh_pairs,
        "dedup_clusters": q_dedup_clusters,
        "dedup_simhash": q_dedup_simhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_embedding": q_dedup_embedding,
        "dedup_verified_jaccard": q_dedup_verified_jaccard,
        # similarity search
        "ann_topk": q_ann_topk,
        "ann_ivf_assign": q_ann_ivf_assign,
        "ann_ivf_topk": q_ann_ivf_topk,
        # text analysis
        "text_tokens": q_text_tokens,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "text_fingerprint": q_text_fingerprint,
        # multimodal binary columns
        "media_meta": q_media_meta,
        "media_features": q_media_features,
        # curation (PII / repetition / contamination / packing)
        "cur_pii": q_cur_pii,
        "cur_repetition": q_cur_repetition,
        "cur_contamination": q_cur_contamination,
        "cur_pack": q_cur_pack,
        "cur_pack_partitioned": q_cur_pack_partitioned,
        "cur_quality_filter": q_cur_quality_filter,
        "cur_stratified_sample": q_cur_stratified_sample,
        # events
        "events_hourly": q_events_hourly,
        "events_sessions": q_events_sessions,
        "events_sessions_closed": q_events_sessions_closed,
        # classic
        "tpch_q1": q_tpch_q1,
        "tpch_q6": q_tpch_q6,
        "tpch_q3_top10": q_tpch_q3_top10,
        "tpch_region_revenue": q_tpch_region_revenue,
    }


# --------------------------------------------------------------------------
# oracles (DuckDB SQL over pre-registered views)
# --------------------------------------------------------------------------

def _lexicon_values_sql() -> str:
    rows = ", ".join(
        f"('{s}', '{e}', {p})"
        for s, cands in ENTITY_LEXICON.items()
        for (e, p) in cands
    )
    return f"(VALUES {rows}) AS lex(surface, entity_id, prior)"


def _alias_edges_values_sql() -> str:
    rows = []
    for s, cands in ENTITY_LEXICON.items():
        ids = [c[0] for c in cands]
        for a, b in zip(ids, ids[1:]):
            rows.append(f"('{a}', '{b}')")
    return f"(VALUES {', '.join(rows)}) AS e(src, dst)"


# tokens of each doc (doc_id as 'doc-<id>'), mirroring span tokenization —
# spans are token windows so the token multiset equals the raw split
_TOKENS_SQL = (
    "SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id, tok "
    "FROM documents, unnest(string_split(text, ' ')) AS t(tok) WHERE tok <> ''"
)

_MD5INT = "CAST(('0x' || substr(md5({x}), 1, 8)) AS BIGINT)"

# span-interleaving arithmetic shared by the media_meta / media_features
# oracles — the part that must stay in lockstep with synth.py's
# TOKENS_PER_SPAN=8 / MEDIA_EVERY=2 and multimodal.media_metadata's hash,
# defined once so the two SQL strings cannot drift
_MEDIA_META_CTE = f"""m AS (
              SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc,
                     CAST(ceil(len(string_split(text, ' ')) / 8.0) AS INT) AS n_spans
              FROM documents),
            media AS (
              SELECT doc, CAST(j AS INT) AS j
              FROM m, unnest(range(1, n_spans // 2 + 1)) AS r(j)),
            meta AS (
              SELECT 'media://' || doc || '/' || CAST(j AS VARCHAR) AS media_ref,
                     (['image','audio','video'])[
                       CAST({_MD5INT.format(x="doc || '/' || CAST(j AS VARCHAR)")} % 3 AS INT) + 1
                     ] AS kind,
                     {_MD5INT.format(x="'media://' || doc || '/' || CAST(j AS VARCHAR)")} AS h
              FROM media)"""


def _shingles_sql() -> str:
    # range end mirrors shingles()'s clamped sequence: docs shorter than 3
    # tokens contribute one clamped shingle
    return """
        SELECT DISTINCT doc_id, list_aggregate(toks[i:i+2], 'string_agg', ' ') AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS r(i)
        WHERE list_aggregate(toks[i:i+2], 'string_agg', ' ') <> ''
    """


def _minhash_sql() -> str:
    mins = []
    for i in range(N_HASHES):
        a, b = hash_params(i)
        mins.append(
            f"min((({_MD5INT.format(x='shingle')} * {a} + {b}) % {MINHASH_P} + {MINHASH_P}) % {MINHASH_P}) AS mh_{i}"
        )
    return f"SELECT doc_id, {', '.join(mins)} FROM ({_shingles_sql()}) GROUP BY doc_id"


def _simhash_sql(bits: int = 16) -> str:
    sums = [
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(bits)
    ]
    sim = " + ".join(f"(CASE WHEN s_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits))
    return f"""
        SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM (
          SELECT doc_id, {', '.join(sums)} FROM (
            SELECT doc_id, {_MD5INT.format(x='tok')} AS h
            FROM documents, unnest(string_split(text,' ')) AS t(tok) WHERE tok <> ''
          ) GROUP BY doc_id)
    """


_DOT = (
    "list_sum(list_transform(list_zip(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])), x -> x[1]*x[2]))"
)


def _ivf_with(n_centroids: int = 16, iters: int = 2) -> str:
    """DuckDB replica of kmeans_centroids + ivf_assign (ops/similarity.py):
    deterministic seeds, `iters` unrolled Lloyd rounds with 6-dp-rounded
    per-dimension means, final broadcast-argmax assignment (CTE chain ending
    in `final_assign`)."""

    def assign(cents: str) -> str:
        return f"""
          SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_cos_sql('e.embedding', 'c.ce')} DESC, c.centroid_id) AS rk
            FROM embeddings e CROSS JOIN {cents} c) WHERE rk = 1
        """

    parts = [
        f"cents0 AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS ce "
        f"FROM embeddings WHERE vec_id < {n_centroids})"
    ]
    for i in range(iters):
        parts.append(f"a{i} AS ({assign(f'cents{i}')})")
        parts.append(f"""cents{i + 1} AS (
          SELECT centroid_id, list(m ORDER BY pos) AS ce FROM (
            SELECT centroid_id, pos, round(avg(val), 6) AS m
            FROM (SELECT centroid_id, pos,
                         CAST(embedding[pos] AS DOUBLE) AS val
                  FROM a{i}, unnest(range(1, len(embedding) + 1)) AS r(pos))
            GROUP BY centroid_id, pos)
          GROUP BY centroid_id)""")
    parts.append(f"final_assign AS ({assign(f'cents{iters}')})")
    return "WITH " + ",\n".join(parts)


def _ivf_sql(n_centroids: int = 16, iters: int = 2) -> str:
    return (
        _ivf_with(n_centroids, iters)
        + " SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id FROM final_assign"
    )


def _ivf_topk_sql(query_vec_id: int, k: int, n_centroids: int = 16, iters: int = 2) -> str:
    """Bucket-pruned cosine top-k replica of ivf_topk (ops/similarity.py)."""
    return f"""{_ivf_with(n_centroids, iters)},
        q AS (SELECT embedding AS qe, centroid_id AS qc FROM final_assign
              WHERE vec_id = {query_vec_id})
        SELECT CAST(a.vec_id AS BIGINT) AS vec_id,
               {_cos_sql('a.embedding', 'q.qe')} AS cos
        FROM final_assign a JOIN q ON a.centroid_id = q.qc
        WHERE a.vec_id <> {query_vec_id}
        ORDER BY cos DESC, a.vec_id
        LIMIT {k}
    """


def _mix_threshold_case() -> str:
    """CASE mapping lang -> md5-prefix keep threshold, generated from the
    same MIX_FRACTIONS the Spark op reads (single source of truth)."""
    from shacl_js_spark.ops.curation import MIX_FRACTIONS, _mix_hex_threshold

    arms = " ".join(
        f"WHEN '{lang}' THEN '{_mix_hex_threshold(frac)}'"
        for lang, frac in sorted(MIX_FRACTIONS.items())
        if frac > 0
    )
    return f"CASE lang {arms} ELSE '' END"


def _mix_weight_case() -> str:
    from shacl_js_spark.ops.curation import MIX_FRACTIONS

    arms = " ".join(
        f"WHEN '{lang}' THEN CAST({round(1.0 / frac, 6)!r} AS DOUBLE)"
        for lang, frac in sorted(MIX_FRACTIONS.items())
        if frac > 0
    )
    return f"CASE lang {arms} END"


def _cur_pii_sql() -> str:
    # stage-wise like pii_scan: each pattern is counted against the text with
    # all more-specific patterns already redacted (PII_PATTERNS order)
    from shacl_js_spark.ops.curation import PII_PATTERNS

    counts = []
    redacted = "text"
    for name, pat in PII_PATTERNS.items():
        counts.append(
            f"CAST(len(regexp_extract_all({redacted}, '{pat}')) AS BIGINT) AS n_{name}"
        )
        redacted = f"regexp_replace({redacted}, '{pat}', '<{name.upper()}>', 'g')"
    counts_sql = ",\n".join(counts)
    any_pii = " OR ".join(f"n_{name} > 0" for name in PII_PATTERNS)
    return f"""
        WITH decorated AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 13 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
                 || CASE WHEN doc_id % 29 = 0 THEN ' call +1 (555) 010-' || CAST(doc_id % 10000 AS VARCHAR) ELSE '' END
                 || CASE WHEN doc_id % 37 = 0 THEN ' id 123-45-6789 ok' ELSE '' END
                 || CASE WHEN doc_id % 41 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 up' ELSE '' END
                 AS text
          FROM documents),
        counted AS (
          SELECT doc_id, {counts_sql}, {redacted} AS text_redacted
          FROM decorated)
        SELECT doc_id, n_email, n_phone, n_ipv4, n_ssn_like,
               ({any_pii}) AS any_pii, text_redacted
        FROM counted
    """


def _ngram8_sql() -> str:
    """Distinct md5-prefix hashes of 8-token shingles per doc (short docs
    contribute their single clamped gram), mirroring _ngram_hashes(n=8)."""
    return """
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) AS h
        FROM (
          SELECT doc_id, list_aggregate(toks[i:i+7], 'string_agg', ' ') AS g
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
               unnest(range(1, greatest(len(toks) - 7, 1) + 1)) AS r(i))
        WHERE g <> ''
    """


def _cos_sql(a: str, b: str) -> str:
    return (
        f"round({_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)})), 6)"
    )


_KG = "http://example.org/kg#"
_RDF_TYPE_IRI = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
_RDFS_LABEL_IRI = "<http://www.w3.org/2000/01/rdf-schema#label>"


def _lex_sql(x: str) -> str:
    """DuckDB escaping of a literal's lexical form inside an encoded term
    (README §1): backslash, double quote, LF, CR and tab, in that order."""
    for code, esc in ((92, "\\\\"), (34, '\\"'), (10, "\\n"), (13, "\\r"), (9, "\\t")):
        x = f"replace({x}, chr({code}), '{esc}')"
    return x


def _kg_full_sql() -> str:
    """DuckDB replica of the FULL production pipeline (pipeline/{synth,
    extract,link,emit,canonicalize}.py): md5-affinity linker argmax,
    alias-edge connected components (recursive CTE), triple emission incl.
    media spans, canonical rewrite, global (s,p,o) dedup."""
    lex = _lexicon_values_sql()
    md5i = "CAST(('0x' || substr(md5({x}), 1, 8)) AS BIGINT)"
    aff = md5i.format(x="m.doc_id || '|' || l.entity_id")
    kind_h = md5i.format(x="doc_id || '/' || CAST(j AS VARCHAR)")
    return f"""
        WITH RECURSIVE
        toks AS ({_TOKENS_SQL}),
        lex AS (SELECT * FROM {lex}),
        m AS (SELECT DISTINCT toks.doc_id, toks.tok AS surface
              FROM toks JOIN (SELECT DISTINCT surface FROM lex) ls ON toks.tok = ls.surface),
        scored AS (
          SELECT m.doc_id, m.surface, l.entity_id,
                 l.prior + 0.2 * ({aff} % 1000 / 1000.0) AS score
          FROM m JOIN lex l ON m.surface = l.surface),
        links AS (
          SELECT doc_id, surface, entity_id FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id, surface
                                         ORDER BY score DESC, entity_id DESC) AS rk
            FROM scored) WHERE rk = 1),
        edges AS (SELECT src, dst FROM {_alias_edges_values_sql()}),
        und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
        reach(n, mm) AS (
          SELECT src, src FROM und
          UNION
          SELECT r.n, u.dst FROM reach r JOIN und u ON r.mm = u.src),
        canon AS (SELECT n AS entity_id, min(mm) AS canonical_id FROM reach GROUP BY n),
        cl AS (SELECT l.doc_id, l.surface, coalesce(c.canonical_id, l.entity_id) AS entity_id
               FROM links l LEFT JOIN canon c ON l.entity_id = c.entity_id),
        meta AS (SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id, lang, source,
                        CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS n_spans
                 FROM documents),
        media AS (SELECT doc_id, j,
                         'media://' || doc_id || '/' || CAST(j AS VARCHAR) AS media_ref,
                         CASE {kind_h} % 3 WHEN 0 THEN 'Image' WHEN 1 THEN 'Audio'
                              ELSE 'Video' END AS kind
                  FROM meta, unnest(range(1, CAST(floor(n_spans / 2.0) AS BIGINT) + 1)) AS r(j)),
        de AS (SELECT DISTINCT doc_id, entity_id FROM links),
        pairs AS (SELECT DISTINCT
                    coalesce(ca.canonical_id, a.entity_id) AS ea,
                    coalesce(cb.canonical_id, b.entity_id) AS eb
                  FROM de a JOIN de b ON a.doc_id = b.doc_id AND a.entity_id < b.entity_id
                  LEFT JOIN canon ca ON a.entity_id = ca.entity_id
                  LEFT JOIN canon cb ON b.entity_id = cb.entity_id)
        SELECT DISTINCT s, p, o, o_kind FROM (
          SELECT '<{_KG}doc/' || doc_id || '>' AS s, '{_RDF_TYPE_IRI}' AS p,
                 '<{_KG}Document>' AS o, 'iri' AS o_kind FROM meta
          UNION ALL
          SELECT '<{_KG}doc/' || doc_id || '>', '<{_KG}language>',
                 '"' || {_lex_sql("lang")} || '"', 'literal' FROM meta
          UNION ALL
          SELECT '<{_KG}doc/' || doc_id || '>', '<{_KG}source>',
                 '<{_KG}source/' || source || '>', 'iri' FROM meta
          UNION ALL
          SELECT '<{_KG}doc/' || doc_id || '>', '<{_KG}mentions>',
                 '<{_KG}entity/' || entity_id || '>', 'iri'
          FROM (SELECT DISTINCT doc_id, entity_id FROM cl)
          UNION ALL
          SELECT '<{_KG}entity/' || entity_id || '>', '{_RDF_TYPE_IRI}',
                 '<{_KG}Entity>', 'iri' FROM (SELECT DISTINCT entity_id FROM cl)
          UNION ALL
          SELECT '<{_KG}entity/' || entity_id || '>', '{_RDFS_LABEL_IRI}',
                 '"' || {_lex_sql("surface")} || '"', 'literal'
          FROM (SELECT DISTINCT entity_id, surface FROM cl)
          UNION ALL
          SELECT '<{_KG}doc/' || doc_id || '>', '<{_KG}hasMedia>',
                 '<{_KG}media/' || md5(media_ref) || '>', 'iri' FROM media
          UNION ALL
          SELECT '<{_KG}media/' || md5(media_ref) || '>', '{_RDF_TYPE_IRI}',
                 '<{_KG}' || kind || '>', 'iri' FROM media
          UNION ALL
          SELECT '<{_KG}entity/' || ea || '>', '<{_KG}coOccursWith>',
                 '<{_KG}entity/' || eb || '>', 'iri' FROM pairs
        )
    """


def oracle_sql() -> dict[str, str]:
    lex = _lexicon_values_sql()
    mentions_base = f"""
        WITH toks AS ({_TOKENS_SQL}),
        lexs AS (SELECT DISTINCT surface FROM {lex})
        SELECT doc_id, tok AS surface FROM toks JOIN lexs ON toks.tok = lexs.surface
    """
    links_prior = f"""
        WITH m AS (SELECT DISTINCT doc_id, surface FROM ({mentions_base})),
        l AS (SELECT * FROM {lex}),
        scored AS (
          SELECT m.doc_id, m.surface, l.entity_id,
                 row_number() OVER (PARTITION BY m.doc_id, m.surface
                                    ORDER BY l.prior DESC, l.entity_id) AS rk
          FROM m JOIN l ON m.surface = l.surface
        )
        SELECT doc_id, surface, entity_id FROM scored WHERE rk = 1
    """

    out = {
        "shacl_mincount": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus
            FROM customer c
            WHERE (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) < 5
            ORDER BY focus
        """,
        "shacl_maxcount": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus
            FROM customer c
            WHERE (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) > 14
        """,
        "shacl_pattern": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus, c_name AS bad_name
            FROM customer WHERE NOT regexp_matches(c_name, '^Customer#0000000[0-4]')
        """,
        "shacl_class": """
            SELECT 'http://ex/o/' || CAST(o_orderkey AS VARCHAR) AS order_iri,
                   'http://ex/c/' || CAST(o_custkey AS VARCHAR) AS cust_iri
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_acctbal <= 5000
        """,
        "shacl_in": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus, c_mktsegment AS segment
            FROM customer WHERE c_mktsegment NOT IN ('BUILDING','AUTOMOBILE','MACHINERY')
        """,
        "shacl_range": """
            SELECT DISTINCT 'http://ex/li/' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS line,
                   CAST(CAST(l_quantity AS DECIMAL(12,1)) AS VARCHAR) AS qty_lex
            FROM lineitem WHERE NOT (l_quantity <= 25)
        """,
        "shacl_and": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus, c_mktsegment AS segment
            FROM customer
            WHERE NOT (regexp_matches(c_mktsegment, '^[A-Z]') AND length(c_mktsegment) >= 9)
        """,
        "shacl_or": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus, c_mktsegment AS segment
            FROM customer
            WHERE NOT (regexp_matches(c_mktsegment, '^A') OR regexp_matches(c_mktsegment, '^B'))
        """,
        "shacl_not": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus, c_mktsegment AS segment
            FROM customer WHERE regexp_matches(c_mktsegment, '^B')
        """,
        "shacl_hasvalue": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus
            FROM customer WHERE c_mktsegment <> 'BUILDING'
        """,
        "shacl_minlength": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus, c_mktsegment AS segment
            FROM customer WHERE length(c_mktsegment) < 9
        """,
        "shacl_xone": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus, c_mktsegment AS segment
            FROM customer
            WHERE (CASE WHEN regexp_matches(c_mktsegment, '^[A-F]') THEN 1 ELSE 0 END
                 + CASE WHEN length(c_mktsegment) >= 9 THEN 1 ELSE 0 END) <> 1
        """,
        "shacl_closed": """
            SELECT 'http://ex/c/' || CAST(o_custkey AS VARCHAR) AS focus,
                   '<http://ex/order>' AS pred,
                   'http://ex/o/' || CAST(o_orderkey AS VARCHAR) AS value
            FROM orders
        """,
        "shacl_equals": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus, c_mktsegment AS value
            FROM customer WHERE c_acctbal <= 0
            UNION ALL
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR), 'NONE'
            FROM customer WHERE c_acctbal <= 0
        """,
        "shacl_disjoint": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus, c_mktsegment AS value
            FROM customer WHERE c_acctbal > 0
        """,
        "shacl_uniquelang": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus,
                   'Language "en" has been used by 2 values' AS message
            FROM customer WHERE c_acctbal > 5000
        """,
        "shacl_languagein": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus, c_mktsegment AS value
            FROM customer WHERE c_acctbal <= 5000
        """,
        "shacl_qualified": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus
            FROM customer c
            WHERE (SELECT count(*) FROM orders o
                   WHERE o.o_custkey = c.c_custkey
                     AND CAST(o.o_orderkey AS VARCHAR) LIKE '1%') < 3
        """,
        "shacl_nodekind": """
            SELECT 'http://ex/o/' || CAST(o_orderkey AS VARCHAR) AS focus, o_orderstatus AS value
            FROM orders WHERE o_orderstatus <> 'F'
        """,
        "shacl_lessthan": """
            WITH q AS (SELECT DISTINCT 'http://ex/li/' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS line,
                              CAST(CAST(l_quantity AS DECIMAL(12,1)) AS VARCHAR) AS qty FROM lineitem),
                 t AS (SELECT DISTINCT 'http://ex/li/' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS line,
                              CAST(CAST(l_tax AS DECIMAL(12,2)) AS VARCHAR) AS tax FROM lineitem)
            SELECT q.line AS line, q.qty AS qty_lex
            FROM q JOIN t ON q.line = t.line
            WHERE NOT (q.qty < t.tax)
        """,
        "shacl_lessthanorequals": """
            WITH q AS (SELECT DISTINCT 'http://ex/li/' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS line,
                              CAST(CAST(l_quantity AS DECIMAL(12,1)) AS VARCHAR) AS qty FROM lineitem),
                 t AS (SELECT DISTINCT 'http://ex/li/' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS line,
                              CAST(CAST(l_tax AS DECIMAL(12,2)) AS VARCHAR) AS tax FROM lineitem)
            SELECT q.line AS line, q.qty AS qty_lex
            FROM q JOIN t ON q.line = t.line
            WHERE NOT (q.qty <= t.tax)
        """,
        "shacl_mininclusive": """
            SELECT DISTINCT 'http://ex/li/' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS line,
                   CAST(CAST(l_quantity AS DECIMAL(12,1)) AS VARCHAR) AS qty_lex
            FROM lineitem WHERE NOT (l_quantity >= 5)
        """,
        "shacl_minexclusive": """
            SELECT DISTINCT 'http://ex/li/' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS line,
                   CAST(CAST(l_quantity AS DECIMAL(12,1)) AS VARCHAR) AS qty_lex
            FROM lineitem WHERE NOT (l_quantity > 5)
        """,
        "shacl_maxexclusive": """
            SELECT DISTINCT 'http://ex/li/' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS line,
                   CAST(CAST(l_quantity AS DECIMAL(12,1)) AS VARCHAR) AS qty_lex
            FROM lineitem WHERE NOT (l_quantity < 25)
        """,
        "shacl_datatype": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus,
                   CASE WHEN c_acctbal <= 0 THEN 'N/A'
                        ELSE CAST(CAST(floor(c_acctbal) AS BIGINT) AS VARCHAR) END AS value
            FROM customer WHERE c_acctbal <= 2000
        """,
        "shacl_maxlength": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus, c_mktsegment AS segment
            FROM customer WHERE length(c_mktsegment) > 8
        """,
        "shacl_hasvalue_node": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus
            FROM customer WHERE c_custkey <> 1
        """,
        "shacl_node": """
            SELECT 'http://ex/o/' || CAST(o_orderkey AS VARCHAR) AS order_iri,
                   'http://ex/c/' || CAST(o_custkey AS VARCHAR) AS cust_iri
            FROM orders WHERE CAST(o_custkey AS VARCHAR) NOT LIKE '1%'
        """,
        "shacl_property_nested": """
            SELECT 'http://ex/o/' || CAST(o_orderkey AS VARCHAR) AS order_iri,
                   'http://ex/c/' || CAST(o_custkey AS VARCHAR) AS cust_iri
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE length(c_mktsegment) < 9
        """,
        "shacl_qualified_max": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus
            FROM customer c
            WHERE (SELECT count(*) FROM orders o
                   WHERE o.o_custkey = c.c_custkey
                     AND CAST(o.o_orderkey AS VARCHAR) LIKE '1%') > 5
        """,
        "dash_coexistswith": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus
            FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
                  <> (c_custkey % 3 <> 0)
        """,
        "dash_subsetof": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus, 'NONE' AS value
            FROM customer WHERE c_acctbal <= 0
        """,
        "dash_primarykey": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus,
                   'Does not have URI http://ex/c/' || replace(c_name, '#', '%23') AS message
            FROM customer
        """,
        "dash_closedbytypes": """
            SELECT 'http://ex/c/' || CAST(o_custkey AS VARCHAR) AS focus,
                   '<http://ex/order>' AS pred,
                   'http://ex/o/' || CAST(o_orderkey AS VARCHAR) AS value
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_acctbal <= 5000
        """,
        "dash_rootclass": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus,
                   'http://ex/Customer' AS value
            FROM customer
        """,
        "dash_stem": """
            SELECT 'http://ex/c/' || CAST(o_custkey AS VARCHAR) AS focus,
                   'http://ex/o/' || CAST(o_orderkey AS VARCHAR) AS value
            FROM orders WHERE CAST(o_orderkey AS VARCHAR) NOT LIKE '1%'
        """,
        "dash_nonrecursive": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus
            FROM customer WHERE c_custkey % 7 = 0
        """,
        "dash_hasvaluewithclass": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS focus
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_totalprice > 350000)
        """,
        "dash_uniquevalueforclass": """
            WITH m AS (SELECT greatest(count(*) // 15, 1) AS md FROM customer)
            SELECT 'http://ex/c/' || CAST(a.c_custkey AS VARCHAR) AS focus,
                   CAST(a.c_custkey % (SELECT md FROM m) AS VARCHAR) AS value
            FROM customer a JOIN customer b
              ON a.c_custkey % (SELECT md FROM m) = b.c_custkey % (SELECT md FROM m)
             AND a.c_custkey <> b.c_custkey
        """,
        "dash_functions": """
            SELECT str, 'object' AS side FROM (
                SELECT 'http://ex/n/' || CAST(c_nationkey AS VARCHAR) AS str FROM customer
                UNION
                SELECT 'http://ex/r/' || CAST(n_regionkey AS VARCHAR) FROM nation
                UNION
                SELECT n_name FROM nation
            )
            UNION ALL
            SELECT str, 'subject' AS side FROM (
                SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS str FROM customer
                UNION
                SELECT 'http://ex/n/' || CAST(n_nationkey AS VARCHAR) FROM nation
            )
        """,
        "rdf_bgp": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS customer,
                   'http://ex/r/' || CAST(n_regionkey AS VARCHAR) AS region,
                   n_name AS nation_name
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        """,
        "rdf_path_seq": """
            SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS customer,
                   'http://ex/r/' || CAST(n_regionkey AS VARCHAR) AS region
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        """,
        "rdf_path_zero_or_more": """
            WITH c AS (SELECT 'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS cid,
                              'http://ex/n/' || CAST(c_nationkey AS VARCHAR) AS nid
                       FROM customer),
                 n AS (SELECT 'http://ex/n/' || CAST(n_nationkey AS VARCHAR) AS nid,
                              'http://ex/r/' || CAST(n_regionkey AS VARCHAR) AS rid
                       FROM nation),
                 starts AS (SELECT DISTINCT cid AS x FROM c UNION SELECT DISTINCT nid FROM n)
            SELECT x AS start, x AS reached FROM starts
            UNION
            SELECT cid, nid FROM c
            UNION
            SELECT nid, rid FROM n
            UNION
            SELECT c.cid, n.rid FROM c JOIN n ON c.nid = n.nid
        """,
        "rdf_path_alt_inverse": """
            SELECT 'http://ex/n/' || CAST(n_nationkey AS VARCHAR) AS nation,
                   'http://ex/c/' || CAST(c_custkey AS VARCHAR) AS linked
            FROM nation JOIN customer ON c_nationkey = n_nationkey
            UNION
            SELECT DISTINCT 'http://ex/n/' || CAST(n_nationkey AS VARCHAR),
                   'http://ex/r/' || CAST(n_regionkey AS VARCHAR)
            FROM nation
        """,
        "kg_mentions": f"""
            SELECT doc_id, surface, CAST(count(*) AS BIGINT) AS n
            FROM ({mentions_base}) GROUP BY doc_id, surface
        """,
        "kg_links_prior": links_prior,
        "kg_cooccur": f"""
            WITH links AS ({links_prior}),
            de AS (SELECT DISTINCT doc_id, entity_id FROM links)
            SELECT a.entity_id AS ea, b.entity_id AS eb, CAST(count(*) AS BIGINT) AS n_docs
            FROM de a JOIN de b ON a.doc_id = b.doc_id AND a.entity_id < b.entity_id
            GROUP BY ea, eb
        """,
        "kg_entity_counts_salted": f"""
            WITH links AS ({links_prior})
            SELECT entity_id, CAST(count(*) AS BIGINT) AS n_mentions
            FROM links GROUP BY entity_id
        """,
        "kg_canonical": f"""
            WITH RECURSIVE edges AS (
              SELECT src, dst FROM {_alias_edges_values_sql()}
            ),
            und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
            nodes AS (SELECT DISTINCT src AS n FROM und),
            reach(n, m) AS (
              SELECT n, n FROM nodes
              UNION
              SELECT r.n, u.dst FROM reach r JOIN und u ON r.m = u.src
            )
            SELECT n AS entity_id, min(m) AS canonical_id FROM reach GROUP BY n
        """,
        "dedup_exact": """
            WITH keyed AS (
              SELECT doc_id,
                     md5(list_aggregate(string_split(text,' ')[1:4], 'string_agg', ' ')) AS dup_key
              FROM documents)
            SELECT dup_key, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS min_doc, CAST(max(doc_id) AS BIGINT) AS max_doc
            FROM keyed GROUP BY dup_key HAVING count(*) > 1
        """,
        "dedup_minhash": _minhash_sql(),
        "dedup_lsh_pairs": f"""
            WITH sigs AS ({_minhash_sql()}),
            banded AS (
              {' UNION ALL '.join(
                  "SELECT doc_id, %d AS band, md5(CAST(mh_%d AS VARCHAR) || '_' || CAST(mh_%d AS VARCHAR)) AS bucket FROM sigs"
                  % (b, 2 * b, 2 * b + 1)
                  for b in range(LSH_BANDS)
              )}
            ),
            keep AS (SELECT band, bucket FROM banded
                     GROUP BY band, bucket HAVING count(*) <= {MAX_LSH_BUCKET}),
            kept AS (SELECT banded.* FROM banded JOIN keep USING (band, bucket))
            SELECT DISTINCT CAST(l.doc_id AS BIGINT) AS a, CAST(r.doc_id AS BIGINT) AS b
            FROM kept l JOIN kept r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE sigs AS MATERIALIZED ({_minhash_sql()}),
            banded AS MATERIALIZED (
              {' UNION ALL '.join(
                  "SELECT doc_id, %d AS band, md5(CAST(mh_%d AS VARCHAR) || '_' || CAST(mh_%d AS VARCHAR)) AS bucket FROM sigs"
                  % (b, 2 * b, 2 * b + 1)
                  for b in range(LSH_BANDS)
              )}
            ),
            keep AS MATERIALIZED (SELECT band, bucket FROM banded
                     GROUP BY band, bucket HAVING count(*) <= {MAX_LSH_BUCKET}),
            kept AS MATERIALIZED (SELECT banded.* FROM banded JOIN keep USING (band, bucket)),
            pairs AS MATERIALIZED (
              SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
              FROM kept l JOIN kept r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
            ),
            -- MATERIALIZED throughout: DuckDB inlines CTEs by default, and a
            -- non-materialized CTE referenced from a recursive term is
            -- re-evaluated EVERY iteration — the whole minhash+LSH pipeline
            -- re-ran per lp round (observed: 28+ min; materialized: ~6 s)
            und AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
            nodes AS MATERIALIZED (SELECT DISTINCT src AS n FROM und),
            -- iterative min-label propagation, O(E * diameter): each round a
            -- node receives the min label on its frontier; the component min
            -- walks outward BFS-style and the final per-node min equals the
            -- component minimum (same verdict as the engine's union-find /
            -- distributed fixpoint).  Replaces the all-pairs transitive
            -- closure (O(sum of component^2)) that was infeasible at sf1's
            -- 391k candidate edges (r4 verdict #3).
            lp(n, lbl) AS (
              SELECT n, n FROM nodes
              UNION
              SELECT u.dst, min(l.lbl) FROM lp l JOIN und u ON l.n = u.src GROUP BY u.dst
            )
            SELECT CAST(n AS BIGINT) AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
            FROM lp GROUP BY n
        """,
        "dedup_simhash": _simhash_sql(),
        "dedup_ngram_jaccard": f"""
            WITH sh AS ({_shingles_sql()}),
            dfc AS (SELECT shingle FROM sh GROUP BY shingle
                    HAVING count(*) <= greatest(50, (SELECT count(*) // 100 FROM documents))),
            rare AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN dfc USING (shingle)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            shared AS (
              SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
              FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
                   round(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 6) AS jaccard
            FROM shared JOIN sizes na ON na.doc_id = a JOIN sizes nb ON nb.doc_id = b
            WHERE round(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 6) >= 0.3
        """,
        "dedup_embedding": f"""
            SELECT CAST(a.vec_id AS BIGINT) AS a, CAST(b.vec_id AS BIGINT) AS b
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.45
        """,
        "ann_topk": f"""
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, {_cos_sql('embedding', 'qe')} AS cos
            FROM embeddings, q WHERE vec_id <> 0
            ORDER BY cos DESC, vec_id LIMIT 10
        """,
        "ann_ivf_assign": _ivf_sql(n_centroids=16, iters=2),
        "ann_ivf_topk": _ivf_topk_sql(query_vec_id=7, k=10),
        "dedup_verified_jaccard": f"""
            WITH sigs AS ({_minhash_sql()}),
            banded AS (
              {' UNION ALL '.join(
                  "SELECT doc_id, %d AS band, md5(CAST(mh_%d AS VARCHAR) || '_' || CAST(mh_%d AS VARCHAR)) AS bucket FROM sigs"
                  % (b, 2 * b, 2 * b + 1)
                  for b in range(LSH_BANDS)
              )}
            ),
            keep AS (SELECT band, bucket FROM banded
                     GROUP BY band, bucket HAVING count(*) <= {MAX_LSH_BUCKET}),
            kept AS (SELECT banded.* FROM banded JOIN keep USING (band, bucket)),
            cands AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                      FROM kept l JOIN kept r ON l.band = r.band AND l.bucket = r.bucket
                                             AND l.doc_id < r.doc_id),
            sh AS ({_shingles_sql()}),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            shared AS (
              SELECT c.a, c.b, count(*) AS inter
              FROM cands c JOIN sh sa ON sa.doc_id = c.a
                           JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
              GROUP BY c.a, c.b)
            SELECT CAST(s.a AS BIGINT) AS a, CAST(s.b AS BIGINT) AS b,
                   round(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 6) AS jaccard
            FROM shared s JOIN sizes na ON na.doc_id = s.a
                          JOIN sizes nb ON nb.doc_id = s.b
            WHERE round(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 6) >= 0.5
        """,
        "text_tokens": """
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text,' '), t -> t <> '')) AS BIGINT) AS n_tokens,
                   CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_bpe_est
            FROM documents
        """,
        "text_quality": """
            WITH t AS (
              SELECT doc_id,
                     len(list_filter(string_split(text,' '), x -> x <> '')) AS n_tok,
                     length(text) AS n_chars,
                     len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and'))) AS n_stop,
                     length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS n_alpha,
                     len(string_split(text,' ')) AS n_tok_all
              FROM documents)
            SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
                   round(
                     0.4 * least(n_tok / 64.0, 1.0)
                   + 0.2 * least((CAST(n_chars AS DOUBLE) / greatest(n_tok, 1)) / 8.0, 1.0)
                   + 0.2 * (1 - least(CAST(n_stop AS DOUBLE) / greatest(n_tok_all, 1) * 4, 1.0))
                   + 0.2 * (CAST(n_alpha AS DOUBLE) / greatest(n_chars, 1)), 6) AS quality
            FROM t
        """,
        "text_fingerprint": """
            SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp_md5
            FROM documents
        """,
        # span interleaving (synth.py): n_spans 8-token windows, one media
        # span after every 2 text spans; kind + metadata from md5-prefix
        # hashes — fully recomputable here (shared CTE: _MEDIA_META_CTE)
        "media_meta": f"""
            WITH {_MEDIA_META_CTE}
            SELECT media_ref, kind,
                   CAST(h % 48 + 16 AS BIGINT) AS width,
                   CAST(h % 27 + 9 AS BIGINT) AS height,
                   CAST(h % 160 + 40 AS BIGINT) AS duration_ms
            FROM meta
        """,
        # payload byte counts derived from the container formats the encode
        # stage writes: P6 PPM header + RGB plane; canonical 44-byte WAV
        # header + PCM16 mono at 8kHz; Y4M stream header + FRAME-delimited
        # C444 planes at 25fps.  Matching n_bytes proves the Arrow stage
        # really encoded+decoded those bytes.
        "media_features": f"""
            WITH {_MEDIA_META_CTE},
            sized AS (
              SELECT media_ref, kind,
                     CAST(h % 48 + 16 AS INT) AS w,
                     CAST(h % 27 + 9 AS INT) AS hh,
                     CAST(h % 160 + 40 AS INT) AS ms
              FROM meta)
            SELECT media_ref, kind,
                   CAST(CASE kind
                     WHEN 'image' THEN
                       length('P6' || chr(10) || CAST(w AS VARCHAR) || ' ' ||
                              CAST(hh AS VARCHAR) || chr(10) || '255' || chr(10))
                       + w * hh * 3
                     WHEN 'audio' THEN 44 + greatest(1, (8000 * ms) // 1000) * 2
                     ELSE
                       length('YUV4MPEG2 W' || CAST(w AS VARCHAR) || ' H' ||
                              CAST(hh AS VARCHAR) || ' F25:1 Ip A1:1 C444') + 1
                       + greatest(1, (ms * 25) // 1000) * (6 + w * hh * 3)
                   END AS BIGINT) AS n_bytes,
                   CAST(8 AS BIGINT) AS n_dims
            FROM sized
        """,
        "cur_pii": _cur_pii_sql(),
        "cur_repetition": """
            WITH t AS (
              SELECT doc_id, tok FROM documents,
                     unnest(string_split(text, ' ')) AS u(tok) WHERE tok <> ''),
            pt AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY doc_id, tok)
            SELECT doc_id,
                   CAST(sum(n) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   round(CAST(count(*) AS DOUBLE) / sum(n), 6) AS distinct_ratio,
                   round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top_share
            FROM pt GROUP BY doc_id
        """,
        "cur_contamination": f"""
            WITH g AS ({_ngram8_sql()}),
            bench AS (SELECT DISTINCT h FROM g
                      WHERE CAST(doc_id AS BIGINT) % 97 = 0),
            sizes AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
            hits AS (SELECT g.doc_id, count(*) AS n_hit
                     FROM g JOIN bench ON g.h = bench.h GROUP BY g.doc_id)
            SELECT s.doc_id,
                   CAST(s.n_grams AS BIGINT) AS n_grams,
                   CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
                   round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / s.n_grams, 6) AS overlap,
                   CAST(coalesce(h.n_hit, 0) AS DOUBLE) / s.n_grams >= 0.5 AS contaminated
            FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
        """,
        "cur_pack": """
            WITH sized AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
              FROM documents),
            c AS (SELECT doc_id, n_tokens,
                         sum(n_tokens) OVER (ORDER BY doc_id
                                             ROWS UNBOUNDED PRECEDING) AS cum
                  FROM sized)
            SELECT doc_id, n_tokens,
                   CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id,
                   CAST((cum - n_tokens) % 512 AS BIGINT) AS pack_offset
            FROM c
        """,
        # quality formula CTE is the text_quality oracle + lang; the
        # keep-N arithmetic (ceil(0.9 * n) in IEEE double) is spelled
        # identically on both engines, so boundary rounding agrees
        "cur_quality_filter": """
            WITH t AS (
              SELECT doc_id, lang,
                     len(list_filter(string_split(text,' '), x -> x <> '')) AS n_tok,
                     length(text) AS n_chars,
                     len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and'))) AS n_stop,
                     length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS n_alpha,
                     len(string_split(text,' ')) AS n_tok_all
              FROM documents),
            q AS (
              SELECT doc_id, lang,
                     round(
                       0.4 * least(n_tok / 64.0, 1.0)
                     + 0.2 * least((CAST(n_chars AS DOUBLE) / greatest(n_tok, 1)) / 8.0, 1.0)
                     + 0.2 * (1 - least(CAST(n_stop AS DOUBLE) / greatest(n_tok_all, 1) * 4, 1.0))
                     + 0.2 * (CAST(n_alpha AS DOUBLE) / greatest(n_chars, 1)), 6) AS quality
              FROM t),
            r AS (
              SELECT doc_id, lang, quality,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY quality DESC, doc_id) AS rn,
                     count(*) OVER (PARTITION BY lang) AS n
              FROM q)
            SELECT doc_id, lang, quality FROM r WHERE rn <= ceil(0.9 * n)
        """,
        # thresholds/weights are generated from ops.curation.MIX_FRACTIONS so
        # the Spark op and this SQL can never drift; the md5-prefix keep test
        # is a lexicographic STRING comparison (identical in both engines —
        # no hex->int cast whose SQL spelling differs)
        "cur_stratified_sample": f"""
            SELECT doc_id, lang, {_mix_weight_case()} AS weight
            FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < {_mix_threshold_case()}
        """,
        "events_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total
            FROM events GROUP BY 1, 2
        """,
        "events_sessions": """
            WITH g AS (
              SELECT user_id, ts,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
              FROM events)
            SELECT user_id,
                   CAST(sum(CASE WHEN prev_ts IS NULL
                                 OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM g GROUP BY user_id
        """,
        "events_sessions_closed": """
            WITH p AS (
              SELECT CAST(user_id AS BIGINT) AS user_id,
                     CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) * 1000 AS ts_ms,
                     CAST(value AS DOUBLE) AS value
              FROM events),
            m AS (
              SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
                               OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_sess
              FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)),
            s AS (
              SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms
                                            ROWS UNBOUNDED PRECEDING) AS sess_id
              FROM m),
            agg AS (
              SELECT user_id, sess_id,
                     min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms,
                     CAST(count(*) AS BIGINT) AS n_events,
                     round(sum(value), 4) AS total_value
              FROM s GROUP BY user_id, sess_id),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY user_id
                                           ORDER BY session_start_ms DESC) AS rk
              FROM agg)
            SELECT user_id, session_start_ms, session_end_ms, n_events, total_value
            FROM ranked WHERE rk > 1
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_qty,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_base_price,
                   CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_disc_price,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q6": """
            SELECT CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND CAST(l_discount AS DOUBLE) >= 0.02
              AND l_quantity < 24
        """,
        "tpch_q3_top10": """
            SELECT CAST(l_orderkey AS BIGINT) AS orderkey,
                   CAST(rev AS VARCHAR) AS revenue
            FROM (
              SELECT l_orderkey,
                     CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS rev
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              WHERE c_mktsegment = 'BUILDING'
              GROUP BY l_orderkey
              ORDER BY rev DESC, l_orderkey
              LIMIT 10)
        """,
        "tpch_region_revenue": """
            SELECT r_name,
                   CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "text_langid": """
            WITH t AS (
              SELECT doc_id, string_split(text,' ') AS toks,
                     greatest(len(string_split(text,' ')), 1) AS n
              FROM documents),
            s AS (
              SELECT doc_id,
                     CAST(len(list_filter(toks, x -> x IN ('spark','stream','batch','row','data','value','key','hash','window'))) AS DOUBLE)/n AS s_data,
                     CAST(len(list_filter(toks, x -> x IN ('the','a','fast','slow','small'))) AS DOUBLE)/n AS s_en,
                     CAST(len(list_filter(toks, x -> x IN ('join','filter','query','table','scan','merge','sort','group','order'))) AS DOUBLE)/n AS s_sql
              FROM t)
            SELECT doc_id,
                   CASE WHEN s_data >= s_en AND s_data >= s_sql THEN 'data'
                        WHEN s_en > s_data AND s_en >= s_sql THEN 'en'
                        WHEN s_sql > s_data AND s_sql > s_en THEN 'sql'
                        ELSE 'unk' END AS lang_pred,
                   round(s_data, 6) AS score_data,
                   round(s_en, 6) AS score_en,
                   round(s_sql, 6) AS score_sql
            FROM s
        """,
        "kg_triples_full": _kg_full_sql(),
    }
    # the partitioned packer must equal the global-cumsum packer exactly —
    # one oracle, two Spark implementations
    out["cur_pack_partitioned"] = out["cur_pack"]
    return out
