from shacl_js_spark.terms import (
    T,
    XSD_BOOLEAN,
    XSD_INTEGER,
    XSD_STRING,
    bnode,
    compare_nodes,
    compare_terms,
    decode_term,
    encode_term,
    iri,
    literal,
    local_name,
)


def test_encode_decode_roundtrip():
    cases = [
        iri("http://ex.org/a"),
        bnode("_:b1"),
        literal("plain"),
        literal("42", XSD_INTEGER),
        literal("hello", lang="en-US"),
        literal('quo"te\\and\nnewline'),
        literal("true", XSD_BOOLEAN),
    ]
    for t in cases:
        assert decode_term(t.encoded()) == t, t


def test_encoding_injective():
    # '"a"' as plain literal vs iri named "a" vs bnode must all differ
    encs = {
        literal("a").encoded(),
        iri("a").encoded(),
        bnode("_:a").encoded(),
        literal("a", lang="en").encoded(),
        literal("a", XSD_INTEGER).encoded(),
    }
    assert len(encs) == 5


def test_ttl_shortcut():
    # ref: term-factory.js:30-56
    assert T("true") == literal("true", XSD_BOOLEAN)
    assert T("42") == literal("42", XSD_INTEGER)
    assert T("rdf:type").value.endswith("#type")
    assert T("hello world").is_literal


def test_compare_terms_ordering():
    # termType name order: BlankNode < Literal < NamedNode (rdfquery.js:910)
    assert compare_terms(bnode("_:x"), literal("a")) < 0
    assert compare_terms(literal("a"), iri("a")) < 0
    # string ordering (not numeric): "10" < "9"
    assert compare_terms(literal("10", XSD_INTEGER), literal("9", XSD_INTEGER)) < 0


def test_compare_nodes_incomparable():
    # mixed datatypes -> None (index.js:66-76)
    assert compare_nodes(literal("1", XSD_INTEGER), literal("1")) is None
    assert compare_nodes(literal("a"), literal("b")) == -1


def test_local_name():
    assert local_name("http://www.w3.org/ns/shacl#minCount") == "minCount"
    assert local_name("http://ex.org/path/leaf") == "leaf"


CODEC_VALUES = ["plain", 'a"b', "back\\slash", "tab\there", "lf\nhere", "cr\rhere", "naïve 日本語"]


def test_literal_cols_is_the_column_twin_of_encode_term(spark):
    # every form of every escapable value: the Spark-side encoding equals the
    # driver's, and decodes back to the same (value, datatype, lang)
    from pyspark.sql import functions as F

    from shacl_js_spark.graph import literal_cols

    dt = "http://ex/dt"
    forms = [(XSD_STRING, None), (dt, None), (XSD_STRING, "en")]
    df = spark.createDataFrame([(v,) for v in CODEC_VALUES], "v string")
    cols = [
        c.alias(f"{i}_{j}")
        for i, (d, lang) in enumerate(forms)
        for j, c in enumerate(literal_cols(F.col("v"), d, lang))
    ]
    rows = df.select("v", *cols).collect()
    assert sorted(r["v"] for r in rows) == sorted(CODEC_VALUES)
    for r in rows:
        for i, (d, lang) in enumerate(forms):
            want = literal(r["v"], datatype=d, lang=lang)
            enc, v, kind, odt, olang = (r[f"{i}_{j}"] for j in range(5))
            assert enc == encode_term(r["v"], "literal", want.datatype, lang)
            assert (v, kind, odt, olang) == (want.value, "literal", want.datatype, lang)
            assert decode_term(enc) == want


def test_oracle_lexical_escape_matches_escape_lex():
    # the DuckDB oracle escapes kg literals as the engine's codec does
    import duckdb

    import __spark_entry__ as entry
    from shacl_js_spark.terms import escape_lex

    values = ["plain", 'say "hi"', "back\\slash", "tab\there", "a\nb\r\nc", '\\"\t\n\r']
    with duckdb.connect() as con:
        got = [con.execute(f"SELECT {entry._lex_sql('?')}", [v]).fetchone()[0] for v in values]
    assert got == [escape_lex(v) for v in values]
