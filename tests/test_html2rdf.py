"""HTML→RDF extraction (S2): RDFa-lite 1.1 + Microdata subset."""

from __future__ import annotations

import duckdb
import pytest

from rdfshape_api_spark.sources.html2rdf import (
    extract_microdata,
    extract_rdfa,
    parse_dom,
)

S = "http://schema.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def test_dom_parser_nesting_and_voids():
    root = parse_dom('<div><img src="x.png"><p>hi <b>there</b></p></div>')
    div = root.children[0]
    assert div.tag == "div"
    assert [c.tag for c in div.children] == ["img", "p"]
    assert div.children[1].text() == "hi there"


def test_rdfa_basic():
    html = (
        '<body vocab="http://schema.org/">'
        '<div about="http://e/a" typeof="Person">'
        '<span property="name">Ann</span>'
        '<a property="url" href="http://e/h">x</a>'
        "</div></body>"
    )
    t = set(extract_rdfa(html))
    assert ("http://e/a", RDF_TYPE, "iri", S + "Person", None, None) in t
    assert ("http://e/a", S + "name", "literal", "Ann", None, None) in t
    assert ("http://e/a", S + "url", "iri", "http://e/h", None, None) in t


def test_rdfa_nested_bnode_and_content_attr():
    html = (
        '<body vocab="http://schema.org/"><div about="http://e/a">'
        '<div property="address" typeof="PostalAddress">'
        '<span property="addressLocality">Ghent</span></div>'
        '<meta property="birthDate" content="1999-09-09">'
        "</div></body>"
    )
    t = set(extract_rdfa(html))
    assert ("http://e/a", S + "address", "bnode", "_:h1", None, None) in t
    assert ("_:h1", RDF_TYPE, "iri", S + "PostalAddress", None, None) in t
    assert ("_:h1", S + "addressLocality", "literal", "Ghent", None, None) in t
    assert ("http://e/a", S + "birthDate", "literal", "1999-09-09", None, None) in t


def test_rdfa_prefix_curie():
    html = (
        '<div prefix="foaf: http://xmlns.com/foaf/0.1/" about="http://e/a">'
        '<span property="foaf:nick">zed</span></div>'
    )
    t = set(extract_rdfa(html))
    assert ("http://e/a", "http://xmlns.com/foaf/0.1/nick", "literal", "zed", None, None) in t


def test_microdata_item_with_nested():
    html = (
        '<div itemscope itemtype="http://schema.org/Product" itemid="http://e/p">'
        '<span itemprop="name">W</span>'
        '<div itemprop="offers" itemscope itemtype="http://schema.org/Offer">'
        '<meta itemprop="price" content="3.50"></div></div>'
    )
    t = set(extract_microdata(html))
    assert ("http://e/p", RDF_TYPE, "iri", S + "Product", None, None) in t
    assert ("http://e/p", S + "name", "literal", "W", None, None) in t
    assert ("http://e/p", S + "offers", "bnode", "_:h1", None, None) in t
    assert ("_:h1", S + "price", "literal", "3.50", None, None) in t


def test_webdocs_goldens_end_to_end(spark):
    """Full path: docs table → Arrow extract → canonicalize → golden diff."""
    from rdfshape_api_spark.fixtures.webdocs import ensure_webdocs
    from rdfshape_api_spark.operators.canonicalize import canonicalize, dedup_triples
    from rdfshape_api_spark.sources.extract import extract_triples

    paths = ensure_webdocs("sf0.001")
    docs = spark.read.parquet(paths["docs"])
    tri = dedup_triples(canonicalize(extract_triples(docs)))
    got = set(
        map(tuple, tri.select(
            "doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"
        ).collect())
    )
    exp = set(map(tuple, duckdb.sql(f"SELECT * FROM '{paths['triples']}'").fetchall()))
    assert got == exp
