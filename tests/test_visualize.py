"""DOT → SVG rendering (operators/visualize): parser, layered layout,
SVG emission, and the per-document Spark round-trip through to_dot.

Reference behavior: the API rasterizes DOT through Graphviz
(``GraphicFormat.scala:22``); this renderer produces the SVG target
without the dependency.  PNG/PS remain clean rejects.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pytest

from rdfshape_api_spark.operators.visualize import (
    dot_to_svg,
    layout_layers,
    parse_dot,
)

DOT = """digraph "rdf" {
  "Na" [shape=ellipse, label="ex:alice"];
  "Nb" [shape=ellipse, label="ex:bob"];
  "Nl" [shape=record, label="41^^xsd:int"];
  "Nc" [shape=circle, label="_:b0"];
  "Na" -> "Nb" [label="ex:knows"];
  "Na" -> "Nl" [label="ex:age"];
  "Nb" -> "Nc" [label="ex:addr"];
}"""


def test_parse_dot_statements():
    nodes, edges = parse_dot(DOT)
    assert {n.node_id for n in nodes} == {"Na", "Nb", "Nl", "Nc"}
    shapes = {n.node_id: n.shape for n in nodes}
    assert shapes == {
        "Na": "ellipse", "Nb": "ellipse", "Nl": "record", "Nc": "circle",
    }
    assert ("Na", "Nb", "ex:knows") in edges and len(edges) == 3


def test_parse_dot_escapes_and_implicit_nodes():
    nodes, edges = parse_dot(
        '"Nx" [shape=record, label="say \\"hi\\"\\nline2"];\n'
        '"Nx" -> "Ny";'
    )
    by_id = {n.node_id: n for n in nodes}
    assert by_id["Nx"].label == 'say "hi"\nline2'
    # Ny has no statement: implicit ellipse labeled by id (DOT default)
    assert by_id["Ny"].shape == "ellipse" and by_id["Ny"].label == "Ny"
    assert edges == [("Nx", "Ny", "")]


def test_parse_dot_rejects_unknown_statement():
    with pytest.raises(ValueError, match="unsupported DOT"):
        parse_dot('subgraph cluster_0 { rank=same; }')


def test_layout_is_layered_and_deterministic():
    nodes, edges = parse_dot(DOT)
    c1 = layout_layers(nodes, edges)
    c2 = layout_layers(list(reversed(nodes)), list(reversed(edges)))
    assert c1 == c2  # input order never changes the layout
    # every edge spans downward at least one layer (DAG here)
    for src, dst, _ in edges:
        assert c1[dst][0] > c1[src][0]


def test_layout_handles_cycles():
    nodes, edges = parse_dot(
        '"Na" -> "Nb";\n"Nb" -> "Na";\n"Nc" -> "Na";'
    )
    coords = layout_layers(nodes, edges)
    assert len(coords) == 3  # every node placed despite the a<->b cycle


def test_svg_well_formed_and_complete():
    svg = dot_to_svg(DOT, title="g")
    root = ET.fromstring(svg)  # well-formed XML
    ns = "{http://www.w3.org/2000/svg}"
    ellipses = root.findall(f".//{ns}ellipse")
    rects = root.findall(f".//{ns}rect")
    lines = root.findall(f".//{ns}line")
    assert len(ellipses) == 3  # 2 ellipse + 1 circle (circle renders as ellipse rx=ry)
    assert len(rects) == 1 and len(lines) == 3
    assert all(ln.get("marker-end") == "url(#arrow)" for ln in lines)
    texts = [t.text for t in root.findall(f".//{ns}text")]
    for label in ("ex:alice", "ex:bob", "41^^xsd:int", "_:b0", "ex:knows"):
        assert label in texts
    # label text is XML-escaped, not truncated
    svg2 = dot_to_svg('"Nq" [shape=record, label="a<b&c"];')
    assert "a&lt;b&amp;c" in svg2 and ET.fromstring(svg2) is not None


def test_render_svg_from_to_dot(spark):
    """End-to-end: triples → to_dot statements → per-document SVG."""
    from pyspark.sql import functions as F

    from rdfshape_api_spark.operators.serialize import to_dot
    from rdfshape_api_spark.operators.visualize import render_svg
    from rdfshape_api_spark.sources.extract import extract_triples

    docs = spark.createDataFrame(
        [
            (
                "r", "p", "c", "ttl",
                "@prefix ex: <http://ex.org/> .\n"
                "ex:alice ex:knows ex:bob ; ex:age 41 .\n"
                "ex:bob ex:name \"Bob\"@en .",
            )
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    t = extract_triples(docs)
    sha = t.select("doc_sha256").first()[0]
    lines = to_dot(t, [("ex", "http://ex.org/")])
    svg = render_svg(lines, sha, name="g")
    root = ET.fromstring(svg)
    ns = "{http://www.w3.org/2000/svg}"
    texts = {el.text for el in root.findall(f".//{ns}text")}
    assert {"ex:alice", "ex:bob", "ex:knows", "ex:age", 'Bob@en'} <= texts
    # two subjects + one IRI object shared node + 2 literal leaves
    assert len(root.findall(f".//{ns}line")) == t.count()
