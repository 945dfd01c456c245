"""Operator algebra tests (SURVEY §2.3 P1-P9, §2.4 A1-A4, §2.8 I1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdfshape_api_spark.model import RDF_TYPE, RDFS_DOMAIN, RDFS_SUBCLASSOF, RDFS_SUBPROPERTYOF
from rdfshape_api_spark.operators import algebra
from rdfshape_api_spark.plans.paths import PathClosure, PathInverse, PathPred, PathSeq, path_rows


@pytest.fixture(scope="module")
def g(spark):
    rows = [
        ("d1", "http://e/a", "http://e/p", "iri", "http://e/b", None, None),
        ("d1", "http://e/b", "http://e/p", "iri", "http://e/c", None, None),
        ("d1", "http://e/c", "http://e/q", "literal", "5", None, None),
        ("d1", "http://e/a", RDF_TYPE, "iri", "http://e/Sub", None, None),
        ("d1", "http://e/Sub", RDFS_SUBCLASSOF, "iri", "http://e/Mid", None, None),
        ("d1", "http://e/Mid", RDFS_SUBCLASSOF, "iri", "http://e/Top", None, None),
        ("d1", "http://e/p", RDFS_SUBPROPERTYOF, "iri", "http://e/rel", None, None),
        ("d1", "http://e/q", RDFS_DOMAIN, "iri", "http://e/HasQ", None, None),
    ]
    return spark.createDataFrame(
        rows,
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string",
    )


def test_projections(g):
    # subjects: a, b, c, Sub, Mid, p, q
    assert algebra.subjects(g).count() == 7
    assert algebra.predicates(g).count() == 6
    iris = {r["iri"] for r in algebra.iris(g).collect()}
    assert "http://e/a" in iris and "http://e/Top" in iris and RDF_TYPE in iris


def test_selections(g):
    assert algebra.triples_with_subject(g, "http://e/a").count() == 2
    assert algebra.triples_with_predicate(g, "http://e/p").count() == 2
    assert algebra.triples_with_object(g, "http://e/c").count() == 1
    assert algebra.triples_with_predicate_object(g, "http://e/q", "5").count() == 1
    assert algebra.has_predicate_with_subject(g, "http://e/a", "http://e/p")
    assert not algebra.has_predicate_with_subject(g, "http://e/c", "http://e/p")


def test_has_predicate_table(g):
    out = {r["subj"]: r["has_pred"] for r in algebra.has_predicate_table(g, "http://e/p").collect()}
    assert len(out) == 7  # every subject gets a row
    assert out["http://e/a"] and out["http://e/b"]
    assert not out["http://e/c"] and not out["http://e/Sub"]


def test_check_datatype_table(spark):
    xsd_dec = "http://www.w3.org/2001/XMLSchema#decimal"
    rows = [
        ("d1", "http://e/a", "http://e/v", "literal", "4.2", None, xsd_dec),
        ("d1", "http://e/b", "http://e/v", "literal", "nope", None, xsd_dec),  # bad lexical
        ("d1", "http://e/c", "http://e/v", "literal", "4.2", None, None),      # untyped
        ("d1", "http://e/d", "http://e/v", "iri", "http://e/x", None, None),   # not literal
    ]
    df = spark.createDataFrame(
        rows,
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string",
    )
    out = {r["subj"]: r["datatype_ok"] for r in
           algebra.check_datatype_table(df, "http://e/v", xsd_dec).collect()}
    assert out == {"http://e/a": True, "http://e/b": False,
                   "http://e/c": False, "http://e/d": False}


def test_subclass_closure_and_instances(g):
    assert algebra.subclass_closure(g, "http://e/Top") == [
        "http://e/Mid",
        "http://e/Sub",
        "http://e/Top",
    ]
    inst = {r["node"] for r in algebra.shacl_instances(g, "http://e/Top").collect()}
    assert inst == {"http://e/a"}


def test_subclass_closure_deep_hierarchy_one_job(spark, tmp_path):
    """A 25-level rdfs:subClassOf chain: the closure is complete and costs
    one Spark job (one collect of the edges), not one per level."""
    rows = [
        ("d1", f"http://e/C{i:02d}", RDFS_SUBCLASSOF, "iri", f"http://e/C{i + 1:02d}", None, None)
        for i in range(25)
    ]
    path = str(tmp_path / "hierarchy")
    spark.createDataFrame(
        rows,
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string",
    ).write.parquet(path)
    df = spark.read.parquet(path)
    sc = spark.sparkContext
    group = "test_subclass_closure_jobs"
    sc.setJobGroup(group, group)
    try:
        got = algebra.subclass_closure(df, "http://e/C25")
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == [f"http://e/C{i:02d}" for i in range(26)]
    assert len(jobs) == 1


def _pairs(rows):
    return {(r["node"], r["obj_value"]) for r in rows.collect()}


def test_property_paths(g):
    p = PathPred("http://e/p")
    direct = path_rows(g, p, ["doc_sha256"])
    assert direct.count() == 2
    inv = path_rows(g, PathInverse(p), ["doc_sha256"])
    assert _pairs(inv) == {
        ("http://e/b", "http://e/a"),
        ("http://e/c", "http://e/b"),
    }
    seq = path_rows(g, PathSeq((p, p)), ["doc_sha256"])
    assert _pairs(seq) == {("http://e/a", "http://e/c")}
    plus = path_rows(g, PathClosure(p, 1, None), ["doc_sha256"])
    assert _pairs(plus) == {
        ("http://e/a", "http://e/b"),
        ("http://e/b", "http://e/c"),
        ("http://e/a", "http://e/c"),
    }


def test_path_zero_or_more_deep_chain(spark):
    """A 12-edge chain needs 11 join rounds; every pair is reached."""
    g = spark.createDataFrame(
        [("d1", f"v{i:02d}", "p", "iri", f"v{i + 1:02d}", None, None) for i in range(12)],
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string",
    )
    got = _pairs(path_rows(g, PathClosure(PathPred("p"), 1, None), ["doc_sha256"]))
    assert got == {(f"v{i:02d}", f"v{j:02d}") for i in range(13) for j in range(i + 1, 13)}


def test_aggregations(g):
    assert algebra.number_of_statements(g) == 8
    info = algebra.data_info(g).collect()[0]
    assert info["n_statements"] == 8 and info["n_distinct_predicates"] == 6
    out = {r["pred"]: r["values"] for r in algebra.outgoing_arcs(g, "http://e/a").collect()}
    assert out["http://e/p"] == ["http://e/b"]
    cards = algebra.cardinalities(g)
    assert cards.filter(
        (F.col("subj") == "http://e/a") & (F.col("pred") == "http://e/p")
    ).collect()[0]["n_values"] == 1


def test_isomorphism(g, spark):
    assert algebra.isomorphic(g, g)
    other = g.filter(F.col("pred") != "http://e/q")
    assert not algebra.isomorphic(g, other)


def test_rdfs_inference(g):
    from rdfshape_api_spark.operators.inference import apply_inference, rdfs_closure

    inf = rdfs_closure(g)
    inferred = {
        (r["subj"], r["pred"], r["obj_value"])
        for r in inf.filter(F.col("origin") == "inferred").collect()
    }
    # rdfs9: a type Sub ⊑ Mid ⊑ Top
    assert ("http://e/a", RDF_TYPE, "http://e/Mid") in inferred
    assert ("http://e/a", RDF_TYPE, "http://e/Top") in inferred
    # rdfs7: p ⊑ rel
    assert ("http://e/a", "http://e/rel", "http://e/b") in inferred
    # rdfs2: q domain HasQ
    assert ("http://e/c", RDF_TYPE, "http://e/HasQ") in inferred
    # NONE is identity
    assert apply_inference(g, "NONE") is g
    with pytest.raises(ValueError):
        apply_inference(g, "OWL-Full")


def test_serialization_roundtrip(g):
    """K1: to_ntriples output re-parses to the same triple set."""
    from rdfshape_api_spark.operators.serialize import to_json_graph, to_ntriples
    from rdfshape_api_spark.sources.parsers import parse_ntriples

    lines = "\n".join(r["line"] for r in to_ntriples(g).collect())
    reparsed = {t for t in parse_ntriples(lines)}
    orig = {
        (r["subj"], r["pred"], r["obj_kind"], r["obj_value"], r["obj_lang"], r["obj_datatype"])
        for r in g.collect()
    }
    assert reparsed == orig
    jg = to_json_graph(g)
    assert jg.count() == 7  # one row per subject


def test_nquads_roundtrip(g):
    """K1: to_nquads emits the per-document graph label and re-parses
    (merged-model semantics drop the label) to the same triple set."""
    from rdfshape_api_spark.operators.serialize import to_nquads
    from rdfshape_api_spark.sources.parsers import parse_nquads

    lines = [r["line"] for r in to_nquads(g).collect()]
    assert all(line.rstrip(" .").endswith("<urn:doc:d1>") for line in lines)
    reparsed = {t for t in parse_nquads("\n".join(lines))}
    orig = {
        (r["subj"], r["pred"], r["obj_kind"], r["obj_value"], r["obj_lang"], r["obj_datatype"])
        for r in g.collect()
    }
    assert reparsed == orig


def test_dot_export(g):
    """K-DOT: per-doc DOT statements — shared resource nodes, per-occurrence
    literal leaves, qname labels, and a well-formed assembled digraph."""
    from rdfshape_api_spark.operators.serialize import assemble_dot, to_dot

    prefixes = [("e", "http://e/")]
    lines = [r["line"] for r in to_dot(g, prefixes).collect()]
    assert all(l.endswith("];") for l in lines)
    edges = [l for l in lines if '" -> "' in l]
    nodes = [l for l in lines if "[shape=" in l and '" -> "' not in l]
    assert len(edges) == 8  # one per distinct triple
    # resources are shared: node for e:b appears exactly once
    b_nodes = [l for l in nodes if 'label="e:b"' in l]
    assert len(b_nodes) == 1 and "shape=ellipse" in b_nodes[0]
    # the literal leaf is a record with the lexical label
    lit_nodes = [l for l in nodes if "shape=record" in l]
    assert len(lit_nodes) == 1 and 'label="5"' in lit_nodes[0]
    # edge labels are prefix-compacted; rdf:type predicate has no prefix
    assert any('[label="e:p"]' in l for l in edges)
    assert any("rdf-syntax-ns#type" in l for l in edges)
    dot = assemble_dot(to_dot(g, prefixes), "d1")
    assert dot.startswith('digraph "rdf" {') and dot.endswith("}")
    assert dot.count("\n") == len(set(lines)) + 1


def test_dot_escaping(spark):
    """DOT double-quoted-string escaping: quotes, backslashes, newlines."""
    from rdfshape_api_spark.operators.serialize import to_dot

    rows = [("d1", "http://e/a", "http://e/p", "literal", 'say "hi"\nnow\\', None, None)]
    df = spark.createDataFrame(
        rows,
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string",
    )
    lines = [r["line"] for r in to_dot(df, []).collect()]
    lit = next(l for l in lines if "shape=record" in l)
    assert 'label="say \\"hi\\"\\nnow\\\\"' in lit


