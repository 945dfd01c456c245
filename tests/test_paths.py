"""The shared property-path evaluator (plans/paths.py): SHACL's
focus-seeded call and SPARQL's constant-subject pattern answer alike."""

from __future__ import annotations

import pytest

from rdfshape_api_spark.plans.paths import (
    PathAlt,
    PathClosure,
    PathInverse,
    PathPred,
    PathSeq,
    path_rows,
)
from rdfshape_api_spark.plans.sparql import parse_sparql, sparql_select

EX = "http://example.org/"
P, R = PathPred(EX + "p"), PathPred(EX + "r")

#: SPARQL path text → the path IR the SHACL parser builds for the same path
CASES = {
    "ex:p/ex:p": PathSeq((P, P)),
    "ex:p|ex:r": PathAlt((P, R)),
    "^ex:p": PathInverse(P),
    "ex:p*": PathClosure(P, 0, None),
    "ex:p+": PathClosure(P, 1, None),
    "ex:p?": PathClosure(P, 0, 1),
}


@pytest.fixture(scope="module")
def tri(spark):
    edges = [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "a"), ("d", "p", "a"), ("a", "r", "c")]
    rows = [("d1", EX + s, EX + p, "iri", EX + o, None, None) for s, p, o in edges]
    rows.append(("d1", EX + "c", EX + "q", "literal", "x", "en", None))
    return spark.createDataFrame(
        rows,
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string",
    )


@pytest.mark.parametrize("text", list(CASES))
def test_shacl_focus_rows_equal_sparql_constant_subject(spark, tri, text):
    query = f"PREFIX ex: <{EX}> SELECT DISTINCT ?o WHERE {{ ex:a {text} ?o . }}"
    assert parse_sparql(query).where.patterns[0].path == CASES[text]
    focus = spark.createDataFrame([("d1", EX + "a")], "doc_sha256 string, node string")
    shacl = path_rows(tri, CASES[text], ["doc_sha256"], focus).distinct()
    sparql = sparql_select(tri, query)
    got = {r["obj_value"] for r in shacl.collect()}
    assert got == {r["o"] for r in sparql.collect()}
    assert got  # every case reaches something from ex:a
