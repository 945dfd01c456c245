"""SPARQL §18 algebra: clause order and group scope follow the translation.

Each query below is translated per §18.2.2 (elements fold left to right
inside their own group; a group's filters wrap the group; an OPTIONAL's
filters are its LeftJoin condition) and joined under §18.3 compatibility,
where an unbound variable matches anything."""

from __future__ import annotations

import pytest

from rdfshape_api_spark.plans.sparql import (
    BGP,
    Join,
    LeftJoin,
    SparqlParseError,
    parse_sparql,
    sparql_select,
    sparql_violators,
)

EX = "http://example.org/"
PREFIX = f"PREFIX ex: <{EX}>\n"
COLS = (
    "doc_sha256 string, subj string, pred string, obj_kind string, "
    "obj_value string, obj_lang string, obj_datatype string"
)


@pytest.fixture(scope="module")
def tri(spark):
    rows = [
        ("d1", EX + "s", EX + "p", "literal", "1", None, None),
        ("d1", EX + "s", EX + "q", "literal", "a", None, None),
        ("d1", EX + "s", EX + "r", "literal", "b", None, None),
    ]
    return spark.createDataFrame(rows, COLS)


S = EX + "s"

#: WHERE clause, projected variables, the §18 answer (a sorted row list)
CASES = {
    # Join(LeftJoin(BGP1, BGP2), BGP3): ?w = "a" and ?w = "b" are incompatible
    "optional_then_pattern": (
        "?x ex:p ?v OPTIONAL { ?x ex:q ?w } ?x ex:r ?w", "?x ?v ?w", [],
    ),
    # Join(Extend(BGP1, ?z, "zz"), BGP2)
    "bind_then_pattern": ('?x ex:p ?v BIND("zz" AS ?z) ?x ex:r ?z', "?x ?v ?z", []),
    # Join(Minus(BGP1, BGP2), BGP3): the MINUS shares no variable with BGP1
    "minus_then_pattern": (
        "?x ex:p ?v MINUS { ?y ex:r ?z } ?x ex:r ?z", "?x ?v ?z", [(S, "1", "b")],
    ),
    # LeftJoin(BGP1, BGP2, ?v = "1"): the condition sees both sides
    "optional_filter_reads_outer": (
        '?x ex:p ?v OPTIONAL { ?x ex:q ?w FILTER(?v = "1") }', "?x ?v ?w", [(S, "1", "a")],
    ),
    # the inner OPTIONAL belongs to the outer OPTIONAL's group, which is empty
    "nested_optional": (
        "?x ex:p ?v OPTIONAL { ?x ex:zz ?w OPTIONAL { ?x ex:r ?z } }", "?v ?w ?z",
        [("1", None, None)],
    ),
    "optional_of_union": (
        "?x ex:p ?v OPTIONAL { { ?x ex:zz ?w } UNION { ?x ex:yy ?w } }", "?v ?w",
        [("1", None)],
    ),
    # the BIND belongs to the OPTIONAL's group, which is empty
    "bind_inside_optional": (
        '?x ex:p ?v OPTIONAL { ?x ex:zz ?w BIND("k" AS ?z) }', "?v ?w ?z",
        [("1", None, None)],
    ),
    # the VALUES belongs to the first UNION branch only
    "values_inside_union_branch": (
        '{ ?x ex:p ?v VALUES ?k { "1" } } UNION { ?x ex:q ?v }', "?x ?v ?k",
        [(S, "1", "1"), (S, "a", None)],
    ),
    # the first branch leaves ?w unbound, which is compatible with "b"
    "union_unbound_joins": (
        "{ ?x ex:p ?v } UNION { ?x ex:q ?w } ?x ex:r ?w", "?v ?w", [("1", "b")],
    ),
}


def _key(row):
    return tuple("" if v is None else v for v in row)


@pytest.mark.parametrize("case", list(CASES))
def test_algebra_answer(spark, tri, case):
    where, proj, want = CASES[case]
    out = sparql_select(tri, f"{PREFIX}SELECT {proj} WHERE {{ {where} }}")
    assert sorted(map(tuple, out.collect()), key=_key) == sorted(want, key=_key)


def test_algebra_of_optional_then_pattern():
    """The translation keeps the clause order: Join(LeftJoin(…), BGP)."""
    q = parse_sparql(PREFIX + "SELECT * WHERE { ?x ex:p ?v OPTIONAL { ?x ex:q ?w } ?x ex:r ?w }")
    assert isinstance(q.where, Join) and isinstance(q.where.left, LeftJoin)
    assert isinstance(q.where.right, BGP)
    assert [p.pred for p in q.where.right.patterns] == [EX + "r"]
    assert q.algebra.vars == ["x", "v", "w"]


@pytest.mark.parametrize(
    "text",
    [
        "SELECT ?s WHERE { ?s ex:p ?o } %% ~~",
        "SELECT ?s WHERE { ?s ex:p ?o ~ }",
    ],
)
def test_tokenizer_rejects_unmatched_characters(text):
    with pytest.raises(SparqlParseError, match="unexpected character .* at offset"):
        parse_sparql(PREFIX + text)


def test_trailing_tokens_rejected():
    with pytest.raises(SparqlParseError, match="after the query"):
        parse_sparql(PREFIX + "SELECT ?s WHERE { ?s ex:p ?o } LIMIT 5 }}}")


def test_dollar_variable_is_question_variable(spark, tri):
    """``$name`` is the variable ``?name`` (VAR2)."""
    q = parse_sparql(PREFIX + "SELECT $s WHERE { $s ex:p ?o }")
    assert q.algebra.vars == ["s"]
    out = sparql_select(tri, PREFIX + "SELECT $s ?o WHERE { $s ex:p $o }")
    assert [tuple(r) for r in out.collect()] == [(S, "1")]


def test_violators_keep_dollar_this_inside_strings(spark):
    """``$this`` inside a string literal stays text: only the variable
    token binds the focus node."""
    tri = spark.createDataFrame(
        [
            ("d1", EX + "a", EX + "name", "literal", "$this", None, None),
            ("d1", EX + "b", EX + "name", "literal", "?this", None, None),
        ],
        COLS,
    )
    out = sparql_violators(tri, PREFIX + 'SELECT $this WHERE { $this ex:name ?n FILTER(?n = "$this") }')
    assert [(r["doc_sha256"], r["node"]) for r in out.collect()] == [("d1", EX + "a")]


def test_violators_minus_sharing_no_variable_removes_nothing(spark):
    """The doc id that scopes a constraint query to one document is not a
    variable: a MINUS that shares no variable with its left side removes
    nothing (§18.5), while one on ``$this`` still removes per document."""
    tri = spark.createDataFrame(
        [
            ("d1", EX + "a", EX + "p", "literal", "1", None, None),
            ("d1", EX + "b", EX + "r", "literal", "2", None, None),
            ("d2", EX + "a", EX + "p", "literal", "1", None, None),
            ("d2", EX + "a", EX + "r", "literal", "2", None, None),
        ],
        COLS,
    )

    def violators(minus):
        q = f"SELECT $this WHERE {{ $this ex:p ?v MINUS {{ {minus} }} }}"
        return sorted((r["doc_sha256"], r["node"]) for r in sparql_violators(tri, PREFIX + q).collect())

    assert violators("?y ex:r ?z") == [("d1", EX + "a"), ("d2", EX + "a")]
    assert violators("$this ex:r ?z") == [("d1", EX + "a")]
