"""SPARQL 1.1 §12 subqueries: `{ SELECT … }` nested in a WHERE group.

Reference counterpart: ARQ behind ``DataQuery.scala:51-63`` executes the
full grammar; this subset evaluates subqueries bottom-up and joins their
projection into the outer solutions (spec: only projected variables are
visible outward)."""

from __future__ import annotations

import pytest

from rdfshape_api_spark.plans.sparql import (
    Group,
    Project,
    SparqlParseError,
    parse_sparql,
    sparql_select,
)

EX = "http://example.org/"
PREFIX = f"PREFIX ex: <{EX}>\n"
COLS = (
    "subj string, pred string, obj_kind string, obj_value string, "
    "obj_lang string, obj_datatype string"
)


def _tri(spark):
    rows = [
        (EX + "s1", EX + "name", "literal", "Alpha", None, None),
        (EX + "s2", EX + "name", "literal", "Beta", None, None),
        (EX + "r1", EX + "station", "iri", EX + "s1", None, None),
        (EX + "r1", EX + "temp", "literal", "10", None, None),
        (EX + "r2", EX + "station", "iri", EX + "s1", None, None),
        (EX + "r2", EX + "temp", "literal", "30", None, None),
        (EX + "r3", EX + "station", "iri", EX + "s2", None, None),
        (EX + "r3", EX + "temp", "literal", "20", None, None),
    ]
    return spark.createDataFrame(rows, COLS)


def test_parse_subquery():
    q = parse_sparql(
        PREFIX
        + """SELECT ?st ?maxt WHERE {
              { SELECT ?st (MAX(?t) AS ?maxt) WHERE {
                  ?r ex:station ?st . ?r ex:temp ?t .
                } GROUP BY ?st }
            }"""
    )
    assert q.algebra.vars == ["st", "maxt"]
    sq = q.where  # the WHERE clause is the subquery's own algebra
    assert isinstance(sq, Project) and isinstance(sq.child, Group)
    assert sq.child.keys == ["st"]
    assert sq.child.aggs[0].func == "MAX"


def test_subquery_select_star_projection():
    # outer SELECT * sees only the subquery's PROJECTED variables —
    # ?r and ?t stay scoped to the subquery
    q = parse_sparql(
        PREFIX
        + """SELECT * WHERE {
              { SELECT ?st WHERE { ?r ex:station ?st . ?r ex:temp ?t . } }
            }"""
    )
    assert q.algebra.vars == ["st"]


def test_subquery_aggregate_joined_to_outer(spark):
    # per-station max temperature, joined back to the station name
    out = sparql_select(
        _tri(spark),
        PREFIX
        + """SELECT ?n ?maxt WHERE {
              ?st ex:name ?n .
              { SELECT ?st (MAX(?t) AS ?maxt) WHERE {
                  ?r ex:station ?st . ?r ex:temp ?t .
                } GROUP BY ?st }
            }""",
    )
    got = {r["n"]: r["maxt"] for r in out.collect()}
    assert got == {"Alpha": 30.0, "Beta": 20.0}


def test_subquery_only_where(spark):
    # a WHERE clause that IS a single subquery
    out = sparql_select(
        _tri(spark),
        PREFIX
        + """SELECT ?st WHERE {
              { SELECT DISTINCT ?st WHERE { ?r ex:station ?st . } }
            }""",
    )
    assert {r["st"][len(EX):] for r in out.collect()} == {"s1", "s2"}


def test_subquery_limit_applies_inside(spark):
    # ORDER BY + LIMIT inside the subquery runs BEFORE the outer join:
    # only the single hottest reading's station survives
    out = sparql_select(
        _tri(spark),
        PREFIX
        + """SELECT ?n WHERE {
              ?st ex:name ?n .
              { SELECT ?st WHERE {
                  ?r ex:station ?st . ?r ex:temp ?t .
                } ORDER BY DESC(?t) LIMIT 1 }
            }""",
    )
    assert [r["n"] for r in out.collect()] == ["Alpha"]


def test_subquery_var_rename_scopes_out(spark):
    # a variable used in the subquery but NOT projected must not leak:
    # outer ?t binds independently of the subquery's ?t
    out = sparql_select(
        _tri(spark),
        PREFIX
        + """SELECT ?st ?t WHERE {
              ?r ex:station ?st . ?r ex:temp ?t .
              { SELECT ?st WHERE { ?x ex:station ?st . ?x ex:temp ?t . } }
            }""",
    )
    # subquery projects only ?st, so its ?t is invisible; every reading row
    # joins its own temperature
    got = {(r["st"][len(EX):], r["t"]) for r in out.collect()}
    assert got == {("s1", "10"), ("s1", "30"), ("s2", "20")}


def test_expr_builtins_filter_and_bind(spark):
    out = sparql_select(
        _tri(spark),
        PREFIX
        + """SELECT ?n ?u ?l WHERE {
              ?st ex:name ?n .
              BIND (UCASE(?n) AS ?u)
              BIND (STRLEN(?n) AS ?l)
              FILTER (STRSTARTS(?n, "Al") || CONTAINS(?n, "et"))
            }""",
    )
    got = {(r["n"], r["u"], r["l"]) for r in out.collect()}
    assert got == {("Alpha", "ALPHA", 5), ("Beta", "BETA", 4)}


def test_expr_regex_substr_replace(spark):
    out = sparql_select(
        _tri(spark),
        PREFIX
        + """SELECT ?n ?sub ?rep WHERE {
              ?st ex:name ?n .
              BIND (SUBSTR(?n, 1, 3) AS ?sub)
              BIND (REPLACE(?n, "a", "_") AS ?rep)
              FILTER (REGEX(?n, "^alpha", "i"))
            }""",
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["sub"] == "Alp" and rows[0]["rep"] == "Alph_"


def test_expr_if_coalesce_bound(spark):
    # OPTIONAL miss → BOUND false → IF picks the fallback
    out = sparql_select(
        _tri(spark),
        PREFIX
        + """SELECT ?r ?tag WHERE {
              ?r ex:temp ?t .
              OPTIONAL { ?r ex:nickname ?nick }
              BIND (IF(BOUND(?nick), ?nick, "anon") AS ?tag)
            }""",
    )
    assert {r["tag"] for r in out.collect()} == {"anon"}


def test_expr_strbefore_strafter_numeric(spark):
    out = sparql_select(
        _tri(spark),
        PREFIX
        + """SELECT ?r ?b ?a WHERE {
              ?r ex:temp ?t .
              FILTER (ABS(?t - 25) <= 5.0)
              BIND (STRBEFORE(STR(?r), "example.org") AS ?b)
              BIND (STRAFTER(STR(?r), "example.org/") AS ?a)
            }""",
    )
    rows = out.collect()
    assert len(rows) == 2  # temps 20 and 30
    assert all(r["b"] == "http://" and r["a"].startswith("r") for r in rows)
