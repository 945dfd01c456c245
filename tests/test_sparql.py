"""SPARQL-SELECT subset compiler tests (SURVEY §2.9 Q1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdfshape_api_spark.plans.sparql import (
    BGP,
    Project,
    SparqlParseError,
    parse_sparql,
    sparql_select,
)

EX = "http://example.org/"

PREFIX = f"PREFIX ex: <{EX}>\nPREFIX xsd: <http://www.w3.org/2001/XMLSchema#>\n"


def test_parse_basic():
    q = parse_sparql(
        PREFIX + "SELECT ?s ?t WHERE { ?s a ex:Reading . ?s ex:readingTemperature ?t . }"
    )
    assert isinstance(q.algebra, Project) and q.algebra.vars == ["s", "t"]
    assert isinstance(q.where, BGP) and q.algebra.child is q.where
    assert len(q.where.patterns) == 2
    assert q.where.patterns[0].pred == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    assert q.where.patterns[0].obj == EX + "Reading"


def test_parse_property_list_and_star():
    q = parse_sparql(PREFIX + 'SELECT * WHERE { ?s ex:status "OK" ; ex:station ?st . }')
    assert len(q.where.patterns) == 2
    assert q.where.patterns[0].obj_is_literal
    assert q.algebra.vars == ["s", "st"]


def test_parse_rejects_garbage():
    with pytest.raises(SparqlParseError):
        parse_sparql("SELECT ?s WHERE { ?s ex:broken ?o }")  # unknown prefix


#: the SPARQL reads of perfbench's `serve` workload (perfbench/workloads.py)
SERVE_QUERIES = {
    "bgp": "SELECT ?s ?t WHERE { ?s a ex:Reading . ?s ex:readingTemperature ?t . FILTER(?t > 19.5) }",
    "group": "SELECT ?st (COUNT(?s) AS ?n) WHERE { ?s ex:status ?st } GROUP BY ?st",
    "path": "SELECT ?b WHERE { ex:shared0 ex:station/^ex:station ?b }",
}


@pytest.mark.parametrize("shape, jobs", [("bgp", 4), ("group", 3), ("path", 5)])
def test_serve_query_job_count(spark, triples_001, shape, jobs):
    """The `serve` query shapes keep their Spark job counts over the cached
    sf0.001 triples: a BGP with a FILTER, a GROUP BY and a path."""
    out = sparql_select(triples_001, PREFIX + SERVE_QUERIES[shape])
    sc = spark.sparkContext
    group = f"test_serve_query_jobs_{shape}"
    sc.setJobGroup(group, group)
    try:
        rows = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs


def test_bgp_join(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX
        + """SELECT ?s ?st WHERE {
              ?s a ex:Reading .
              ?s ex:status ?st .
            }""",
    )
    assert set(out.columns) == {"s", "st"}
    rows = out.collect()
    assert rows
    # every binding must be backed by actual status triples
    statuses = {
        (r["subj"], r["obj_value"])
        for r in triples_001.filter(F.col("pred") == EX + "status").collect()
    }
    assert all((r["s"], r["st"]) in statuses for r in rows)


def test_filter_numeric(spark, triples_001):
    q = (
        PREFIX
        + """SELECT DISTINCT ?s ?t WHERE {
              ?s ex:readingTemperature ?t .
              FILTER (?t >= 19.5)
            }"""
    )
    out = sparql_select(triples_001, q)
    vals = [float(r["t"]) for r in out.collect()]
    assert vals and all(v >= 19.5 for v in vals)
    # and it's the exact complement-consistent set
    n_all = (
        triples_001.filter(F.col("pred") == EX + "readingTemperature")
        .select("subj", "obj_value").distinct().count()
    )
    n_lo = sparql_select(
        triples_001,
        PREFIX
        + "SELECT DISTINCT ?s ?t WHERE { ?s ex:readingTemperature ?t . FILTER (?t < 19.5) }",
    ).count()
    assert n_lo + out.count() == n_all


def test_literal_object_match(spark, triples_001):
    out = sparql_select(
        triples_001, PREFIX + 'SELECT ?s WHERE { ?s ex:status "BROKEN" . }'
    )
    # merged-model semantics: the graph is a SET of triples, so identical
    # (subj, pred, obj) rows from different docs collapse into one solution
    expected = (
        triples_001.filter((F.col("pred") == EX + "status") & (F.col("obj_value") == "BROKEN"))
        .select("subj")
        .distinct()
        .count()
    )
    assert out.count() == expected > 0


def test_optional(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX
        + """SELECT ?s ?lbl WHERE {
              ?s a ex:Reading .
              OPTIONAL { ?s ex:label ?lbl }
            }""",
    )
    rows = out.collect()
    labelled = [r for r in rows if r["lbl"] is not None]
    unlabelled = [r for r in rows if r["lbl"] is None]
    assert labelled and unlabelled  # fixture has ~50% labels


def test_order_limit(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX
        + """SELECT DISTINCT ?t WHERE { ?s ex:readingTemperature ?t . }
            ORDER BY DESC(?t) LIMIT 5""",
    )
    vals = [float(r["t"]) for r in out.collect()]
    assert len(vals) == 5
    assert vals == sorted(vals, reverse=True)


def test_union(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX
        + """SELECT DISTINCT ?s WHERE {
              { ?s ex:status "BROKEN" . } UNION { ?s ex:status "RUNNING" . }
            }""",
    )
    expected = (
        triples_001.filter(
            (F.col("pred") == EX + "status") & F.col("obj_value").isin("BROKEN", "RUNNING")
        )
        .select("subj").distinct().count()
    )
    assert out.count() == expected > 0


def test_union_disjoint_vars_null_padding(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX
        + """SELECT ?lbl ?st WHERE {
              { ?s ex:label ?lbl . } UNION { ?s ex:status ?st . }
            }""",
    )
    rows = out.collect()
    assert any(r["lbl"] is None for r in rows) and any(r["st"] is None for r in rows)
    assert all((r["lbl"] is None) != (r["st"] is None) for r in rows)


def test_union_joined_with_sibling_pattern(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX
        + """SELECT DISTINCT ?s ?t WHERE {
              ?s ex:readingTemperature ?t .
              { ?s ex:status "OK" . } UNION { ?s ex:status "RUNNING" . }
            }""",
    )
    ok = (
        triples_001.filter((F.col("pred") == EX + "status") & F.col("obj_value").isin("OK", "RUNNING"))
        .select("subj").distinct()
    )
    temps = (
        triples_001.filter(F.col("pred") == EX + "readingTemperature")
        .select("subj", "obj_value").distinct()
    )
    expected = temps.join(ok, "subj").count()
    assert out.count() == expected > 0


def test_offset(spark, triples_001):
    base = PREFIX + "SELECT DISTINCT ?t WHERE { ?s ex:readingTemperature ?t . } ORDER BY ?t"
    all_vals = [r["t"] for r in sparql_select(triples_001, base).collect()]
    tail = [r["t"] for r in sparql_select(triples_001, base + " LIMIT 5 OFFSET 3").collect()]
    assert tail == all_vals[3:8]


def test_count_group_by(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX
        + """SELECT ?st (COUNT(?s) AS ?n) WHERE { ?s ex:status ?st . }
            GROUP BY ?st ORDER BY ?st""",
    )
    rows = {r["st"]: r["n"] for r in out.collect()}
    merged = (
        triples_001.filter(F.col("pred") == EX + "status")
        .select("subj", "obj_value").distinct()
    )
    for st in ("OK", "RUNNING", "BROKEN"):
        assert rows[st] == merged.filter(F.col("obj_value") == st).count()


def test_count_distinct_global(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX + "SELECT (COUNT(DISTINCT ?s) AS ?n) WHERE { ?s a ex:Reading . }",
    )
    expected = (
        triples_001.filter(
            (F.col("pred") == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
            & (F.col("obj_value") == EX + "Reading")
        ).select("subj").distinct().count()
    )
    assert out.collect()[0]["n"] == expected


def test_min_max_avg(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX
        + """SELECT (MIN(?t) AS ?lo) (MAX(?t) AS ?hi) (AVG(?t) AS ?mean)
            WHERE { ?s ex:readingTemperature ?t . }""",
    ).collect()[0]
    vals = [
        float(r["obj_value"])
        for r in triples_001.filter(F.col("pred") == EX + "readingTemperature")
        .select("subj", "pred", "obj_value").distinct().collect()
    ]
    assert out["lo"] == min(vals) and out["hi"] == max(vals)
    assert abs(out["mean"] - sum(vals) / len(vals)) < 1e-9


def test_sum_avg_distinct(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX
        + """SELECT (SUM(DISTINCT ?t) AS ?s) (AVG(DISTINCT ?t) AS ?a)
                   (MIN(DISTINCT ?t) AS ?lo)
            WHERE { ?r ex:readingTemperature ?t . }""",
    ).collect()[0]
    vals = {
        float(r["obj_value"])
        for r in triples_001.filter(F.col("pred") == EX + "readingTemperature")
        .select("obj_value").collect()
    }
    assert abs(out["s"] - sum(vals)) < 1e-6
    assert abs(out["a"] - sum(vals) / len(vals)) < 1e-9
    assert out["lo"] == min(vals)


def test_filter_logical_ops(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX
        + """SELECT DISTINCT ?s ?st WHERE {
              ?s ex:status ?st .
              FILTER (?st = "OK" || ?st = "RUNNING")
            }""",
    )
    sts = {r["st"] for r in out.collect()}
    assert sts == {"OK", "RUNNING"}


def test_bind_arithmetic(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX
        + """SELECT ?s ?t2 WHERE {
              ?s ex:readingTemperature ?t .
              BIND (?t * 2 AS ?t2)
              FILTER (?t2 >= 39.0)
            }""",
    )
    rows = out.collect()
    assert rows and all(float(r["t2"]) >= 39.0 for r in rows)
    # doubled value matches source
    src = sparql_select(
        triples_001,
        PREFIX + "SELECT ?s ?t WHERE { ?s ex:readingTemperature ?t . FILTER (?t >= 19.5) }",
    )
    assert out.count() == src.count()


def test_bind_concat(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX
        + """SELECT ?tag WHERE {
              ?s ex:status ?st .
              BIND (CONCAT("st=", ?st) AS ?tag)
            } LIMIT 5""",
    )
    assert all(r["tag"].startswith("st=") for r in out.collect())


def test_having(spark, triples_001):
    with_having = sparql_select(
        triples_001,
        PREFIX
        + """SELECT ?st (COUNT(?s) AS ?n) WHERE { ?s ex:status ?st . }
            GROUP BY ?st HAVING (?n > 5)""",
    ).collect()
    no_having = sparql_select(
        triples_001,
        PREFIX + "SELECT ?st (COUNT(?s) AS ?n) WHERE { ?s ex:status ?st . } GROUP BY ?st",
    ).collect()
    expect = {r["st"]: r["n"] for r in no_having if r["n"] > 5}
    assert {r["st"]: r["n"] for r in with_having} == expect
    assert len(with_having) < len(no_having) or all(r["n"] > 5 for r in no_having)


def test_values_inline(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX
        + """SELECT ?s ?st WHERE {
              ?s ex:status ?st .
              VALUES ?st { "OK" "BROKEN" }
            }""",
    )
    sts = {r["st"] for r in out.collect()}
    assert sts <= {"OK", "BROKEN"} and sts


def test_values_multi_var_with_undef(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX
        + """SELECT ?s ?st ?tag WHERE {
              ?s ex:status ?st .
              VALUES (?st ?tag) { ("OK" "fine") (UNDEF "any") }
            }""",
    )
    rows = out.collect()
    tags = {(r["st"], r["tag"]) for r in rows}
    # "fine" rows only for OK; "any" rows for every status (UNDEF wildcard)
    assert all(st == "OK" for st, tag in tags if tag == "fine")
    assert {st for st, tag in tags if tag == "any"} == {r["st"] for r in rows}


def test_optional_scoped_filter_keeps_unmatched(spark):
    # FILTER inside OPTIONAL applies to the branch BEFORE the left join:
    # subjects whose optional rows all fail the filter keep null bindings
    cols = "subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    tri = spark.createDataFrame(
        [
            (EX + "a", EX + "name", "literal", "A", None, None),
            (EX + "a", EX + "score", "literal", "9", None, None),
            (EX + "b", EX + "name", "literal", "B", None, None),
            (EX + "b", EX + "score", "literal", "2", None, None),
            (EX + "c", EX + "name", "literal", "C", None, None),
        ],
        cols,
    )
    out = sparql_select(
        tri,
        PREFIX
        + """SELECT ?s ?sc WHERE {
              ?s ex:name ?n .
              OPTIONAL { ?s ex:score ?sc . FILTER (?sc > 5) }
            }""",
    )
    got = {r["s"][len(EX):]: r["sc"] for r in out.collect()}
    assert got == {"a": "9", "b": None, "c": None}


def test_path_sequence_and_inverse(spark):
    cols = "subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    tri = spark.createDataFrame(
        [
            (EX + "r1", EX + "station", "iri", EX + "s1", None, None),
            (EX + "r2", EX + "station", "iri", EX + "s1", None, None),
            (EX + "r1", EX + "status", "literal", "OK", None, None),
        ],
        cols,
    )
    # readings co-located at the same station: ^station/station
    out = sparql_select(
        tri, PREFIX + "SELECT DISTINCT ?a ?b WHERE { ?a ^ex:station/ex:station ?b . }"
    )
    pairs = {(r["a"][len(EX):], r["b"][len(EX):]) for r in out.collect()}
    assert pairs == {("s1", "s1")}
    out2 = sparql_select(
        tri, PREFIX + "SELECT DISTINCT ?a ?b WHERE { ?a ex:station/^ex:station ?b . }"
    )
    pairs2 = {(r["a"][len(EX):], r["b"][len(EX):]) for r in out2.collect()}
    assert pairs2 == {("r1", "r1"), ("r1", "r2"), ("r2", "r1"), ("r2", "r2")}


def test_path_alternative(spark):
    cols = "subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    tri = spark.createDataFrame(
        [
            (EX + "x", EX + "p", "literal", "1", None, None),
            (EX + "x", EX + "q", "literal", "2", None, None),
            (EX + "x", EX + "r", "literal", "3", None, None),
        ],
        cols,
    )
    out = sparql_select(tri, PREFIX + "SELECT ?o WHERE { ex:x (ex:p|ex:q) ?o . }")
    assert {r["o"] for r in out.collect()} == {"1", "2"}


def test_path_plus_transitive_with_cycle(spark):
    cols = "subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")]  # 3-cycle + tail
    tri = spark.createDataFrame(
        [(EX + s, EX + "knows", "iri", EX + o, None, None) for s, o in edges], cols
    )
    out = sparql_select(
        tri, PREFIX + "SELECT DISTINCT ?a ?b WHERE { ?a ex:knows+ ?b . }"
    )
    pairs = {(r["a"][len(EX):], r["b"][len(EX):]) for r in out.collect()}
    cyc = {"a", "b", "c"}
    expect = {(x, y) for x in cyc for y in cyc} | {("d", y) for y in cyc}
    assert pairs == expect


def test_path_plus_deep_chain(spark):
    """A 26-edge chain: ex:knows+ runs to convergence (26 rounds)."""
    cols = "subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    tri = spark.createDataFrame(
        [(EX + f"v{i:02d}", EX + "knows", "iri", EX + f"v{i + 1:02d}", None, None) for i in range(26)],
        cols,
    )
    out = sparql_select(tri, PREFIX + "SELECT DISTINCT ?a ?b WHERE { ?a ex:knows+ ?b . }")
    pairs = {(r["a"][len(EX):], r["b"][len(EX):]) for r in out.collect()}
    assert pairs == {(f"v{i:02d}", f"v{j:02d}") for i in range(27) for j in range(i + 1, 27)}


def test_path_star_zero_length(spark):
    cols = "subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    edges = [("a", "b"), ("b", "c")]
    tri = spark.createDataFrame(
        [(EX + s, EX + "knows", "iri", EX + o, None, None) for s, o in edges], cols
    )
    out = sparql_select(
        tri, PREFIX + "SELECT DISTINCT ?a ?b WHERE { ?a ex:knows* ?b . }"
    )
    pairs = {(r["a"][len(EX):], r["b"][len(EX):]) for r in out.collect()}
    # zero-length: every graph term reflexively; plus the + closure
    assert pairs == {
        ("a", "a"), ("b", "b"), ("c", "c"),
        ("a", "b"), ("b", "c"), ("a", "c"),
    }


def test_path_opt_zero_or_one(spark):
    cols = "subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    edges = [("a", "b"), ("b", "c")]
    tri = spark.createDataFrame(
        [(EX + s, EX + "knows", "iri", EX + o, None, None) for s, o in edges], cols
    )
    out = sparql_select(
        tri, PREFIX + "SELECT DISTINCT ?a ?b WHERE { ?a ex:knows? ?b . }"
    )
    pairs = {(r["a"][len(EX):], r["b"][len(EX):]) for r in out.collect()}
    # single hops + reflexive terms, but NOT the 2-hop (a, c)
    assert pairs == {
        ("a", "a"), ("b", "b"), ("c", "c"),
        ("a", "b"), ("b", "c"),
    }


def test_path_star_with_literal_terms(spark):
    # literals are graph terms: zero-length connects them to themselves
    cols = "subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    tri = spark.createDataFrame(
        [
            (EX + "a", EX + "knows", "iri", EX + "b", None, None),
            (EX + "a", EX + "name", "literal", "Alice", None, None),
        ],
        cols,
    )
    out = sparql_select(tri, PREFIX + "SELECT DISTINCT ?x WHERE { ?x ex:knows* ?x . }")
    vals = {r["x"] for r in out.collect()}
    assert vals == {EX + "a", EX + "b", "Alice"}


def _zero_length_graph(spark):
    return _mk_tri(spark, [
        (EX + "a", EX + "p", "iri", EX + "b", None, None),
        (EX + "b", EX + "p", "iri", EX + "c", None, None),
        (EX + "a", EX + "q", "iri", EX + "b", None, None),
    ])


@pytest.mark.parametrize("mod", ["*", "?"])
def test_path_zero_length_constant_subject_not_in_graph(spark, mod):
    """§18.5: a zero-length path from a constant reaches the constant,
    whether or not the graph holds it."""
    tri = _zero_length_graph(spark)
    out = sparql_select(tri, PREFIX + f"SELECT ?y WHERE {{ ex:missing ex:p{mod} ?y . }}")
    assert [r["y"] for r in out.collect()] == [EX + "missing"]


def test_path_zero_length_constant_object_not_in_graph(spark):
    tri = _zero_length_graph(spark)
    out = sparql_select(tri, PREFIX + "SELECT ?x WHERE { ?x ex:p* ex:missing . }")
    assert [r["x"] for r in out.collect()] == [EX + "missing"]


def test_path_zero_length_both_constants_not_in_graph(spark):
    tri = _zero_length_graph(spark)
    out = sparql_select(tri, PREFIX + "SELECT * WHERE { ex:missing ex:p* ex:missing . }")
    assert out.count() == 1  # one empty solution


XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


def _meta_graph(spark):
    return _mk_tri(spark, [
        (EX + "x", EX + "p", "iri", EX + "m", None, None),
        (EX + "m", EX + "q", "literal", "cat", "en", None),
        (EX + "m", EX + "q", "literal", "chat", "fr", None),
        (EX + "m", EX + "q", "literal", "1", None, XSD_INT),
    ])


@pytest.mark.parametrize("path", ["ex:p/ex:q", "(ex:p/ex:q|ex:r)", "(ex:p|ex:q)+"])
def test_path_values_keep_term_metadata(spark, path):
    """LANG/DATATYPE see the final hop's literal metadata of a path
    binding, as they do for a plain pattern."""
    tri = _meta_graph(spark)
    lang = sparql_select(
        tri, PREFIX + f'SELECT ?o WHERE {{ ex:x {path} ?o FILTER(LANG(?o) = "en") }}'
    )
    assert [r["o"] for r in lang.collect()] == ["cat"]
    dt = sparql_select(
        tri, PREFIX + f"SELECT ?o WHERE {{ ex:x {path} ?o FILTER(DATATYPE(?o) = <{XSD_INT}>) }}"
    )
    assert [r["o"] for r in dt.collect()] == ["1"]


def test_path_constant_literal_object_matches_term(spark):
    """A constant literal at a path's end matches value AND language tag."""
    from rdfshape_api_spark.plans.sparql import sparql_ask

    tri = _meta_graph(spark)
    assert sparql_ask(tri, PREFIX + 'ASK { ex:x ex:p/ex:q "cat"@en . }') is True
    assert sparql_ask(tri, PREFIX + 'ASK { ex:x ex:p/ex:q "cat"@fr . }') is False
    out = sparql_select(tri, PREFIX + 'SELECT ?s WHERE { ?s ex:p/ex:q "cat"@fr . }')
    assert out.count() == 0


def test_values_joins_unbound_solution_var(spark):
    """A null binding on the solution side (padded UNION branch) is
    compatible with any VALUES row; the merged binding is the bound one."""
    cols = "subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    tri = spark.createDataFrame(
        [
            (EX + "a", EX + "status", "literal", "OK", None, None),
            (EX + "b", EX + "name", "literal", "B", None, None),
        ],
        cols,
    )
    out = sparql_select(
        tri,
        PREFIX
        + """SELECT ?s ?st WHERE {
              { ?s ex:status ?st . } UNION { ?s ex:name ?n . }
              VALUES ?st { "OK" }
            }""",
    ).collect()
    got = {(r["s"][len(EX):], r["st"]) for r in out}
    # branch 1: a bound OK passes the filter; branch 2: ?st unbound for b,
    # compatible with VALUES → coalesced to "OK"
    assert got == {("a", "OK"), ("b", "OK")}


def _mk_tri(spark, rows):
    cols = "subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    return spark.createDataFrame(rows, cols)


def test_filter_exists(spark):
    tri = _mk_tri(spark, [
        (EX + "a", EX + "name", "literal", "A", None, None),
        (EX + "a", EX + "email", "literal", "a@x", None, None),
        (EX + "b", EX + "name", "literal", "B", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX + """SELECT ?s WHERE {
            ?s ex:name ?n .
            FILTER EXISTS { ?s ex:email ?e . }
        }""",
    )
    assert {r["s"] for r in out.collect()} == {EX + "a"}


def test_filter_not_exists(spark):
    tri = _mk_tri(spark, [
        (EX + "a", EX + "name", "literal", "A", None, None),
        (EX + "a", EX + "email", "literal", "a@x", None, None),
        (EX + "b", EX + "name", "literal", "B", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX + """SELECT ?s WHERE {
            ?s ex:name ?n .
            FILTER NOT EXISTS { ?s ex:email ?e . }
        }""",
    )
    assert {r["s"] for r in out.collect()} == {EX + "b"}


def test_filter_exists_with_inner_filter(spark):
    tri = _mk_tri(spark, [
        (EX + "a", EX + "name", "literal", "A", None, None),
        (EX + "a", EX + "score", "literal", "9", None, None),
        (EX + "b", EX + "name", "literal", "B", None, None),
        (EX + "b", EX + "score", "literal", "2", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX + """SELECT ?s WHERE {
            ?s ex:name ?n .
            FILTER EXISTS { ?s ex:score ?v . FILTER (?v > 5) }
        }""",
    )
    assert {r["s"] for r in out.collect()} == {EX + "a"}


def test_uncorrelated_not_exists_gates_globally(spark):
    tri = _mk_tri(spark, [
        (EX + "a", EX + "name", "literal", "A", None, None),
        (EX + "x", EX + "poison", "literal", "1", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX + """SELECT ?s WHERE {
            ?s ex:name ?n .
            FILTER NOT EXISTS { ?z ex:poison ?p . }
        }""",
    )
    assert out.count() == 0


def test_construct_basic(spark):
    from rdfshape_api_spark.plans.sparql import sparql_construct

    tri = _mk_tri(spark, [
        (EX + "a", EX + "status", "literal", "OK", None, None),
        (EX + "b", EX + "status", "literal", "BROKEN", None, None),
    ])
    out = sparql_construct(
        tri,
        PREFIX + """CONSTRUCT { ?s ex:hasState ?st . }
                    WHERE { ?s ex:status ?st . }""",
    )
    got = {(r["subj"], r["pred"], r["obj_kind"], r["obj_value"]) for r in out.collect()}
    assert got == {
        (EX + "a", EX + "hasState", "literal", "OK"),
        (EX + "b", EX + "hasState", "literal", "BROKEN"),
    }


def test_construct_multi_template_and_constants(spark):
    from rdfshape_api_spark.plans.sparql import sparql_construct

    tri = _mk_tri(spark, [
        (EX + "a", EX + "knows", "iri", EX + "b", None, None),
    ])
    out = sparql_construct(
        tri,
        PREFIX + """CONSTRUCT { ?x a ex:Node . ?y a ex:Node . ?x ex:linked ?y . }
                    WHERE { ?x ex:knows ?y . }""",
    )
    got = {(r["subj"], r["pred"], r["obj_kind"], r["obj_value"]) for r in out.collect()}
    RT = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    assert got == {
        (EX + "a", RT, "iri", EX + "Node"),
        (EX + "b", RT, "iri", EX + "Node"),
        (EX + "a", EX + "linked", "iri", EX + "b"),
    }


def test_construct_is_a_set(spark):
    from rdfshape_api_spark.plans.sparql import sparql_construct

    tri = _mk_tri(spark, [
        (EX + "a", EX + "p", "literal", "1", None, None),
        (EX + "a", EX + "q", "literal", "2", None, None),
    ])
    # both solutions instantiate the same constant triple → one row
    out = sparql_construct(
        tri,
        PREFIX + f"""CONSTRUCT {{ <{EX}x> ex:seen "yes" . }}
                    WHERE {{ <{EX}a> ?p ?v . }}""",
    )
    assert out.count() == 1


def test_ask(spark):
    from rdfshape_api_spark.plans.sparql import sparql_ask

    tri = _mk_tri(spark, [
        (EX + "a", EX + "status", "literal", "OK", None, None),
    ])
    assert sparql_ask(tri, PREFIX + 'ASK { ?s ex:status "OK" . }') is True
    assert sparql_ask(tri, PREFIX + 'ASK WHERE { ?s ex:status "NOPE" . }') is False


def test_minus_basic(spark):
    tri = _mk_tri(spark, [
        (EX + "a", EX + "name", "literal", "A", None, None),
        (EX + "b", EX + "name", "literal", "B", None, None),
        (EX + "a", EX + "banned", "literal", "true", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX + """SELECT ?s WHERE {
            ?s ex:name ?n .
            MINUS { ?s ex:banned ?x . }
        }""",
    )
    assert [r["s"] for r in out.collect()] == [EX + "b"]


def test_minus_disjoint_domain_removes_nothing(spark):
    # SPARQL 1.1 §8.3: MINUS with no shared variables keeps every solution
    tri = _mk_tri(spark, [
        (EX + "a", EX + "name", "literal", "A", None, None),
        (EX + "x", EX + "other", "literal", "O", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX + """SELECT ?s WHERE {
            ?s ex:name ?n .
            MINUS { ?y ex:other ?z . }
        }""",
    )
    assert out.count() == 1


def test_minus_null_shared_binding(spark):
    # an OPTIONAL-produced null on the shared var: μ is compatible with μ'
    # when the only conflicting var is unbound on one side, and the domains
    # still overlap on ?s — so the row IS removed
    tri = _mk_tri(spark, [
        (EX + "a", EX + "name", "literal", "A", None, None),
        (EX + "a", EX + "flag", "literal", "F", None, None),
        (EX + "b", EX + "name", "literal", "B", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX + """SELECT ?s WHERE {
            ?s ex:name ?n .
            OPTIONAL { ?s ex:missing ?m . }
            MINUS { ?s ex:flag ?f . }
        }""",
    )
    assert [r["s"] for r in out.collect()] == [EX + "b"]


def test_group_concat(spark):
    tri = _mk_tri(spark, [
        (EX + "a", EX + "tag", "literal", "x", None, None),
        (EX + "a", EX + "tag", "literal", "y", None, None),
        (EX + "b", EX + "tag", "literal", "z", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX + """SELECT ?s (GROUP_CONCAT(?t ; SEPARATOR="|") AS ?tags)
                    WHERE { ?s ex:tag ?t . } GROUP BY ?s ORDER BY ?s""",
    )
    assert [(r["s"], r["tags"]) for r in out.collect()] == [
        (EX + "a", "x|y"),
        (EX + "b", "z"),
    ]


def test_group_concat_distinct_default_sep(spark):
    tri = _mk_tri(spark, [
        (EX + "a", EX + "tag", "literal", "x", None, None),
        (EX + "a", EX + "tag2", "literal", "x", None, None),
        (EX + "a", EX + "tag3", "literal", "y", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX + """SELECT (GROUP_CONCAT(DISTINCT ?t) AS ?tags)
                    WHERE { ?s ?p ?t . }""",
    )
    assert out.collect()[0]["tags"] == "x y"


def test_sample(spark):
    tri = _mk_tri(spark, [
        (EX + "a", EX + "v", "literal", "2", None, None),
        (EX + "a", EX + "v", "literal", "1", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX + "SELECT (SAMPLE(?v) AS ?one) WHERE { ?s ex:v ?v . }",
    )
    assert out.collect()[0]["one"] in ("1", "2")


def test_describe_constant(spark):
    from rdfshape_api_spark.plans.sparql import sparql_describe

    tri = _mk_tri(spark, [
        (EX + "a", EX + "name", "literal", "A", None, None),
        (EX + "a", EX + "age", "literal", "9", None, None),
        (EX + "b", EX + "name", "literal", "B", None, None),
    ])
    out = sparql_describe(tri, PREFIX + f"DESCRIBE <{EX}a>")
    got = {(r["subj"], r["pred"]) for r in out.collect()}
    assert got == {(EX + "a", EX + "name"), (EX + "a", EX + "age")}


def test_describe_var_with_where(spark):
    from rdfshape_api_spark.plans.sparql import sparql_describe

    tri = _mk_tri(spark, [
        (EX + "a", EX + "status", "literal", "OK", None, None),
        (EX + "a", EX + "name", "literal", "A", None, None),
        (EX + "b", EX + "status", "literal", "BAD", None, None),
        (EX + "b", EX + "name", "literal", "B", None, None),
    ])
    out = sparql_describe(
        tri,
        PREFIX + 'DESCRIBE ?s WHERE { ?s ex:status "OK" . }',
    )
    got = {(r["subj"], r["pred"], r["obj_value"]) for r in out.collect()}
    assert got == {
        (EX + "a", EX + "status", "OK"),
        (EX + "a", EX + "name", "A"),
    }


def test_filter_in_not_in(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX
        + """SELECT DISTINCT ?s ?st WHERE {
              ?s ex:status ?st . FILTER (?st IN ("OK", "RUNNING"))
            }""",
    )
    assert {r["st"] for r in out.collect()} == {"OK", "RUNNING"}
    out2 = sparql_select(
        triples_001,
        PREFIX
        + """SELECT DISTINCT ?st WHERE {
              ?s ex:status ?st . FILTER (?st NOT IN ("OK"))
            }""",
    )
    sts = {r["st"] for r in out2.collect()}
    assert "OK" not in sts and sts


def test_order_by_expression(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX
        + """SELECT DISTINCT ?st WHERE { ?s ex:status ?st . }
            ORDER BY DESC(STRLEN(?st)) LIMIT 3""",
    )
    assert [r["st"] for r in out.collect()] == ["RUNNING", "BROKEN", "OK"]
    out2 = sparql_select(
        triples_001,
        PREFIX
        + """SELECT DISTINCT ?t WHERE { ?s ex:readingTemperature ?t . }
            ORDER BY (0 - ?t) LIMIT 2""",
    )
    vals = [float(r["t"]) for r in out2.collect()]
    assert vals == sorted(vals, reverse=True)


def test_nondeterministic_and_tz_builtins(spark, triples_001):
    out = sparql_select(
        triples_001,
        PREFIX
        + """SELECT ?s ?u ?r ?now ?tz1 ?tz2 WHERE {
              ?s a ex:Reading .
              BIND (STRUUID() AS ?u)
              BIND (RAND() AS ?r)
              BIND (NOW() AS ?now)
              BIND (TZ("2011-01-10T14:45:13.815-05:00") AS ?tz1)
              BIND (TZ("2011-01-10T14:45:13Z") AS ?tz2)
            } LIMIT 4""",
    ).collect()
    assert len(out) == 4
    import re

    for r in out:
        assert re.match(r"^[0-9a-f-]{36}$", r["u"])
        assert 0.0 <= float(r["r"]) < 1.0
        assert re.match(r"^\d{4}-\d{2}-\d{2}T\d{2}:", r["now"])
        assert r["tz1"] == "-05:00" and r["tz2"] == "Z"


def test_exists_scoped_inside_optional(spark):
    """FILTER NOT EXISTS inside OPTIONAL restricts the optional BRANCH
    (the row survives with a null binding), not the whole solution set
    (ADVICE r3 low — was silently re-scoped to top level)."""
    tri = _mk_tri(spark, [
        (EX + "a", EX + "name", "literal", "A", None, None),
        (EX + "a", EX + "nick", "literal", "Al", None, None),
        (EX + "a", EX + "banned", "literal", "1", None, None),
        (EX + "b", EX + "name", "literal", "B", None, None),
        (EX + "b", EX + "nick", "literal", "Bee", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX + """SELECT ?s ?k WHERE {
            ?s ex:name ?n .
            OPTIONAL { ?s ex:nick ?k . FILTER NOT EXISTS { ?s ex:banned ?x . } }
        }""",
    ).collect()
    got = {(r["s"][len(EX):], r["k"]) for r in out}
    # a keeps its row (null nick — its optional branch is suppressed by the
    # scoped NOT EXISTS); b binds its nick.  Top-level re-scoping would
    # have dropped a's row entirely.
    assert got == {("a", None), ("b", "Bee")}


def test_minus_scoped_inside_union_branch(spark):
    """MINUS inside one UNION branch subtracts from that branch only."""
    tri = _mk_tri(spark, [
        (EX + "a", EX + "p", "literal", "1", None, None),
        (EX + "a", EX + "bad", "literal", "1", None, None),
        (EX + "b", EX + "p", "literal", "1", None, None),
        (EX + "a", EX + "q", "literal", "1", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX + """SELECT ?s WHERE {
            { ?s ex:p ?v . MINUS { ?s ex:bad ?x . } }
            UNION
            { ?s ex:q ?v . }
        }""",
    ).collect()
    got = sorted(r["s"][len(EX):] for r in out)
    # branch 1 yields only b (a subtracted); branch 2 yields a via ex:q —
    # a top-level MINUS would have removed a's ex:q solution too
    assert got == ["a", "b"]


def test_construct_limit_applies(spark):
    """CONSTRUCT … LIMIT n limits the solution sequence before template
    instantiation (ADVICE r3 medium — trailing modifiers were ignored)."""
    from rdfshape_api_spark.plans.sparql import sparql_construct

    tri = _mk_tri(spark, [
        (EX + "a", EX + "p", "literal", "1", None, None),
        (EX + "b", EX + "p", "literal", "2", None, None),
        (EX + "c", EX + "p", "literal", "3", None, None),
    ])
    q = PREFIX + """CONSTRUCT { ?s ex:copied ?v . } WHERE { ?s ex:p ?v . }
        ORDER BY ?v LIMIT 2"""
    out = sparql_construct(tri, q).collect()
    assert {(r["subj"], r["obj_value"]) for r in out} == {
        (EX + "a", "1"),
        (EX + "b", "2"),
    }


def test_construct_group_by_rejected(spark):
    from rdfshape_api_spark.plans.sparql import SparqlParseError, parse_sparql

    with pytest.raises(SparqlParseError, match="GROUP BY"):
        parse_sparql(
            PREFIX + "CONSTRUCT { ?s ex:p ?v . } WHERE { ?s ex:p ?v . } GROUP BY ?s"
        )


def test_ask_limit_zero_is_false(spark):
    from rdfshape_api_spark.plans.sparql import sparql_ask

    tri = _mk_tri(spark, [(EX + "a", EX + "p", "literal", "1", None, None)])
    assert sparql_ask(tri, PREFIX + "ASK { ?s ex:p ?v . }") is True
    assert sparql_ask(tri, PREFIX + "ASK { ?s ex:p ?v . } LIMIT 0") is False


def _mk_docs_tri(spark, rows):
    cols = (
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string"
    )
    return spark.createDataFrame(rows, cols)


def test_graph_var_binds_document(spark):
    """GRAPH ?g { … } scopes the inner BGP to one document and binds ?g to
    the urn:doc:<sha> graph name (engine extension — the reference queries
    the merged model only)."""
    tri = _mk_docs_tri(spark, [
        ("d1", EX + "a", EX + "p", "literal", "1", None, None),
        ("d1", EX + "a", EX + "q", "literal", "2", None, None),
        # the p/q combination spans documents: merged-model match only
        ("d2", EX + "b", EX + "p", "literal", "1", None, None),
        ("d3", EX + "b", EX + "q", "literal", "2", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX + """SELECT ?g ?s WHERE { GRAPH ?g { ?s ex:p ?v . ?s ex:q ?w . } }""",
    ).collect()
    # only d1 contains both triples for one subject IN THE SAME DOCUMENT
    assert {(r["g"], r["s"]) for r in out} == {("urn:doc:d1", EX + "a")}
    # the merged model (no GRAPH) also matches ?s = b across d2/d3
    merged = sparql_select(
        tri, PREFIX + "SELECT ?s WHERE { ?s ex:p ?v . ?s ex:q ?w . }"
    ).collect()
    assert {r["s"] for r in merged} == {EX + "a", EX + "b"}


def test_graph_constant_iri(spark):
    tri = _mk_docs_tri(spark, [
        ("d1", EX + "a", EX + "p", "literal", "1", None, None),
        ("d2", EX + "b", EX + "p", "literal", "1", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX + """SELECT ?s WHERE { GRAPH <urn:doc:d2> { ?s ex:p ?v . } }""",
    ).collect()
    assert {r["s"] for r in out} == {EX + "b"}


def test_graph_joins_default_graph_patterns(spark):
    tri = _mk_docs_tri(spark, [
        ("d1", EX + "a", EX + "p", "literal", "1", None, None),
        ("d2", EX + "a", EX + "tag", "literal", "t", None, None),
        ("d2", EX + "c", EX + "p", "literal", "1", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX + """SELECT ?s ?t WHERE {
            ?s ex:tag ?t .
            GRAPH ?g { ?s ex:p ?v . }
        }""",
    ).collect()
    # ?s must have ex:tag anywhere (merged) and ex:p in some single graph
    assert {(r["s"], r["t"]) for r in out} == {(EX + "a", "t")}


def test_graph_inside_optional(spark):
    """GRAPH inside OPTIONAL: the graph-scoped pattern extends matching
    rows, unmatched rows keep a null ?g binding (r4 lift of the previous
    clean reject — _group_df recurses with the per-document source)."""
    tri = _mk_docs_tri(spark, [
        ("d1", EX + "a", EX + "p", "literal", "1", None, None),
        ("d1", EX + "a", EX + "q", "literal", "2", None, None),
        ("d2", EX + "b", EX + "p", "literal", "1", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX + "SELECT ?s ?g WHERE { ?s ex:p ?v . OPTIONAL { GRAPH ?g { ?s ex:q ?w . } } }",
    ).collect()
    assert {(r["s"], r["g"]) for r in out} == {
        (EX + "a", "urn:doc:d1"),
        (EX + "b", None),
    }


def test_graph_inside_union(spark):
    tri = _mk_docs_tri(spark, [
        ("d1", EX + "a", EX + "p", "literal", "1", None, None),
        ("d2", EX + "b", EX + "q", "literal", "2", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX
        + "SELECT ?s ?g WHERE { { GRAPH ?g { ?s ex:p ?v . } } UNION { GRAPH ?g { ?s ex:q ?w . } } }",
    ).collect()
    assert {(r["s"], r["g"]) for r in out} == {
        (EX + "a", "urn:doc:d1"),
        (EX + "b", "urn:doc:d2"),
    }


def test_graph_inside_exists(spark):
    # keep subjects that have ex:q in SOME single document alongside ex:p
    tri = _mk_docs_tri(spark, [
        ("d1", EX + "a", EX + "p", "literal", "1", None, None),
        ("d1", EX + "a", EX + "q", "literal", "2", None, None),
        ("d2", EX + "b", EX + "p", "literal", "1", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX
        + "SELECT ?s WHERE { ?s ex:p ?v . FILTER EXISTS { GRAPH ?g { ?s ex:q ?w . } } }",
    ).collect()
    assert {r["s"] for r in out} == {EX + "a"}


def test_graph_inside_subquery(spark):
    tri = _mk_docs_tri(spark, [
        ("d1", EX + "a", EX + "p", "literal", "1", None, None),
        ("d1", EX + "a", EX + "q", "literal", "2", None, None),
        ("d2", EX + "b", EX + "p", "literal", "1", None, None),
        ("d3", EX + "b", EX + "q", "literal", "2", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX
        + """SELECT ?s ?n WHERE {
            ?s ex:p ?v .
            { SELECT ?s (COUNT(?w) AS ?n) WHERE { GRAPH ?g { ?s ex:q ?w . } } GROUP BY ?s }
        }""",
    ).collect()
    assert {(r["s"], r["n"]) for r in out} == {(EX + "a", 1), (EX + "b", 1)}


def test_nested_graph(spark):
    """GRAPH ?g1 { P1 GRAPH ?g2 { P2 } }: P1 matches inside g1, P2 inside
    g2 (possibly a different document), joined on shared variables."""
    tri = _mk_docs_tri(spark, [
        ("d1", EX + "a", EX + "p", "iri", EX + "x", None, None),
        ("d2", EX + "x", EX + "q", "literal", "2", None, None),
    ])
    out = sparql_select(
        tri,
        PREFIX
        + "SELECT ?g1 ?g2 WHERE { GRAPH ?g1 { ?s ex:p ?o . GRAPH ?g2 { ?o ex:q ?w . } } }",
    ).collect()
    assert {(r["g1"], r["g2"]) for r in out} == {("urn:doc:d1", "urn:doc:d2")}


def test_patternless_graph_block_rejected(spark):
    tri = _mk_docs_tri(spark, [("d1", EX + "a", EX + "p", "literal", "1", None, None)])
    with pytest.raises(SparqlParseError, match="triple pattern of its own"):
        sparql_select(
            tri,
            PREFIX + "SELECT ?g2 WHERE { GRAPH ?g1 { GRAPH ?g2 { ?s ex:p ?v . } } }",
        ).collect()


def test_path_negated_property_set_forward(spark):
    # §9.1 NPS, forward-only: !(ex:p|a) matches any triple whose predicate
    # is neither ex:p nor rdf:type
    cols = "subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    tri = spark.createDataFrame(
        [
            (EX + "x", EX + "p", "literal", "1", None, None),
            (EX + "x", EX + "q", "literal", "2", None, None),
            (EX + "x", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "iri", EX + "T", None, None),
        ],
        cols,
    )
    out = sparql_select(tri, PREFIX + "SELECT ?o WHERE { ex:x !(ex:p|a) ?o . }")
    assert {r["o"] for r in out.collect()} == {"2"}
    # unparenthesized single member
    out2 = sparql_select(tri, PREFIX + "SELECT ?o WHERE { ex:x !ex:q ?o . }")
    assert {r["o"] for r in out2.collect()} == {"1", EX + "T"}


def test_path_negated_property_set_inverse_and_mixed(spark):
    cols = "subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    tri = spark.createDataFrame(
        [
            (EX + "a", EX + "p", "iri", EX + "b", None, None),
            (EX + "a", EX + "q", "iri", EX + "b", None, None),
        ],
        cols,
    )
    # pure-inverse set: !^ex:p == pairs (s,o) with triple (o, pred, s),
    # pred != ex:p — only the q edge, reversed
    out = sparql_select(tri, PREFIX + "SELECT DISTINCT ?s ?o WHERE { ?s !^ex:p ?o . }")
    assert {(r["s"], r["o"]) for r in out.collect()} == {(EX + "b", EX + "a")}
    # mixed: forward branch excludes p (keeps q forward), inverse branch
    # excludes q (keeps p reversed)
    out2 = sparql_select(
        tri, PREFIX + "SELECT DISTINCT ?s ?o WHERE { ?s !(ex:p|^ex:q) ?o . }"
    )
    assert {(r["s"], r["o"]) for r in out2.collect()} == {
        (EX + "a", EX + "b"),  # q forward
        (EX + "b", EX + "a"),  # p inverse
    }


def test_path_negated_property_set_in_sequence_and_modified(spark):
    cols = "subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    tri = spark.createDataFrame(
        [
            (EX + "a", EX + "next", "iri", EX + "b", None, None),
            (EX + "b", EX + "next", "iri", EX + "c", None, None),
            (EX + "a", EX + "skip", "iri", EX + "c", None, None),
        ],
        cols,
    )
    # NPS under a + modifier: !ex:skip+ walks only `next` edges
    out = sparql_select(
        tri, PREFIX + "SELECT DISTINCT ?o WHERE { ex:a !ex:skip+ ?o . }"
    )
    assert {r["o"] for r in out.collect()} == {EX + "b", EX + "c"}
    # NPS inside a sequence
    out2 = sparql_select(
        tri, PREFIX + "SELECT DISTINCT ?o WHERE { ex:a !ex:skip/ex:next ?o . }"
    )
    assert {r["o"] for r in out2.collect()} == {EX + "c"}


def test_path_negated_property_set_parse_errors(spark):
    with pytest.raises(SparqlParseError, match="negated property set"):
        parse_sparql(PREFIX + "SELECT ?o WHERE { ex:x !(ex:p|^) ?o . }")
    with pytest.raises(SparqlParseError, match="unclosed negated property set"):
        parse_sparql(PREFIX + "SELECT ?o WHERE { ex:x !(ex:p ?o . }")


def test_select_reduced_dedupes(spark):
    # REDUCED permits duplicate elimination (§18.2.5.2); full elimination
    # is the deterministic conforming choice, so REDUCED ≡ DISTINCT
    cols = "subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    tri = spark.createDataFrame(
        [
            (EX + "a", EX + "p", "literal", "1", None, None),
            (EX + "b", EX + "p", "literal", "1", None, None),
        ],
        cols,
    )
    out = sparql_select(tri, PREFIX + "SELECT REDUCED ?o WHERE { ?s ex:p ?o . }")
    assert [r["o"] for r in out.collect()] == ["1"]


def test_graph_empty_group_enumerates_graphs(spark):
    """`GRAPH ?g {}` — the empty group matches every named graph with the
    empty solution (§13.3), so the block enumerates graph names."""
    tri = _mk_docs_tri(spark, [
        ("d1", EX + "a", EX + "p", "literal", "1", None, None),
        ("d2", EX + "b", EX + "p", "literal", "2", None, None),
        ("d2", EX + "c", EX + "q", "literal", "3", None, None),
    ])
    out = sparql_select(tri, "SELECT ?g WHERE { GRAPH ?g { } } ORDER BY ?g").collect()
    assert [r["g"] for r in out] == ["urn:doc:d1", "urn:doc:d2"]
    # the IRI form with an empty group stays a clean reject
    import pytest as _pytest
    from rdfshape_api_spark.plans.sparql import SparqlParseError
    with _pytest.raises(SparqlParseError, match="no bindings"):
        sparql_select(tri, "SELECT ?s WHERE { ?s ?p ?o . GRAPH <urn:doc:d1> { } }").collect()


def test_string_escapes_decode_like_ntriples(spark):
    """A query literal decodes \\u, \\U and \\' as N-Triples and Turtle do,
    so it matches the stored value."""
    tri = _mk_tri(spark, [
        (EX + "a", EX + "name", "literal", "café", None, None),
        (EX + "b", EX + "name", "literal", "it's", None, None),
    ])
    q = PREFIX + r'SELECT ?s WHERE { ?s ex:name ?o FILTER(?o = "caf\u00e9") }'
    assert [r["s"] for r in sparql_select(tri, q).collect()] == [EX + "a"]
    q = PREFIX + r"""SELECT ?s WHERE { ?s ex:name "it\'s" }"""
    assert [r["s"] for r in sparql_select(tri, q).collect()] == [EX + "b"]
    with pytest.raises(SparqlParseError, match="bad escape"):
        parse_sparql(PREFIX + r'SELECT ?s WHERE { ?s ex:name "a\qb" }')


def test_filter_and_bind_expand_prefixed_names(spark):
    """A prefixed name inside FILTER or BIND is the IRI it names."""
    tri = _meta_graph(spark)
    rows = lambda q: sorted(tuple(r) for r in sparql_select(tri, PREFIX + q).collect())  # noqa: E731
    pname = rows("SELECT ?o WHERE { ?m ex:q ?o FILTER(DATATYPE(?o) = xsd:integer) }")
    iri = rows(f"SELECT ?o WHERE {{ ?m ex:q ?o FILTER(DATATYPE(?o) = <{XSD_INT}>) }}")
    assert pname == iri == [("1",)]
    assert rows("SELECT ?s WHERE { ?s ex:p ?o FILTER(?o = ex:m) }") == [(EX + "x",)]
    assert rows("SELECT ?x WHERE { ex:x ex:p ?o BIND(ex:a AS ?x) }") == [(EX + "a",)]
    first = "SELECT ?s WHERE {{ ?s ?p ?o }} ORDER BY {}(?s = ex:m) LIMIT 1"
    assert rows(first.format("DESC")) == [(EX + "m",)]
    assert rows(first.format("ASC")) == [(EX + "x",)]
    with pytest.raises(SparqlParseError, match="cannot resolve"):
        parse_sparql(PREFIX + "SELECT ?o WHERE { ?s ex:q ?o FILTER(?o = nope:x) }")
    with pytest.raises(SparqlParseError, match="cannot resolve"):
        parse_sparql(PREFIX + "SELECT ?x WHERE { ?s ex:q ?o BIND(nope:x AS ?x) }")
    # pattern-valued filters inside the same query still parse
    out = rows(
        "SELECT ?s WHERE { ?s ex:p ?o FILTER EXISTS { ?o ex:q ?v } "
        "FILTER NOT EXISTS { ?o ex:r ?v } FILTER(?o != xsd:integer) }"
    )
    assert out == [(EX + "x",)]
