"""Round-trip property tests for the K1 serializer matrix (SURVEY §2.2,
RdfFormat.scala:18-29): parse(serialize(g)) == g through this package's own
parsers — the SURVEY §5 property-test model ("parse(serialize(g)) == g").

TriG / RDF-XML / JSON-LD / RDF-JSON emitters are exercised over an
edge-case graph (quotes, newlines, CR, tabs, XML specials, backslashes,
language tags, datatypes, blank nodes) and over the generated fixture
corpus end-to-end.
"""

import pytest

from rdfshape_api_spark.operators.serialize import (
    to_jsonld_per_doc,
    to_rdfjson_per_doc,
    to_rdfxml_per_doc,
    to_trig,
)
from rdfshape_api_spark.sources.parsers import parse_document

E = "http://example.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"

EDGE_ROWS = [
    ("d1", E + "s1", E + "p", "iri", E + "o1", None, None),
    ("d1", E + "s1", E + "p", "literal", 'he said "hi"\nand <left> & 5\t.', None, None),
    ("d1", E + "s1", E + "name", "literal", "José", "en", None),
    ("d1", E + "s1", E + "age", "literal", "42", None, XSD + "integer"),
    ("d1", E + "s1", E + "knows", "bnode", "_:b0", None, None),
    ("d1", "_:b0", E + "name", "literal", "carriage\rreturn", None, None),
    ("d1", "_:b0", E + "p", "literal", "", None, None),  # empty literal
    ("d2", E + "s2", E + "p", "literal", "back\\slash }{ ", None, None),
    ("d2", E + "s2", E + "p2", "literal", "zh tag", "zh-hans", None),
]

FORMATS = [
    (to_trig, "trig", "trig"),
    (to_rdfxml_per_doc, "xml", "rdfxml"),
    (to_jsonld_per_doc, "jsonld", "jsonld"),
    (to_rdfjson_per_doc, "rdfjson", "rdfjson"),
]


def _edge_df(spark):
    return spark.createDataFrame(
        EDGE_ROWS,
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string",
    )


@pytest.mark.parametrize("fn,col,lang", FORMATS, ids=[f[2] for f in FORMATS])
def test_edge_case_roundtrip(spark, fn, col, lang):
    df = _edge_df(spark)
    orig = set(EDGE_ROWS)
    got = set()
    for r in fn(df).collect():
        tris, err = parse_document(r[col], lang)
        assert err is None, (lang, err)
        got |= {(r["doc_sha256"], *t) for t in tris}
    assert got == orig


@pytest.mark.parametrize("fn,col,lang", FORMATS, ids=[f[2] for f in FORMATS])
def test_fixture_corpus_roundtrip(spark, fn, col, lang):
    """Full corpus: raw-extract fixture docs, serialize, re-parse with the
    original doc_sha256 threaded through, canonicalize both sides —
    skolemization then lands identically and the canonical sets match."""
    from pyspark.sql import functions as F

    from rdfshape_api_spark.fixtures import ensure_fixtures
    from rdfshape_api_spark.operators.canonicalize import canonicalize, dedup_triples
    from rdfshape_api_spark.sources.extract import extract_triples

    paths = ensure_fixtures("sf0.001")
    docs = spark.read.parquet(paths["docs"])
    raw = extract_triples(docs)
    cols = ["doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"]
    expected = set(
        map(tuple, dedup_triples(canonicalize(raw)).select(*cols).collect())
    )
    ser = fn(raw)
    redocs = ser.select(
        F.lit("roundtrip").alias("repo"),
        F.col("doc_sha256").alias("path"),
        F.lit("c0").alias("commit"),
        "doc_sha256",  # keep the ORIGINAL sha (with_doc_sha preserves it)
        F.lit(lang).alias("lang"),
        F.col(col).alias("content"),
    )
    got = set(
        map(
            tuple,
            dedup_triples(canonicalize(extract_triples(redocs)))
            .select(*cols)
            .collect(),
        )
    )
    assert expected - got == set()
    assert got - expected == set()


def test_rdfxml_unsplittable_predicate_raises(spark):
    df = spark.createDataFrame(
        [("d1", E + "s", E + "p/", "literal", "x", None, None)],
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string",
    )
    with pytest.raises(Exception, match="cannot split predicate"):
        to_rdfxml_per_doc(df).collect()


def test_validation_report_triples(spark):
    from rdfshape_api_spark.operators.serialize import validation_report_triples

    v = spark.createDataFrame(
        [
            ("d1", "http://e/a", "http://e/S", "conformant", []),
            ("d1", "http://e/b", "http://e/S", "nonconformant", ["bad count"]),
            ("d2", "http://e/c", "http://e/S", "conformant", []),
        ],
        "doc_sha256 string, node string, shape_id string, status string, reasons array<string>",
    )
    out = validation_report_triples(v)
    rows = {(r.doc_sha256, r.subj, r.pred, r.obj_value) for r in out.collect()}
    SH = "http://www.w3.org/ns/shacl#"
    # d2 conforms; d1 does not
    assert ("d2", "urn:report:d2", SH + "conforms", "true") in rows
    assert ("d1", "urn:report:d1", SH + "conforms", "false") in rows
    # exactly one ValidationResult, for d1/b, with focus + shape + message
    res = [r for r in rows if r[2] == SH + "focusNode"]
    assert len(res) == 1 and res[0][3] == "http://e/b"
    assert any(r[2] == SH + "resultMessage" and r[3] == "bad count" for r in rows)
    assert any(r[2] == SH + "sourceShape" and r[3] == "http://e/S" for r in rows)
    # result node is deterministic and doc-scoped
    res_subj = res[0][1]
    assert res_subj.startswith("urn:report:d1:")
    # without messages the reasons column is not required
    out2 = validation_report_triples(v.drop("reasons"), include_messages=False)
    assert not [r for r in out2.collect() if r.pred == SH + "resultMessage"]
    # the report graph feeds the ordinary serializers unchanged
    from rdfshape_api_spark.operators.serialize import to_ntriples

    nt = to_ntriples(out)
    assert nt.count() == out.count()


def test_validation_report_severity(spark):
    """sh:severity flows from the shapes graph into sh:resultSeverity:
    end-to-end through parse_shacl -> validate -> severity_by_reason ->
    validation_report_triples.  Conformance is UNAFFECTED (spec §3.4)."""
    from rdfshape_api_spark.operators.serialize import (
        severity_by_reason,
        validation_report_triples,
    )
    from rdfshape_api_spark.plans import parse_shacl
    from rdfshape_api_spark.plans.validate import validate
    from rdfshape_api_spark.sources.extract import extract_triples

    SH = "http://www.w3.org/ns/shacl#"
    schema = parse_shacl(
        """
        @prefix sh: <http://www.w3.org/ns/shacl#> .
        @prefix ex: <http://e/> .
        ex:S a sh:NodeShape ; sh:targetClass ex:T ;
          sh:property [ sh:path ex:name ; sh:minCount 1 ;
                        sh:severity sh:Warning ;
                        sh:message "name missing" ] ;
          sh:property [ sh:path ex:age ; sh:minCount 1 ] .
        """
    )
    sev_map = severity_by_reason(schema)
    assert sev_map == {"name missing": SH + "Warning"}

    docs = spark.createDataFrame(
        [
            (
                "r", "p", "c", "ttl",
                "@prefix ex: <http://e/> .\n"
                "ex:a a ex:T ; ex:age 3 .\n"       # missing name -> Warning only
                "ex:b a ex:T ; ex:name \"B\" .\n"  # missing age -> Violation
                "ex:c a ex:T .\n",                  # missing both -> Violation wins
            )
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    t = extract_triples(docs)
    v = validate(t, schema)
    report = validation_report_triples(v, severity_of=sev_map)
    sev = {
        r.obj_value
        for r in report.filter(
            (report.pred == SH + "resultSeverity")
        ).collect()
    }
    # severity per focus node
    rows = report.collect()
    focus_of = {r.subj: r.obj_value for r in rows if r.pred == SH + "focusNode"}
    sev_of = {focus_of[r.subj]: r.obj_value for r in rows if r.pred == SH + "resultSeverity"}
    assert sev_of["http://e/a"] == SH + "Warning"
    assert sev_of["http://e/b"] == SH + "Violation"
    assert sev_of["http://e/c"] == SH + "Violation"  # mixed -> highest rank
    assert sev == {SH + "Warning", SH + "Violation"}
    # conformance unaffected by severity: all three focus nodes are results
    assert len(focus_of) == 3
    # default call (no severity map) keeps the old output: all Violation
    plain = validation_report_triples(v)
    assert {
        r.obj_value for r in plain.collect() if r.pred == SH + "resultSeverity"
    } == {SH + "Violation"}


def test_validation_report_per_constraint(spark):
    """per_constraint=True: spec-shaped report — one ValidationResult per
    violated constraint with resultMessage / resultSeverity / resultPath."""
    from rdfshape_api_spark.operators.serialize import (
        path_by_reason,
        severity_by_reason,
        validation_report_triples,
    )
    from rdfshape_api_spark.plans import parse_shacl
    from rdfshape_api_spark.plans.validate import validate
    from rdfshape_api_spark.sources.extract import extract_triples

    SH = "http://www.w3.org/ns/shacl#"
    schema = parse_shacl(
        """
        @prefix sh: <http://www.w3.org/ns/shacl#> .
        @prefix ex: <http://e/> .
        ex:S a sh:NodeShape ; sh:targetClass ex:T ;
          sh:property [ sh:path ex:name ; sh:minCount 1 ;
                        sh:severity sh:Warning ; sh:message "name missing" ] ;
          sh:property [ sh:path ex:age ; sh:minCount 1 ] .
        """
    )
    docs = spark.createDataFrame(
        [("r", "p", "c", "ttl",
          "@prefix ex: <http://e/> .\nex:c a ex:T .\n")],
        "repo string, path string, commit string, lang string, content string",
    )
    v = validate(extract_triples(docs), schema)
    rep = validation_report_triples(
        v,
        per_constraint=True,
        severity_of=severity_by_reason(schema),
        result_path_of=path_by_reason(schema),
    ).collect()
    # ex:c violates BOTH constraints -> two ValidationResult nodes
    results = [r.subj for r in rep if r.pred == SH + "focusNode"]
    assert len(results) == 2 and len(set(results)) == 2
    sev = {r.subj: r.obj_value for r in rep if r.pred == SH + "resultSeverity"}
    msg = {r.subj: r.obj_value for r in rep if r.pred == SH + "resultMessage"}
    path = {r.subj: r.obj_value for r in rep if r.pred == SH + "resultPath"}
    name_res = [s for s, m in msg.items() if m == "name missing"][0]
    age_res = [s for s in results if s != name_res][0]
    assert sev[name_res] == SH + "Warning" and sev[age_res] == SH + "Violation"
    assert path[name_res] == "http://e/name" and path[age_res] == "http://e/age"
    # header still present and conforms=false
    assert any(r.pred == SH + "conforms" and r.obj_value == "false" for r in rep)


def test_severity_map_conflicts_and_explicit_violation(spark):
    """ADVICE r4 hardening: (a) a reason text mapped to two different
    severities raises (reason text is the only verdict<->schema join key);
    (b) a caller-supplied map entry of explicit sh:Violation ranks like
    the unmapped default — highest — not like a custom IRI below
    Warning."""
    import pytest as pt

    from rdfshape_api_spark.operators.serialize import (
        severity_by_reason,
        validation_report_triples,
    )
    from rdfshape_api_spark.plans import parse_shacl
    from rdfshape_api_spark.plans.validate import validate
    from rdfshape_api_spark.sources.extract import extract_triples

    SH = "http://www.w3.org/ns/shacl#"
    dup = parse_shacl(
        """
        @prefix sh: <http://www.w3.org/ns/shacl#> .
        @prefix ex: <http://e/> .
        ex:S a sh:NodeShape ; sh:targetClass ex:T ;
          sh:property [ sh:path ex:name ; sh:minCount 1 ;
                        sh:severity sh:Warning ; sh:message "same text" ] ;
          sh:property [ sh:path ex:age ; sh:minCount 1 ;
                        sh:severity sh:Info ; sh:message "same text" ] .
        """
    )
    with pt.raises(ValueError, match="conflicting severities"):
        severity_by_reason(dup)

    schema = parse_shacl(
        """
        @prefix sh: <http://www.w3.org/ns/shacl#> .
        @prefix ex: <http://e/> .
        ex:S a sh:NodeShape ; sh:targetClass ex:T ;
          sh:property [ sh:path ex:name ; sh:minCount 1 ;
                        sh:message "name missing" ] ;
          sh:property [ sh:path ex:age ; sh:minCount 1 ;
                        sh:severity sh:Warning ; sh:message "age missing" ] .
        """
    )
    docs = spark.createDataFrame(
        [("r", "p", "c", "ttl", "@prefix ex: <http://e/> .\nex:c a ex:T .\n")],
        "repo string, path string, commit string, lang string, content string",
    )
    v = validate(extract_triples(docs), schema)
    # caller maps "name missing" EXPLICITLY to Violation; node also has a
    # Warning reason -> the node's aggregate severity must be Violation
    rep = validation_report_triples(
        v,
        severity_of={
            "name missing": SH + "Violation",
            "age missing": SH + "Warning",
        },
    ).collect()
    sev = [r.obj_value for r in rep if r.pred == SH + "resultSeverity"]
    assert sev == [SH + "Violation"]


def test_per_constraint_duplicate_reasons_deduped(spark):
    """A reasons array repeating one reason for a (node, shape) skolemizes
    to the SAME result IRI — the per-constraint renderer must not emit the
    result's triples twice (set semantics downstream)."""
    from rdfshape_api_spark.operators.serialize import validation_report_triples

    SH = "http://www.w3.org/ns/shacl#"
    v = spark.createDataFrame(
        [("d1", "http://e/c", "http://e/S", "nonconformant",
          ["dup reason", "dup reason", "other"])],
        "doc_sha256 string, node string, shape_id string, status string, "
        "reasons array<string>",
    )
    rep = validation_report_triples(v, per_constraint=True).collect()
    results = [r.subj for r in rep if r.pred == SH + "focusNode"]
    assert len(results) == 2 and len(set(results)) == 2
    type_rows = [r for r in rep if r.obj_value == SH + "ValidationResult"]
    assert len(type_rows) == 2


def test_severity_conflict_with_default_violation_raises(spark):
    """r5 review finding: a Warning constraint sharing its sh:message with
    a DEFAULT-severity (Violation) constraint must raise — the shared
    reason text would otherwise silently demote the Violation results."""
    import pytest as pt

    from rdfshape_api_spark.operators.serialize import severity_by_reason
    from rdfshape_api_spark.plans import parse_shacl

    dup = parse_shacl(
        """
        @prefix sh: <http://www.w3.org/ns/shacl#> .
        @prefix ex: <http://e/> .
        ex:S a sh:NodeShape ; sh:targetClass ex:T ;
          sh:property [ sh:path ex:name ; sh:minCount 1 ;
                        sh:severity sh:Warning ; sh:message "same text" ] ;
          sh:property [ sh:path ex:age ; sh:minCount 1 ;
                        sh:message "same text" ] .
        """
    )
    with pt.raises(ValueError, match="conflicting severities"):
        severity_by_reason(dup)
