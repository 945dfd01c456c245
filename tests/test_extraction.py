"""Spark extraction stage vs golden triples (SURVEY §2.1, §7.1 step 2/3)."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F


def test_extraction_matches_golden_exactly(triples_001, fixtures_001):
    got = {
        tuple(r)
        for r in triples_001.select(
            "doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"
        ).collect()
    }
    exp = set(
        map(
            tuple,
            duckdb.sql(f"SELECT DISTINCT * FROM '{fixtures_001['triples']}'").fetchall(),
        )
    )
    assert got == exp  # P/R = 1.0


def test_error_channel(spark, fixtures_001):
    from rdfshape_api_spark.sources.extract import extract_errors

    docs = spark.read.parquet(fixtures_001["docs"])
    errs = extract_errors(docs)
    n = errs.count()
    # generator marks j % 97 == 13 → j ∈ {13, 110, …, 983}: 11 docs in 1000
    assert n == 11
    assert errs.filter(F.col("error").isNull()).count() == 0


def test_sha_invariant(spark, fixtures_001):
    from rdfshape_api_spark.lineage import extraction_lineage
    from rdfshape_api_spark.sources.extract import extract_triples_raw, with_doc_sha

    docs = with_doc_sha(spark.read.parquet(fixtures_001["docs"]))
    lineage = extraction_lineage(docs, extract_triples_raw(docs)).collect()
    assert lineage and sum(r["sha_violations"] for r in lineage) == 0


def test_prefix_tables(spark, fixtures_001):
    from rdfshape_api_spark.sources.extract import extract_prefixes, merged_prefix_map

    docs = spark.read.parquet(fixtures_001["docs"])
    pm = {r["prefix"]: r["iri"] for r in merged_prefix_map(extract_prefixes(docs)).collect()}
    assert pm["ex"] == "http://example.org/"
    assert pm["sensor"] == "http://example.org/"
    assert pm["xsd"] == "http://www.w3.org/2001/XMLSchema#"


# N-Triples documents; raw strings, so every backslash is in the document
_PARITY_DOCS = {
    "unicode": r'<http://e/s> <http://e/p> "caf\u00e9 \U0001F600" .',
    "quotes": r"""<http://e/s> <http://e/p> "\'q\' \"d\"" .""",
    "escaped_backslash": r'<http://e/s> <http://e/p> "a\\nb" .',
    "lang": '# comment\n\n<http://e/s> <http://e/p> "hi"@EN-GB .\n_:b <http://e/q> _:c .\n',
    "space_in_subject": '<http://e/s x> <http://e/p> "x" .',
    "space_in_predicate": '<http://e/s> <http://e/p x> "x" .',
    "space_in_object": "<http://e/s> <http://e/p> <http://e/o x> .",
}


def test_ntriples_and_turtle_labels_give_the_same_rows(spark):
    """One parser per format: the same N-Triples bytes give the same
    triples, or one error row, whether labelled ``ntriples`` or
    ``turtle``."""
    from rdfshape_api_spark.sources.extract import extract_triples_raw

    docs = spark.createDataFrame(
        [
            ("r", name, "c", lang, content)
            for name, content in _PARITY_DOCS.items()
            for lang in ("ntriples", "turtle")
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    rows: dict[str, list] = {"ntriples": [], "turtle": []}
    # the raw rows keep `commit`, so it carries the label through
    for r in extract_triples_raw(docs.withColumn("commit", F.col("lang"))).collect():
        # the error text names the parser; the rest of the row must match
        rows[r["commit"]].append(
            (r["path"], r["subj"], r["pred"], r["obj_kind"], r["obj_value"],
             r["obj_lang"], r["obj_datatype"], r["error"] is not None)
        )
    nt, ttl = sorted(rows["ntriples"], key=str), sorted(rows["turtle"], key=str)
    assert nt == ttl
    lit = lambda doc, v, lang=None: (  # noqa: E731
        doc, "http://e/s", "http://e/p", "literal", v, lang, None, False
    )
    assert lit("unicode", "café \U0001F600") in nt
    assert lit("quotes", "'q' \"d\"") in nt
    assert lit("escaped_backslash", "a\\nb") in nt
    assert lit("lang", "hi", "en-gb") in nt
    assert ("lang", "_:b", "http://e/q", "bnode", "_:c", None, None, False) in nt
    for doc in ("space_in_subject", "space_in_predicate", "space_in_object"):
        assert [r for r in nt if r[0] == doc] == [(doc, *[None] * 6, True)]
    assert len(nt) == 8
