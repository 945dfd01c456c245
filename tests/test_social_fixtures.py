"""Second golden family: OneOf + recursion + N-Quads/TriG under goldens."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from rdfshape_api_spark.fixtures.social import (
    SHAPEMAP_PERSON,
    SHEX_PERSON,
    ensure_social,
)
from rdfshape_api_spark.operators.canonicalize import canonicalize, dedup_triples
from rdfshape_api_spark.plans import parse_shexc, validate
from rdfshape_api_spark.sources.extract import extract_triples


@pytest.fixture(scope="module")
def social(spark):
    paths = ensure_social("sf0.001")
    docs = spark.read.parquet(paths["docs"])
    tri = dedup_triples(canonicalize(extract_triples(docs))).persist()
    tri.count()
    return paths, tri


def test_social_extraction_matches_goldens(spark, social):
    paths, tri = social
    got = set(
        map(tuple, tri.select(
            "doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"
        ).collect())
    )
    exp = set(map(tuple, duckdb.sql(f"SELECT * FROM '{paths['triples']}'").fetchall()))
    assert got == exp


def test_social_formats_mix(spark, social):
    paths, _ = social
    langs = {
        r["lang"]
        for r in spark.read.parquet(paths["docs"]).select("lang").distinct().collect()
    }
    assert langs == {"turtle", "ntriples", "nquads", "trig"}


def test_social_verdicts_match_goldens(spark, social):
    paths, tri = social
    v = validate(
        tri, parse_shexc(SHEX_PERSON), shapemap=SHAPEMAP_PERSON, shape_label="shex_person"
    ).select("doc_sha256", "node", "status")
    got = set(map(tuple, v.collect()))
    exp = set(
        map(tuple, duckdb.sql(
            f"SELECT doc_sha256, node, status FROM '{paths['verdicts']}'"
        ).fetchall())
    )
    assert got == exp
    # both verdict classes occur (fixture stresses conformant AND not)
    statuses = {s for *_x, s in got}
    assert statuses == {"conformant", "nonconformant"}
