"""Third golden family: repeated-property EachOf under goldens."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from rdfshape_api_spark.fixtures.catalog import (
    SHAPEMAP_ITEM,
    SHEX_ITEM,
    ensure_catalog,
)
from rdfshape_api_spark.operators.canonicalize import canonicalize, dedup_triples
from rdfshape_api_spark.plans import parse_shexc, validate
from rdfshape_api_spark.sources.extract import extract_triples


@pytest.fixture(scope="module")
def catalog(spark):
    paths = ensure_catalog("sf0.001")
    docs = spark.read.parquet(paths["docs"])
    tri = dedup_triples(canonicalize(extract_triples(docs))).persist()
    tri.count()
    return paths, tri


def test_catalog_extraction_matches_goldens(spark, catalog):
    paths, tri = catalog
    got = set(
        map(tuple, tri.select(
            "doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"
        ).collect())
    )
    exp = set(map(tuple, duckdb.sql(f"SELECT * FROM '{paths['triples']}'").fetchall()))
    assert got == exp


def test_catalog_verdicts_match_goldens(spark, catalog):
    paths, tri = catalog
    v = validate(
        tri, parse_shexc(SHEX_ITEM), shapemap=SHAPEMAP_ITEM, shape_label="shex_item"
    ).select("doc_sha256", "node", "status")
    got = set(map(tuple, v.collect()))
    exp = set(
        map(tuple, duckdb.sql(
            f"SELECT doc_sha256, node, status FROM '{paths['verdicts']}'"
        ).fetchall())
    )
    assert got == exp
    statuses = {s for *_k, s in got}
    assert statuses == {"conformant", "nonconformant"}
