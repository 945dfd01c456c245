from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from rdfshape_api_spark.session import get_spark

    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixtures_001():
    from rdfshape_api_spark.fixtures import ensure_fixtures

    return ensure_fixtures("sf0.001")


@pytest.fixture(scope="session")
def triples_001(spark, fixtures_001):
    from rdfshape_api_spark.operators.canonicalize import canonicalize, dedup_triples
    from rdfshape_api_spark.sources.extract import extract_triples

    docs = spark.read.parquet(fixtures_001["docs"])
    t = dedup_triples(canonicalize(extract_triples(docs))).persist()
    t.count()
    return t
