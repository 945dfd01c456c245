"""Physical-plan quality gates: pruning, pushdown, codegen.

These assert the *plan shape* we designed for (SURVEY §4), not just row
correctness — a regression that silently reverts to full scans or drops
codegen fails here even though results stay right.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from rdfshape_api_spark.fixtures.generator import SHAPEMAP_QUERY, SHEX_SENSOR
from rdfshape_api_spark.operators.canonicalize import (
    canonicalize,
    pred_partition_value,
    read_store,
    write_canonical_store,
)
from rdfshape_api_spark.model import TRIPLE_COLUMNS

EX = "http://example.org/"


@pytest.fixture(scope="module")
def store(spark, fixtures_001, tmp_path_factory):
    from rdfshape_api_spark.sources.extract import extract_triples_raw

    docs = spark.read.parquet(fixtures_001["docs"])
    raw = extract_triples_raw(docs)
    canon = canonicalize(raw.filter(F.col("error").isNull()).select(*TRIPLE_COLUMNS))
    path = str(tmp_path_factory.mktemp("store") / "triple_store")
    write_canonical_store(canon, path, subj_buckets=4, dedup=True)
    return path


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _partition_filters(plan: str) -> str:
    """The ``PartitionFilters: [...]`` segment of the scan node."""
    return re.search(r"PartitionFilters: \[([^\]]*)", plan).group(1)


def test_predicate_read_is_partition_pruned(spark, store):
    df = read_store(spark, store, [EX + "status"])
    # the pred_part literal must appear as a partition filter on the scan
    assert pred_partition_value(EX + "status") in _partition_filters(_plan(df))
    # and it returns exactly the pred's rows
    full = read_store(spark, store)
    assert df.count() == full.filter(F.col("pred") == EX + "status").count() > 0


def test_column_projection_prunes_read_schema(spark, store):
    df = read_store(spark, store, [EX + "status"]).select("subj", "obj_value")
    rs = re.search(r"ReadSchema: (\S+)", _plan(df)).group(1)
    # only the projected columns plus `pred` for the row filter; partition
    # columns come from the directory names, not the files
    assert rs == "struct<subj:string,pred:string,obj_value:string>"


def test_extraction_is_one_python_stage(spark, fixtures_001):
    """Every format goes through the same parse: one MapInPandas node and
    no Union of per-format branches."""
    from rdfshape_api_spark.sources.extract import extract_triples_raw

    plan = _plan(extract_triples_raw(spark.read.parquet(fixtures_001["docs"])))
    assert plan.count("MapInPandas") == 1
    assert "Union" not in plan


def test_validation_plan_has_no_python_stages(spark, store):
    """Validation over the store (the pipeline's stage-3 shape) is pure
    Spark SQL — Python appears only in the extraction stage upstream."""
    from rdfshape_api_spark.plans import parse_shexc, validate

    tri = read_store(spark, store).select(*TRIPLE_COLUMNS)
    v = validate(
        tri, parse_shexc(SHEX_SENSOR), shapemap=SHAPEMAP_QUERY, shape_label="s"
    )
    plan = _plan(v)
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" in plan  # the A5 cardinality aggregation


def _without_broadcast_subtrees(plan: str) -> str:
    """The plan text minus every ``BroadcastExchange`` node and its children."""
    kept, cut_at = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if cut_at is not None and depth > cut_at:
            continue
        cut_at = depth if "BroadcastExchange" in line else None
        if cut_at is None:
            kept.append(line)
    return "\n".join(kept)


def test_fused_store_write_single_exchange(spark, store, monkeypatch, tmp_path):
    """The frame ``write_canonical_store(dedup=True)`` hands to the parquet
    writer shuffles once, on the layout key: the dedup aggregation rides
    that exchange (the broadcast ``pred_map`` side is not counted)."""
    from pyspark.sql import DataFrameWriter

    written = []
    monkeypatch.setattr(DataFrameWriter, "parquet", lambda self, *a, **k: written.append(self._df))
    write_canonical_store(
        read_store(spark, store).select(*TRIPLE_COLUMNS), str(tmp_path / "s"), dedup=True
    )
    (df,) = written
    plan = _without_broadcast_subtrees(_plan(df))
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    # hashpartitioning(<key columns>, <partition count>)
    assert [re.sub(r"#\d+L?", "", k).split(", ")[:-1] for k in keys] == [["pred_part", "bucket"]], plan
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan


def test_identity_edges_plan_is_star_not_pairs(spark):
    """propose_identity_edges: one equi-join of keyed rows against the
    aggregated group table — no self-join pair enumeration, no cartesian."""
    from rdfshape_api_spark.operators.canonicalize import propose_identity_edges

    tri = spark.createDataFrame(
        [("d", f"http://e/{i}", "http://e/email", "literal", f"v{i % 3}@x", None, None) for i in range(12)],
        "doc_sha256 string, subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string",
    )
    plan = _plan(propose_identity_edges(tri, ["http://e/email"]))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # exactly one join shape: keyed ⋈ grouped-min (SMJ or SHJ or BHJ)
    import re as _re
    joins = _re.findall(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)
    assert len(joins) == 1, plan


def test_owl_sameas_closure_no_cartesian(spark):
    """sameAs merge: the member→canon rewrite is two hash joins on the
    mapping — no cartesian products, no per-row Python stages."""
    from rdfshape_api_spark.operators.inference import OWL_SAMEAS, owl_sameas_closure

    tri = spark.createDataFrame(
        [
            ("d", "http://e/b", OWL_SAMEAS, "iri", "http://e/a", None, None),
            ("d", "http://e/b", "http://e/p", "iri", "http://e/c", None, None),
        ],
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string",
    )
    plan = _plan(owl_sameas_closure(tri))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_w3c_batch_simple_jobs_share_one_aggregate(spark):
    """validate_batch's simple path: N schemas → ONE groupBy over the
    predicate-filtered scan (the W3C sample's execution model).  Two
    simple single-shape jobs must produce exactly one HashAggregate pair
    (partial+final), not one per job."""
    from rdfshape_api_spark.plans import parse_shexc
    from rdfshape_api_spark.plans.validate import validate_batch

    tri = spark.createDataFrame(
        [("d", "http://e/x", "http://e/p1", "iri", "http://e/v", None, None)],
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string",
    )
    s1 = parse_shexc("PREFIX : <http://e/>\n:A { :p1 . }")
    s2 = parse_shexc("PREFIX : <http://e/>\n:B { :p2 . ? }")
    out = validate_batch(
        tri,
        [(s1, "<http://e/x>@<http://e/A>", "a"),
         (s2, "<http://e/x>@<http://e/B>", "b")],
    )
    plan = _plan(out)
    # ONE partial+final aggregate over the shared triple scan (2) plus one
    # tiny distinct per job's focus work-list (2 each) — a per-job
    # aggregation of the BIG scan would add 2 more per job (>= 8 here)
    assert plan.count("HashAggregate") <= 6
    assert "CartesianProduct" not in plan
