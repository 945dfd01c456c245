"""Physical-plan quality gates: pruning, pushdown, codegen.

These assert the *plan shape* we designed for (SURVEY §4), not just row
correctness — a regression that silently reverts to full scans or drops
codegen fails here even though results stay right.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdfshape_api_spark.fixtures.generator import SHAPEMAP_QUERY, SHEX_SENSOR
from rdfshape_api_spark.operators.canonicalize import (
    canonicalize,
    pred_partition_value,
    read_store_predicate,
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


def test_predicate_read_is_partition_pruned(spark, store):
    df = read_store_predicate(spark, store, EX + "status")
    plan = _plan(df)
    # the pred_part literal must appear as a partition filter on the scan
    assert "PartitionFilters" in plan
    assert pred_partition_value(EX + "status") in plan
    # and it returns exactly the pred's rows
    full = spark.read.parquet(store)
    assert df.count() == full.filter(F.col("pred") == EX + "status").count() > 0


def test_column_projection_prunes_read_schema(spark, store):
    df = read_store_predicate(spark, store, EX + "status").select("subj", "obj_value")
    plan = _plan(df)
    # ReadSchema must not include the unused literal-metadata columns
    rs = plan[plan.index("ReadSchema") :].split("\n")[0] if "ReadSchema" in plan else ""
    assert "obj_lang" not in rs and "doc_sha256" in rs or "subj" in rs


def test_extraction_fast_path_is_whole_stage_codegen(spark, fixtures_001):
    from rdfshape_api_spark.sources.extract import extract_ntriples_columnar, with_doc_sha

    docs = with_doc_sha(spark.read.parquet(fixtures_001["docs"]))
    nt = extract_ntriples_columnar(docs.filter(F.lower("lang") == "ntriples"))
    plan = _plan(nt)
    # `*(n)` prefixes in executedPlan.toString mark WholeStageCodegen stages
    assert "*(" in plan
    # zero Python stages on the fast path
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_validation_plan_has_no_python_stages(spark, store):
    """Validation over the store (the pipeline's stage-3 shape) is pure
    Spark SQL — Python appears only in the extraction stage upstream."""
    from rdfshape_api_spark.operators.canonicalize import read_canonical_store
    from rdfshape_api_spark.plans import parse_shexc, validate

    tri = read_canonical_store(spark, store)
    v = validate(
        tri, parse_shexc(SHEX_SENSOR), shapemap=SHAPEMAP_QUERY, shape_label="s"
    )
    plan = _plan(v)
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" in plan  # the A5 cardinality aggregation


def test_fused_store_write_single_exchange(spark, store):
    from rdfshape_api_spark.operators.canonicalize import (
        pred_partition_key,
        read_canonical_store,
    )

    out = read_canonical_store(spark, store).select(*TRIPLE_COLUMNS).withColumn(
        "pred_part", pred_partition_key()
    ).withColumn("bucket", F.pmod(F.xxhash64("subj"), F.lit(4)))
    key = ["doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"]
    fused = (
        out.repartition("pred_part", "bucket")
        .groupBy("pred_part", "bucket", *key)
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    plan = _plan(fused)
    assert plan.count("Exchange") == 1


def test_repetition_signals_is_map_only(spark):
    """text_repetition must stay a single map-only stage: no Exchange in
    the physical plan — per-row array expressions, shuffle-free at any
    scale.  (Higher-order array lambdas opt out of whole-stage codegen by
    design; the interpreted Project is still JVM-side and vectorizable.)"""
    from rdfshape_api_spark.functions.textops import repetition_signals

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "x y")], "doc_id bigint, text string"
    )
    plan = _plan(repetition_signals(docs))
    assert "Exchange" not in plan
    assert "Project" in plan


def test_text_features_is_map_only(spark):
    from rdfshape_api_spark.functions.textops import text_features

    docs = spark.createDataFrame(
        [(1, "the cat", 7)], "doc_id bigint, text string, n_chars bigint"
    )
    plan = _plan(text_features(docs))
    assert "Exchange" not in plan


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


def test_winnow_sets_is_map_only(spark):
    """Winnow sketching must stay map-only (no Exchange) and the explode
    must not re-introduce the InferFiltersFromGenerate blowup (no Filter
    carrying the nested transform below the Generate)."""
    from rdfshape_api_spark.functions.codeops import (
        winnow_fingerprint_sets,
        winnow_fingerprints,
    )

    docs = spark.createDataFrame(
        [("r", "p", "c", "py", "some content here", "h")],
        "repo string, path string, commit string, lang string, "
        "content string, content_sha256 string",
    )
    assert "Exchange" not in _plan(winnow_fingerprint_sets(docs))
    plan = _plan(winnow_fingerprints(docs))
    assert "Exchange" not in plan
    assert "Filter" not in plan


def test_repo_stats_single_exchange(spark):
    """The rollup is one hash-aggregate: exactly one Exchange (the
    group-by), partial aggregation map-side."""
    from rdfshape_api_spark.functions.codeops import repo_stats

    docs = spark.createDataFrame(
        [("r", "p", "c", "py", "x", "h")],
        "repo string, path string, commit string, lang string, "
        "content string, content_sha256 string",
    )
    plan = _plan(repo_stats(docs))
    # count(distinct ...) expands to a two-level agg over ONE shuffle key
    assert plan.count("Exchange") <= 2
    assert "HashAggregate" in plan


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
