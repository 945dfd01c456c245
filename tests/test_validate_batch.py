"""Single-pass multi-schema validation parity + plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdfshape_api_spark.fixtures.generator import (
    SHACL_SENSOR,
    SHAPEMAP_QUERY,
    SHEX_SENSOR,
)
from rdfshape_api_spark.plans import parse_shacl, parse_shexc, validate
from rdfshape_api_spark.plans.validate import validate_batch


def test_batch_matches_sequential(spark, triples_001):
    jobs = [
        (parse_shexc(SHEX_SENSOR), SHAPEMAP_QUERY, "shex_sensor"),
        (parse_shacl(SHACL_SENSOR), None, "shacl_sensor"),
    ]
    batch = validate_batch(triples_001, jobs).select(
        "doc_sha256", "node", "shape_id", "status"
    )
    seq = (
        validate(triples_001, jobs[0][0], shapemap=SHAPEMAP_QUERY, shape_label="shex_sensor")
        .unionByName(validate(triples_001, jobs[1][0], shape_label="shacl_sensor"))
        .select("doc_sha256", "node", "shape_id", "status")
    )
    assert batch.exceptAll(seq).isEmpty() and seq.exceptAll(batch).isEmpty()


def test_batch_single_aggregate_pass(spark, triples_001):
    jobs = [
        (parse_shexc(SHEX_SENSOR), SHAPEMAP_QUERY, "shex"),
        (parse_shacl(SHACL_SENSOR), None, "shacl"),
    ]
    plan = (
        validate_batch(triples_001, jobs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # exactly ONE constraint aggregation (the groupBy carrying the m_/t_
    # sums) serves both schemas; sequential validation would have two
    assert plan.count("AS m_0_0") == 1
    assert plan.count("AS m_1_0") == 1


def test_batch_falls_back_for_complex_schemas(spark, triples_001):
    # a schema with a shape reference routes through the sequential path
    ref_schema = parse_shexc(
        "PREFIX ex: <http://example.org/>\n"
        "ex:A { ex:station @ex:B }\nex:B { ex:status . + }"
    )
    out = validate_batch(
        triples_001,
        [(ref_schema, "{FOCUS a <http://example.org/Reading>}@<http://example.org/A>", "refjob")],
    )
    assert out.filter(F.col("shape_id") == "refjob").count() > 0


def test_pruned_store_keeps_focus_and_verdicts(spark):
    """A node whose triples all use out-of-schema predicates must still get
    its (nonconformant) verdict when the constraint scan is predicate-pruned:
    focus/target resolution runs over the unpruned ``focus_triples``."""
    cols = (
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string"
    )
    EX = "http://example.org/"
    full = spark.createDataFrame(
        [
            ("d1", EX + "good", EX + "status", "literal", "OK", None, None),
            # n1 has ONLY out-of-schema predicates → must be nonconformant
            ("d1", EX + "n1", EX + "unrelated", "literal", "x", None, None),
        ],
        cols,
    )
    pruned = full.filter(F.col("pred") == EX + "status")
    schema = parse_shexc(f"PREFIX ex: <{EX}>\nex:S {{ ex:status . }}")
    jobs = [(schema, f"<{EX}good>@<{EX}S>, <{EX}n1>@<{EX}S>", "s")]
    out = validate_batch(pruned, jobs, focus_triples=full).collect()
    by_node = {r["node"].split("/")[-1]: r["status"] for r in out}
    assert by_node == {"good": "conformant", "n1": "nonconformant"}


def test_pruned_store_shacl_targets_from_focus_triples(spark):
    """sh:targetClass resolution must see rdf:type rows even when the
    constraint scan was pruned to the shape's constraint predicates."""
    cols = (
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string"
    )
    EX = "http://example.org/"
    RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    full = spark.createDataFrame(
        [
            ("d1", EX + "t1", RDF_TYPE, "iri", EX + "Thing", None, None),
            ("d1", EX + "t1", EX + "name", "literal", "a", None, None),
            ("d1", EX + "t2", RDF_TYPE, "iri", EX + "Thing", None, None),
        ],
        cols,
    )
    shacl = f"""
        @prefix sh: <http://www.w3.org/ns/shacl#> .
        @prefix ex: <{EX}> .
        ex:TS a sh:NodeShape ; sh:targetClass ex:Thing ;
          sh:property [ sh:path ex:name ; sh:minCount 1 ] .
    """
    schema = parse_shacl(shacl)
    pruned = full.filter(F.col("pred") == EX + "name")  # rdf:type pruned away
    out = validate_batch(pruned, [(schema, None, "ts")], focus_triples=full).collect()
    by_node = {r["node"].split("/")[-1]: r["status"] for r in out}
    assert by_node == {"t1": "conformant", "t2": "nonconformant"}


def test_batch_falls_back_for_pair_constraints(spark):
    """A single-shape SHACL schema with sh:equals must NOT take the batched
    m/t-count path (which has no set comparison): validate_batch and
    validate must agree (ADVICE r3 high — pair constraints were silently
    dropped by the batched aggregation)."""
    cols = (
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string"
    )
    EX = "http://example.org/"
    tri = spark.createDataFrame(
        [
            ("d1", EX + "a", EX + "given", "literal", "Ann", None, None),
            ("d1", EX + "a", EX + "preferred", "literal", "Ann", None, None),
            ("d1", EX + "b", EX + "given", "literal", "Bob", None, None),
            ("d1", EX + "b", EX + "preferred", "literal", "Robert", None, None),
        ],
        cols,
    )
    schema = parse_shacl(
        f"""
        @prefix sh: <http://www.w3.org/ns/shacl#> .
        @prefix ex: <{EX}> .
        ex:S a sh:NodeShape ; sh:targetSubjectsOf ex:given ;
          sh:property [ sh:path ex:given ; sh:equals ex:preferred ] .
        """
    )
    batch = {
        r["node"].split("/")[-1]: r["status"]
        for r in validate_batch(tri, [(schema, None, "pairs")]).collect()
    }
    seq = {
        r["node"].split("/")[-1]: r["status"]
        for r in validate(tri, schema).collect()
    }
    assert batch == seq == {"a": "conformant", "b": "nonconformant"}


@pytest.mark.parametrize("batched", [True, False])
def test_shapemap_naming_an_undeclared_shape_raises(spark, triples_001, batched):
    """The batched path and validate() reject a shapemap whose shape the
    schema does not declare with the same ValueError."""
    schema = parse_shexc(SHEX_SENSOR)
    smap = "{FOCUS a ex:Reading}@ex:Missing"
    with pytest.raises(ValueError, match="http://example.org/Missing"):
        if batched:
            validate_batch(triples_001, [(schema, smap, "job")])
        else:
            validate(triples_001, schema, shapemap=smap)


@pytest.mark.parametrize("batched", [True, False])
def test_shapemap_start_resolves_in_both_paths(spark, triples_001, batched):
    """``@start`` names the schema's start shape on both paths, and raises
    on both when the schema declares none."""
    run = (
        (lambda s, m: validate_batch(triples_001, [(s, m, "job")]))
        if batched
        else (lambda s, m: validate(triples_001, s, shapemap=m, shape_label="job"))
    )
    with pytest.raises(ValueError, match="no start shape"):
        run(parse_shexc(SHEX_SENSOR), "{FOCUS a ex:Reading}@start")
    started = parse_shexc(
        SHEX_SENSOR.replace("\nex:ValidReading {", "\nstart = @ex:ValidReading\nex:ValidReading {")
    )
    cols = ("doc_sha256", "node", "shape_id", "status")
    got = run(started, "{FOCUS a ex:Reading}@start").select(*cols)
    want = run(started, SHAPEMAP_QUERY).select(*cols)
    assert want.count() > 0
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
