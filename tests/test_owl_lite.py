"""OWL-RL-lite entailment (SURVEY §2.8 — the OWL property-axiom subset)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rdfshape_api_spark.operators.inference import (
    OWL_EQUIV_CLASS,
    OWL_INVERSE_OF,
    OWL_SYMMETRIC,
    OWL_TRANSITIVE,
    apply_inference,
    owl_lite_closure,
)

E = "http://e/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _tri(spark, rows):
    cols = "doc_sha256 string, subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    return spark.createDataFrame([("d", *r) for r in rows], cols)


def _facts(df):
    return {
        (r["subj"], r["pred"], r["obj_value"], r["origin"]) for r in df.collect()
    }


def test_inverse_of(spark):
    tri = _tri(
        spark,
        [
            (E + "childOf", OWL_INVERSE_OF, "iri", E + "parentOf", None, None),
            (E + "a", E + "childOf", "iri", E + "b", None, None),
            (E + "c", E + "parentOf", "iri", E + "d", None, None),
        ],
    )
    facts = _facts(owl_lite_closure(tri))
    assert (E + "b", E + "parentOf", E + "a", "inferred") in facts
    assert (E + "d", E + "childOf", E + "c", "inferred") in facts  # both directions


def test_symmetric(spark):
    tri = _tri(
        spark,
        [
            (E + "knows", RDF_TYPE, "iri", OWL_SYMMETRIC, None, None),
            (E + "a", E + "knows", "iri", E + "b", None, None),
        ],
    )
    facts = _facts(owl_lite_closure(tri))
    assert (E + "b", E + "knows", E + "a", "inferred") in facts


def test_transitive_chain(spark):
    tri = _tri(
        spark,
        [
            (E + "part", RDF_TYPE, "iri", OWL_TRANSITIVE, None, None),
            (E + "a", E + "part", "iri", E + "b", None, None),
            (E + "b", E + "part", "iri", E + "c", None, None),
            (E + "c", E + "part", "iri", E + "d", None, None),
        ],
    )
    facts = _facts(owl_lite_closure(tri))
    assert (E + "a", E + "part", E + "c", "inferred") in facts
    assert (E + "a", E + "part", E + "d", "inferred") in facts  # 2-hop closure
    assert (E + "b", E + "part", E + "d", "inferred") in facts
    # asserted rows keep their origin
    assert (E + "a", E + "part", E + "b", "asserted") in facts


def test_transitive_deep_chain(spark):
    """A 12-edge owl:TransitiveProperty chain closes completely."""
    tri = _tri(
        spark,
        [(E + "part", RDF_TYPE, "iri", OWL_TRANSITIVE, None, None)]
        + [(E + f"v{i:02d}", E + "part", "iri", E + f"v{i + 1:02d}", None, None) for i in range(12)],
    )
    got = {(s, o) for s, p, o, _ in _facts(owl_lite_closure(tri)) if p == E + "part"}
    assert got == {
        (E + f"v{i:02d}", E + f"v{j:02d}") for i in range(13) for j in range(i + 1, 13)
    }


def test_equivalent_class(spark):
    tri = _tri(
        spark,
        [
            (E + "Car", OWL_EQUIV_CLASS, "iri", E + "Automobile", None, None),
            (E + "x", RDF_TYPE, "iri", E + "Car", None, None),
            (E + "y", RDF_TYPE, "iri", E + "Automobile", None, None),
        ],
    )
    facts = _facts(owl_lite_closure(tri))
    assert (E + "x", RDF_TYPE, E + "Automobile", "inferred") in facts
    assert (E + "y", RDF_TYPE, E + "Car", "inferred") in facts


def test_apply_inference_owl_includes_rdfs(spark):
    RDFS_SUB = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    tri = _tri(
        spark,
        [
            (E + "Car", RDFS_SUB, "iri", E + "Vehicle", None, None),
            (E + "Car", OWL_EQUIV_CLASS, "iri", E + "Automobile", None, None),
            (E + "x", RDF_TYPE, "iri", E + "Car", None, None),
        ],
    )
    facts = _facts(apply_inference(tri, "OWL"))
    assert (E + "x", RDF_TYPE, E + "Vehicle", "inferred") in facts  # rdfs9
    assert (E + "x", RDF_TYPE, E + "Automobile", "inferred") in facts  # cax-eqc


def test_swap_preserves_bnode_kind(spark):
    """Inverse/symmetric entailment on non-canonicalized input: a blank-node
    subject moving to object position must keep obj_kind='bnode'."""
    tri = _tri(
        spark,
        [
            (E + "childOf", OWL_INVERSE_OF, "iri", E + "parentOf", None, None),
            ("_:b0", E + "childOf", "iri", E + "x", None, None),
        ],
    )
    out = owl_lite_closure(tri)
    row = out.filter(
        (F.col("pred") == E + "parentOf") & (F.col("obj_value") == "_:b0")
    ).collect()
    assert len(row) == 1 and row[0]["obj_kind"] == "bnode"


def test_transitive_join_respects_full_base(spark):
    """Transitive closure must not join across distinct repo/path/commit
    rows that share a doc_sha256."""
    cols = (
        "repo string, path string, commit string, doc_sha256 string, subj string, "
        "pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    )
    rows = [
        ("r1", "p", "c", "d", E + "part", RDF_TYPE, "iri", OWL_TRANSITIVE, None, None),
        ("r1", "p", "c", "d", E + "a", E + "part", "iri", E + "b", None, None),
        # same doc_sha256 but a different repo: must NOT chain with r1's a->b
        ("r2", "p", "c", "d", E + "b", E + "part", "iri", E + "c", None, None),
    ]
    out = owl_lite_closure(spark.createDataFrame(rows, cols))
    chained = out.filter(
        (F.col("subj") == E + "a") & (F.col("obj_value") == E + "c")
    ).collect()
    assert chained == []


def test_sameas_representative_merge(spark):
    """owl:sameAs closure (eq-sym + representative eq-rep): a 3-member
    identity chain a=b=c collapses onto the lexicographic-min canon; every
    member's triples are entailed in canonical form, the mirrored sameAs
    statements appear, and no reflexive loop is emitted."""
    from rdfshape_api_spark.operators.inference import OWL_SAMEAS, owl_sameas_closure

    tri = _tri(
        spark,
        [
            (E + "b", OWL_SAMEAS, "iri", E + "c", None, None),
            (E + "c", OWL_SAMEAS, "iri", E + "a", None, None),
            (E + "b", E + "temp", "literal", "21.5", None, None),
            (E + "c", E + "status", "iri", E + "OK", None, None),
            (E + "x", E + "ref", "iri", E + "b", None, None),
            (E + "a", E + "name", "literal", "anna", None, None),
        ],
    )
    facts = _facts(owl_sameas_closure(tri))
    # canonical-form entailments (canon = :a, the lexicographic min)
    assert (E + "a", E + "temp", "21.5", "inferred") in facts
    assert (E + "a", E + "status", E + "OK", "inferred") in facts
    assert (E + "x", E + "ref", E + "a", "inferred") in facts
    # eq-sym mirrors
    assert (E + "c", OWL_SAMEAS, E + "b", "inferred") in facts
    assert (E + "a", OWL_SAMEAS, E + "c", "inferred") in facts
    # asserted rows survive unchanged
    assert (E + "b", E + "temp", "21.5", "asserted") in facts
    assert (E + "a", E + "name", "anna", "asserted") in facts
    # no reflexive sameAs loops
    assert not [f for f in facts if f[1] == OWL_SAMEAS and f[0] == f[2]]


def test_apply_inference_owl_includes_sameas(spark):
    from rdfshape_api_spark.operators.inference import OWL_SAMEAS

    tri = _tri(
        spark,
        [
            (E + "b", OWL_SAMEAS, "iri", E + "a", None, None),
            (E + "b", E + "temp", "literal", "21.5", None, None),
        ],
    )
    facts = _facts(apply_inference(tri, "OWL"))
    assert (E + "a", E + "temp", "21.5", "inferred") in facts
    assert (E + "a", OWL_SAMEAS, E + "b", "inferred") in facts


def test_sameas_noop_without_identities(spark):
    """No sameAs statements -> byte-identical passthrough (plus origin)."""
    from rdfshape_api_spark.operators.inference import owl_sameas_closure

    tri = _tri(spark, [(E + "a", E + "p", "iri", E + "b", None, None)])
    facts = _facts(owl_sameas_closure(tri))
    assert facts == {(E + "a", E + "p", E + "b", "asserted")}


def test_sameas_mirror_object_kind_follows_subject(spark):
    """r5 review finding: the eq-sym mirror's object is the ORIGINAL
    subject — a bnode subject mirrored into object position keeps kind
    'bnode' (not the original object's 'iri'), so serializers render it
    as a bnode and the dedup key stays kind-consistent."""
    from rdfshape_api_spark.operators.inference import OWL_SAMEAS, owl_sameas_closure

    tri = _tri(
        spark,
        [("_:b", OWL_SAMEAS, "iri", E + "a", None, None)],
    )
    rows = {
        (r["subj"], r["obj_kind"], r["obj_value"], r["origin"])
        for r in owl_sameas_closure(tri).collect()
    }
    assert (E + "a", "bnode", "_:b", "inferred") in rows
    # and the asserted direction is untouched
    assert ("_:b", "iri", E + "a", "asserted") in rows
