"""ShEx recursive shape references — the SURVEY §4 fixpoint row."""

from __future__ import annotations

from pyspark.sql import functions as F

from rdfshape_api_spark.plans import parse_shexc, validate

EX = "http://example.org/"

SCHEMA = f"""\
PREFIX ex: <{EX}>
ex:PersonShape {{
  ex:name . ;
  ex:knows @ex:PersonShape *
}}
"""


def _triples(spark, rows):
    cols = ["doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"]
    return spark.createDataFrame(
        [("d", EX + s, EX + p, k, (EX + o if k == "iri" else o), None, None) for s, p, k, o in rows],
        ", ".join(f"{c} string" for c in cols),
    )


def test_mutual_recursion_greatest_fixpoint(spark):
    # a ⇄ b (cycle, both named)        → both conform
    # c → d, d has no name             → d fails, failure propagates to c
    # e stands alone with a name       → conforms
    tri = _triples(
        spark,
        [
            ("a", "name", "literal", "A"),
            ("b", "name", "literal", "B"),
            ("c", "name", "literal", "C"),
            ("e", "name", "literal", "E"),
            ("a", "knows", "iri", "b"),
            ("b", "knows", "iri", "a"),
            ("c", "knows", "iri", "d"),
            ("d", "knows", "iri", "e"),
        ],
    )
    schema = parse_shexc(SCHEMA)
    smap = ", ".join(
        f"<{EX}{n}>@<{EX}PersonShape>" for n in ("a", "b", "c", "d", "e")
    )
    out = {
        r["node"][len(EX):]: r["status"]
        for r in validate(tri, schema, shapemap=smap).collect()
    }
    assert out == {
        "a": "conformant",
        "b": "conformant",
        "c": "nonconformant",  # knows the nameless d
        "d": "nonconformant",  # no ex:name
        "e": "conformant",
    }


def test_self_loop_conforms(spark):
    tri = _triples(
        spark,
        [("x", "name", "literal", "X"), ("x", "knows", "iri", "x")],
    )
    out = validate(
        tri, parse_shexc(SCHEMA), shapemap=f"<{EX}x>@<{EX}PersonShape>"
    ).collect()
    assert out[0]["status"] == "conformant"


def test_acyclic_refs_still_work(spark):
    # non-recursive reference chain keeps the DAG path (no fixpoint)
    schema = parse_shexc(
        f"""PREFIX ex: <{EX}>
ex:A {{ ex:child @ex:B }}
ex:B {{ ex:name . }}
"""
    )
    tri = _triples(
        spark,
        [
            ("p", "child", "iri", "q"),
            ("q", "name", "literal", "Q"),
            ("r", "child", "iri", "s"),
        ],
    )
    out = {
        r["node"][len(EX):]: r["status"]
        for r in validate(
            tri, schema, shapemap=f"<{EX}p>@<{EX}A>, <{EX}r>@<{EX}A>"
        ).collect()
    }
    assert out == {"p": "conformant", "r": "nonconformant"}


def test_acyclic_shape_depending_on_cycle(spark):
    """Root R -> S -> C <-> D: S is acyclic but needs the cycle's fixpoint
    results — must evaluate after the fixpoint, not crash with KeyError."""
    schema = parse_shexc(
        f"""PREFIX ex: <{EX}>
ex:R {{ ex:via @ex:S }}
ex:S {{ ex:member @ex:C }}
ex:C {{ ex:name . ; ex:peer @ex:D ? }}
ex:D {{ ex:name . ; ex:peer @ex:C ? }}
"""
    )
    tri = _triples(
        spark,
        [
            ("r", "via", "iri", "s"),
            ("s", "member", "iri", "c"),
            ("c", "name", "literal", "C"),
            ("c", "peer", "iri", "d"),
            ("d", "name", "literal", "D"),
            ("d", "peer", "iri", "c"),
            # failing branch: r2 -> s2 -> c2 where c2 has no name
            ("r2", "via", "iri", "s2"),
            ("s2", "member", "iri", "c2"),
            ("c2", "peer", "iri", "d"),
        ],
    )
    out = {
        r["node"][len(EX):]: r["status"]
        for r in validate(
            tri, schema, shapemap=f"<{EX}r>@<{EX}R>, <{EX}r2>@<{EX}R>"
        ).collect()
    }
    assert out == {"r": "conformant", "r2": "nonconformant"}


def test_referenced_root_shape(spark):
    """A root shape that is itself referenced by another root must still
    land in conformant_refs (previously skipped because it was a root)."""
    schema = parse_shexc(
        f"""PREFIX ex: <{EX}>
ex:A {{ ex:child @ex:B }}
ex:B {{ ex:name . }}
"""
    )
    tri = _triples(
        spark,
        [
            ("p", "child", "iri", "q"),
            ("q", "name", "literal", "Q"),
        ],
    )
    out = {
        r["node"][len(EX):]: r["status"]
        for r in validate(
            tri, schema, shapemap=f"<{EX}p>@<{EX}A>, <{EX}q>@<{EX}B>"
        ).collect()
    }
    assert out == {"p": "conformant", "q": "conformant"}


def test_negated_ref_to_cycle_from_outside(spark):
    """NOT @ref pointing INTO a cycle from an acyclic shape: evaluated
    post-fixpoint, so the negation sees the final conformant set."""
    schema = parse_shexc(
        f"""PREFIX ex: <{EX}>
ex:R {{ ex:via NOT @ex:C }}
ex:C {{ ex:name . ; ex:peer @ex:D ? }}
ex:D {{ ex:name . ; ex:peer @ex:C ? }}
"""
    )
    tri = _triples(
        spark,
        [
            # c conforms to C (named, peers named) -> r1 via c FAILS (NOT)
            ("r1", "via", "iri", "c"),
            ("c", "name", "literal", "C"),
            ("c", "peer", "iri", "d"),
            ("d", "name", "literal", "D"),
            # x has no name -> not C -> r2 via x conforms
            ("r2", "via", "iri", "x"),
            ("x", "peer", "iri", "c"),
        ],
    )
    out = {
        r["node"][len(EX):]: r["status"]
        for r in validate(
            tri, schema, shapemap=f"<{EX}r1>@<{EX}R>, <{EX}r2>@<{EX}R>"
        ).collect()
    }
    assert out == {"r1": "nonconformant", "r2": "conformant"}


def test_negated_ref_within_cycle_rejected(spark):
    import pytest

    schema = parse_shexc(
        f"""PREFIX ex: <{EX}>
ex:C {{ ex:peer NOT @ex:D }}
ex:D {{ ex:peer @ex:C ? }}
"""
    )
    tri = _triples(spark, [("a", "peer", "iri", "b")])
    with pytest.raises(ValueError, match="not stratifiable"):
        validate(tri, schema, shapemap=f"<{EX}a>@<{EX}C>").collect()


def test_long_chain_runs_the_fixpoint_to_convergence(spark):
    """Nonconformance moves back one hop per fixpoint round, so a 26-node
    chain whose last value is not an integer needs 26 rounds; the loop runs
    until no conformant set shrinks, with no round cap."""
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    n = 26
    rows = [
        ("d", f"{EX}n{i:02d}", EX + "val", "literal", "1" if i < n - 1 else "x",
         None, xsd_int if i < n - 1 else None)
        for i in range(n)
    ] + [
        ("d", f"{EX}n{i:02d}", EX + "next", "iri", f"{EX}n{i + 1:02d}", None, None)
        for i in range(n - 1)
    ]
    cols = ["doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"]
    tri = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))
    schema = parse_shexc(
        f"""PREFIX ex: <{EX}>
PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
ex:Node {{ ex:val xsd:integer ; ex:next @ex:Node ? }}
"""
    )
    smap = ", ".join(f"<{EX}n{i:02d}>@<{EX}Node>" for i in range(n))
    out = {r["node"]: r["status"] for r in validate(tri, schema, shapemap=smap).collect()}
    assert out == {f"{EX}n{i:02d}": "nonconformant" for i in range(n)}


def test_count_capped_ref_within_cycle_rejected(spark):
    """Under EXTRA a value that does not conform is allowed, so a cap on the
    conforming ones fails when more conform: the conformant set of this
    schema over a→b, a→c, b→a, b→d goes {a,b,c,d} → {c,d} → {a,b,c,d} …
    and never settles."""
    import pytest

    schema = parse_shexc(
        f"""PREFIX ex: <{EX}>
ex:S EXTRA ex:next {{ ex:next @ex:S ? }}
"""
    )
    tri = _triples(
        spark,
        [
            ("a", "next", "iri", "b"),
            ("a", "next", "iri", "c"),
            ("b", "next", "iri", "a"),
            ("b", "next", "iri", "d"),
            ("c", "name", "literal", "C"),
            ("d", "name", "literal", "D"),
        ],
    )
    smap = ", ".join(f"<{EX}{n}>@<{EX}S>" for n in "abcd")
    with pytest.raises(ValueError, match="not stratifiable"):
        validate(tri, schema, shapemap=smap).collect()


def test_qualified_max_ref_within_cycle_rejected(spark):
    """sh:qualifiedMaxCount over a shape in the cycle is the SHACL form of
    the same non-monotone cap, over the same oscillating graph."""
    import pytest

    from rdfshape_api_spark.plans import parse_shacl

    schema = parse_shacl(
        f"""@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <{EX}> .
ex:S a sh:NodeShape ; sh:targetSubjectsOf ex:next ;
  sh:property [
    sh:path ex:next ;
    sh:qualifiedValueShape [ sh:node ex:S ] ;
    sh:qualifiedMaxCount 1 ;
  ] .
"""
    )
    tri = _triples(
        spark,
        [
            ("a", "next", "iri", "b"),
            ("a", "next", "iri", "c"),
            ("b", "next", "iri", "a"),
            ("b", "next", "iri", "d"),
            ("c", "name", "literal", "C"),
            ("d", "name", "literal", "D"),
        ],
    )
    with pytest.raises(ValueError, match="not stratifiable"):
        validate(tri, schema).collect()
