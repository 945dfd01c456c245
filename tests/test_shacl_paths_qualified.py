"""SHACL sh:qualifiedValueShape, non-trivial sh:path, and nested sh:node.

Reference surface: shaclex/TopBraid behind ``SchemaService.scala:80-84``
(qualified cardinality + full SHACL property paths are core features of
both engines).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdfshape_api_spark.plans import parse_shacl, validate

EX = "http://example.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
COLS = (
    "doc_sha256 string, subj string, pred string, obj_kind string, "
    "obj_value string, obj_lang string, obj_datatype string"
)
PFX = f"""
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <{EX}> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
"""


def _tri(spark, rows):
    return spark.createDataFrame(
        [("d1", EX + s, (RDF_TYPE if p == "a" else EX + p), k, (EX + v if k != "literal" else v), None, dt)
         for s, p, k, v, dt in rows],
        COLS,
    )


def _verdicts(df):
    return {r["node"][len(EX):]: r["status"] for r in df.collect()}


def test_qualified_min_count(spark):
    # every Team needs ≥ 2 members that are Leads (but non-Lead members OK)
    schema = parse_shacl(PFX + """
        ex:TeamShape a sh:NodeShape ; sh:targetClass ex:Team ;
          sh:property [
            sh:path ex:member ;
            sh:qualifiedValueShape [ sh:pattern "lead" ] ;
            sh:qualifiedMinCount 2 ;
          ] .
    """)
    tri = _tri(spark, [
        ("t1", "a", "iri", "Team", None),
        ("t1", "member", "iri", "lead_a", None),
        ("t1", "member", "iri", "lead_b", None),
        ("t1", "member", "iri", "dev_c", None),   # non-lead: NOT a violation
        ("t2", "a", "iri", "Team", None),
        ("t2", "member", "iri", "lead_a", None),
        ("t2", "member", "iri", "dev_c", None),
    ])
    assert _verdicts(validate(tri, schema)) == {"t1": "conformant", "t2": "nonconformant"}


def test_qualified_max_count(spark):
    schema = parse_shacl(PFX + """
        ex:S a sh:NodeShape ; sh:targetClass ex:Team ;
          sh:property [
            sh:path ex:member ;
            sh:qualifiedValueShape [ sh:pattern "lead" ] ;
            sh:qualifiedMaxCount 1 ;
          ] .
    """)
    tri = _tri(spark, [
        ("t1", "a", "iri", "Team", None),
        ("t1", "member", "iri", "lead_a", None),
        ("t1", "member", "iri", "lead_b", None),
        ("t2", "a", "iri", "Team", None),
        ("t2", "member", "iri", "lead_a", None),
        ("t2", "member", "iri", "dev_c", None),
    ])
    assert _verdicts(validate(tri, schema)) == {"t1": "nonconformant", "t2": "conformant"}


def test_qualified_alongside_plain_mincount(spark):
    # plain sh:minCount on ALL values + qualified count on lead values
    schema = parse_shacl(PFX + """
        ex:S a sh:NodeShape ; sh:targetClass ex:Team ;
          sh:property [
            sh:path ex:member ; sh:minCount 3 ;
            sh:qualifiedValueShape [ sh:pattern "lead" ] ;
            sh:qualifiedMinCount 1 ;
          ] .
    """)
    tri = _tri(spark, [
        ("t1", "a", "iri", "Team", None),  # 3 members, 1 lead → ok
        ("t1", "member", "iri", "lead_a", None),
        ("t1", "member", "iri", "dev_b", None),
        ("t1", "member", "iri", "dev_c", None),
        ("t2", "a", "iri", "Team", None),  # 2 members → minCount fails
        ("t2", "member", "iri", "lead_a", None),
        ("t2", "member", "iri", "dev_b", None),
        ("t3", "a", "iri", "Team", None),  # 3 members, 0 leads → qualified fails
        ("t3", "member", "iri", "dev_a", None),
        ("t3", "member", "iri", "dev_b", None),
        ("t3", "member", "iri", "dev_c", None),
    ])
    assert _verdicts(validate(tri, schema)) == {
        "t1": "conformant", "t2": "nonconformant", "t3": "nonconformant"
    }


def test_qualified_node_reference(spark):
    # qualified shape IS a shape reference: ≥1 address must conform to ex:DE
    schema = parse_shacl(PFX + """
        ex:S a sh:NodeShape ; sh:targetClass ex:Person ;
          sh:property [
            sh:path ex:address ;
            sh:qualifiedValueShape [ sh:node ex:DE ] ;
            sh:qualifiedMinCount 1 ;
          ] .
        ex:DE a sh:NodeShape ;
          sh:property [ sh:path ex:country ; sh:minCount 1 ; sh:pattern "germany" ] .
    """)
    tri = _tri(spark, [
        ("p1", "a", "iri", "Person", None),
        ("p1", "address", "iri", "a1", None),
        ("p1", "address", "iri", "a2", None),
        ("a1", "country", "literal", "germany", None),
        ("a2", "country", "literal", "france", None),
        ("p2", "a", "iri", "Person", None),
        ("p2", "address", "iri", "a2", None),
    ])
    v = _verdicts(validate(tri, schema))
    assert v["p1"] == "conformant" and v["p2"] == "nonconformant"


def test_sequence_path(spark):
    # value of ex:address/ex:city must match "berlin"
    schema = parse_shacl(PFX + """
        ex:S a sh:NodeShape ; sh:targetClass ex:Person ;
          sh:property [ sh:path ( ex:address ex:city ) ;
                        sh:minCount 1 ; sh:pattern "berlin" ] .
    """)
    tri = _tri(spark, [
        ("p1", "a", "iri", "Person", None),
        ("p1", "address", "iri", "a1", None),
        ("a1", "city", "literal", "berlin", None),
        ("p2", "a", "iri", "Person", None),
        ("p2", "address", "iri", "a2", None),
        ("a2", "city", "literal", "paris", None),
        ("p3", "a", "iri", "Person", None),   # no address at all → minCount
    ])
    assert _verdicts(validate(tri, schema)) == {
        "p1": "conformant", "p2": "nonconformant", "p3": "nonconformant"
    }


def test_alternative_path(spark):
    schema = parse_shacl(PFX + """
        ex:S a sh:NodeShape ; sh:targetClass ex:Doc ;
          sh:property [ sh:path [ sh:alternativePath ( ex:author ex:editor ) ] ;
                        sh:minCount 1 ] .
    """)
    tri = _tri(spark, [
        ("d_a", "a", "iri", "Doc", None),
        ("d_a", "author", "iri", "x", None),
        ("d_b", "a", "iri", "Doc", None),
        ("d_b", "editor", "iri", "y", None),
        ("d_c", "a", "iri", "Doc", None),
    ])
    assert _verdicts(validate(tri, schema)) == {
        "d_a": "conformant", "d_b": "conformant", "d_c": "nonconformant"
    }


def test_zero_or_more_path(spark):
    # every node reachable via ex:part* (including the focus itself) must
    # match the pattern — focus f_bad itself fails the zero-length check
    schema = parse_shacl(PFX + """
        ex:S a sh:NodeShape ; sh:targetClass ex:Asm ;
          sh:property [ sh:path [ sh:zeroOrMorePath ex:part ] ;
                        sh:pattern "good|Asm|asm" ] .
    """)
    tri = _tri(spark, [
        ("good_asm", "a", "iri", "Asm", None),
        ("good_asm", "part", "iri", "good_1", None),
        ("good_1", "part", "iri", "good_2", None),
        ("bad_asm", "a", "iri", "Asm", None),
        ("bad_asm", "part", "iri", "good_1", None),
        ("bad_asm", "part", "iri", "evil_1", None),
    ])
    v = _verdicts(validate(tri, schema))
    assert v["good_asm"] == "conformant" and v["bad_asm"] == "nonconformant"


def test_zero_or_more_path_deep_chain(spark):
    """sh:zeroOrMorePath over a 12-edge chain reaches every node."""
    from rdfshape_api_spark.plans.paths import PathClosure, PathPred, path_rows

    tri = _tri(spark, [(f"v{i:02d}", "part", "iri", f"v{i + 1:02d}", None) for i in range(12)])
    focus = spark.createDataFrame([("d1", EX + "v00")], "doc_sha256 string, node string")
    rows = path_rows(tri, PathClosure(PathPred(EX + "part"), 0, None), ["doc_sha256"], focus)
    assert {r["obj_value"] for r in rows.collect()} == {EX + f"v{i:02d}" for i in range(13)}


def test_one_or_more_path_mincount(spark):
    schema = parse_shacl(PFX + """
        ex:S a sh:NodeShape ; sh:targetClass ex:Asm ;
          sh:property [ sh:path [ sh:oneOrMorePath ex:part ] ; sh:minCount 2 ] .
    """)
    tri = _tri(spark, [
        ("a1", "a", "iri", "Asm", None),
        ("a1", "part", "iri", "p1", None),
        ("p1", "part", "iri", "p2", None),   # a1 reaches p1, p2 → 2 ok
        ("a2", "a", "iri", "Asm", None),
        ("a2", "part", "iri", "p9", None),   # reaches only p9 → fail
    ])
    assert _verdicts(validate(tri, schema)) == {
        "a1": "conformant", "a2": "nonconformant"
    }


def test_nested_inverse_in_sequence(spark):
    # path ( ex:worksFor [ sh:inversePath ex:worksFor ] ): colleagues —
    # people sharing an employer with the focus; all must match "emp"
    schema = parse_shacl(PFX + """
        ex:S a sh:NodeShape ; sh:targetClass ex:Person ;
          sh:property [
            sh:path ( ex:worksFor [ sh:inversePath ex:worksFor ] ) ;
            sh:minCount 1 ; sh:pattern "emp" ;
          ] .
    """)
    tri = _tri(spark, [
        ("emp_a", "a", "iri", "Person", None),
        ("emp_a", "worksFor", "iri", "acme", None),
        ("emp_b", "worksFor", "iri", "acme", None),
        ("spy_c", "a", "iri", "Person", None),
        ("spy_c", "worksFor", "iri", "octan", None),
        ("spy_d", "worksFor", "iri", "octan", None),
    ])
    v = _verdicts(validate(tri, schema))
    # emp_a's colleagues: emp_a, emp_b — all match "emp" → conformant
    # spy_c's colleagues: spy_c, spy_d — no "emp" → nonconformant
    assert v["emp_a"] == "conformant" and v["spy_c"] == "nonconformant"


def test_node_inside_or(spark):
    # each contact must be EITHER a literal email OR a node conforming to
    # ex:AddrShape
    schema = parse_shacl(PFX + """
        ex:S a sh:NodeShape ; sh:targetClass ex:Person ;
          sh:property [
            sh:path ex:contact ; sh:minCount 1 ;
            sh:or ( [ sh:nodeKind sh:Literal ] [ sh:node ex:AddrShape ] ) ;
          ] .
        ex:AddrShape a sh:NodeShape ;
          sh:property [ sh:path ex:city ; sh:minCount 1 ] .
    """)
    tri = _tri(spark, [
        ("p1", "a", "iri", "Person", None),
        ("p1", "contact", "literal", "a@b.c", None),
        ("p2", "a", "iri", "Person", None),
        ("p2", "contact", "iri", "addr1", None),
        ("addr1", "city", "literal", "x", None),
        ("p3", "a", "iri", "Person", None),
        ("p3", "contact", "iri", "addr2", None),   # addr2 has no city
    ])
    assert _verdicts(validate(tri, schema)) == {
        "p1": "conformant", "p2": "conformant", "p3": "nonconformant"
    }


def test_node_inside_not(spark):
    # no contact may conform to ex:Blacklisted
    schema = parse_shacl(PFX + """
        ex:S a sh:NodeShape ; sh:targetClass ex:Person ;
          sh:property [
            sh:path ex:contact ;
            sh:not [ sh:node ex:Black ] ;
          ] .
        ex:Black a sh:NodeShape ;
          sh:property [ sh:path ex:banned ; sh:minCount 1 ] .
    """)
    tri = _tri(spark, [
        ("p1", "a", "iri", "Person", None),
        ("p1", "contact", "iri", "c_ok", None),
        ("p2", "a", "iri", "Person", None),
        ("p2", "contact", "iri", "c_bad", None),
        ("c_bad", "banned", "literal", "yes", None),
    ])
    assert _verdicts(validate(tri, schema)) == {
        "p1": "conformant", "p2": "nonconformant"
    }


def test_node_under_inverse_path(spark):
    # everything POINTING AT the focus via ex:owns must conform to ex:Emp
    schema = parse_shacl(PFX + """
        ex:S a sh:NodeShape ; sh:targetClass ex:Car ;
          sh:property [
            sh:path [ sh:inversePath ex:owns ] ;
            sh:minCount 1 ; sh:node ex:Emp ;
          ] .
        ex:Emp a sh:NodeShape ;
          sh:property [ sh:path ex:badge ; sh:minCount 1 ] .
    """)
    tri = _tri(spark, [
        ("car1", "a", "iri", "Car", None),
        ("u1", "owns", "iri", "car1", None),
        ("u1", "badge", "literal", "b1", None),
        ("car2", "a", "iri", "Car", None),
        ("u2", "owns", "iri", "car2", None),   # u2 has no badge
    ])
    assert _verdicts(validate(tri, schema)) == {
        "car1": "conformant", "car2": "nonconformant"
    }


def test_qualified_requires_bounds(spark):
    with pytest.raises(ValueError, match="qualifiedMinCount"):
        parse_shacl(PFX + """
            ex:S a sh:NodeShape ; sh:targetClass ex:T ;
              sh:property [ sh:path ex:p ;
                            sh:qualifiedValueShape [ sh:pattern "x" ] ] .
        """)


HAND = PFX + """
    ex:HandShape a sh:NodeShape ; sh:targetClass ex:Hand ;
      sh:property [
        sh:path ex:digit ;
        sh:qualifiedValueShape [ sh:pattern "thumb" ] ;
        sh:qualifiedMinCount 1 ; sh:qualifiedMaxCount 1 ;
      ] ;
      sh:property [
        sh:path ex:digit ;
        sh:qualifiedValueShape [ sh:nodeKind sh:IRI ] ;
        sh:qualifiedMinCount 4 ; sh:qualifiedMaxCount 4 ;
        sh:qualifiedValueShapesDisjoint true ;
      ] .
"""


def test_qualified_disjoint_excludes_sibling_values(spark):
    # SHACL spec §4.7 hand example: the finger count (any IRI) must EXCLUDE
    # values conforming to the sibling thumb shape — without the exclusion
    # h1 would count 5 "fingers" and violate qualifiedMaxCount 4
    tri = _tri(spark, [
        ("h1", "a", "iri", "Hand", None),
        ("h1", "digit", "iri", "thumb_1", None),
        *[("h1", "digit", "iri", f"finger_{i}", None) for i in range(1, 5)],
        # h2: two thumbs (violates thumb max 1) and only 3 other digits
        ("h2", "a", "iri", "Hand", None),
        ("h2", "digit", "iri", "thumb_1", None),
        ("h2", "digit", "iri", "thumb_2", None),
        *[("h2", "digit", "iri", f"finger_{i}", None) for i in range(1, 4)],
    ])
    assert _verdicts(validate(tri, parse_shacl(HAND))) == {
        "h1": "conformant", "h2": "nonconformant"
    }


def test_qualified_disjoint_sibling_underflow(spark):
    # h3: 4 digits total, one a thumb — finger count 3 < 4 → nonconformant
    tri = _tri(spark, [
        ("h3", "a", "iri", "Hand", None),
        ("h3", "digit", "iri", "thumb_1", None),
        *[("h3", "digit", "iri", f"finger_{i}", None) for i in range(1, 4)],
    ])
    assert _verdicts(validate(tri, parse_shacl(HAND))) == {"h3": "nonconformant"}


def test_qualified_disjoint_node_ref_over_inverse_path(spark):
    # r3's last clean reject, lifted in r4: disjoint qualified siblings
    # carrying sh:node over an INVERSE path — the sibling's value shape
    # evaluates against this constraint's own (inverse) neighbourhood via
    # a dedicated conformance join (plans/validate._sib_reqs)
    schema = parse_shacl(PFX + """
        ex:ManagerShape a sh:NodeShape ;
          sh:property [ sh:path ex:rank ; sh:minCount 1 ; sh:in ( "mgr" ) ] .
        ex:TeamShape a sh:NodeShape ; sh:targetClass ex:Team ;
          sh:property [ sh:path [ sh:inversePath ex:memberOf ] ;
                        sh:qualifiedValueShape [ sh:node ex:ManagerShape ] ;
                        sh:qualifiedMinCount 1 ;
                        sh:qualifiedValueShapesDisjoint true ] ;
          sh:property [ sh:path [ sh:inversePath ex:memberOf ] ;
                        sh:qualifiedValueShape [ sh:pattern "dev" ] ;
                        sh:qualifiedMinCount 2 ;
                        sh:qualifiedValueShapesDisjoint true ] .
    """)
    tri = _tri(spark, [
        # t1: one manager + two devs pointing AT the team → conformant
        ("t1", "a", "iri", "Team", None),
        ("boss1", "memberOf", "iri", "t1", None),
        ("boss1", "rank", "literal", "mgr", None),
        ("dev_a", "memberOf", "iri", "t1", None),
        ("dev_b", "memberOf", "iri", "t1", None),
        # t2: the would-be second dev ALSO conforms to ManagerShape —
        # disjointness excludes it from the dev count → nonconformant
        ("t2", "a", "iri", "Team", None),
        ("boss2", "memberOf", "iri", "t2", None),
        ("boss2", "rank", "literal", "mgr", None),
        ("dev_c", "memberOf", "iri", "t2", None),
        ("dev_mgr", "memberOf", "iri", "t2", None),
        ("dev_mgr", "rank", "literal", "mgr", None),
    ])
    assert _verdicts(validate(tri, schema)) == {
        "t1": "conformant", "t2": "nonconformant"
    }


def test_qualified_disjoint_node_ref_over_sequence_path(spark):
    # …and over a non-trivial (sequence) path: grandchild values, where
    # the qualified count must exclude values conforming to the sh:class
    # sibling
    schema = parse_shacl(PFX + """
        ex:S a sh:NodeShape ; sh:targetClass ex:Root ;
          sh:property [ sh:path ( ex:child ex:child ) ;
                        sh:qualifiedValueShape [ sh:class ex:Special ] ;
                        sh:qualifiedMinCount 1 ;
                        sh:qualifiedValueShapesDisjoint true ] ;
          sh:property [ sh:path ( ex:child ex:child ) ;
                        sh:qualifiedValueShape [ sh:pattern "g[0-9]" ] ;
                        sh:qualifiedMinCount 2 ;
                        sh:qualifiedValueShapesDisjoint true ] .
    """)
    tri = _tri(spark, [
        # r1: grandchildren = {g_sp (Special), g1, g2} → special 1, plain 2
        ("r1", "a", "iri", "Root", None),
        ("r1", "child", "iri", "c1", None),
        ("c1", "child", "iri", "g_sp", None),
        ("g_sp", "a", "iri", "Special", None),
        ("c1", "child", "iri", "g1", None),
        ("r1", "child", "iri", "c2", None),
        ("c2", "child", "iri", "g2", None),
        # r2: only ONE plain grandchild after excluding the Special one
        ("r2", "a", "iri", "Root", None),
        ("r2", "child", "iri", "c3", None),
        ("c3", "child", "iri", "g_sp2", None),
        ("g_sp2", "a", "iri", "Special", None),
        ("c3", "child", "iri", "g3", None),
    ])
    assert _verdicts(validate(tri, schema)) == {
        "r1": "conformant", "r2": "nonconformant"
    }


RDFS_SUBCLASSOF = "http://www.w3.org/2000/01/rdf-schema#subClassOf"


def test_sh_class(spark):
    # every ex:pet value must be a SHACL instance of ex:Animal (subclass
    # closure: ex:Dog ⊑ ex:Animal)
    schema = parse_shacl(PFX + """
        ex:S a sh:NodeShape ; sh:targetClass ex:Person ;
          sh:property [ sh:path ex:pet ; sh:class ex:Animal ] .
    """)
    rows = [
        ("d1", EX + "p1", RDF_TYPE, "iri", EX + "Person", None, None),
        ("d1", EX + "p1", EX + "pet", "iri", EX + "rex", None, None),
        ("d1", EX + "rex", RDF_TYPE, "iri", EX + "Dog", None, None),
        ("d1", EX + "Dog", RDFS_SUBCLASSOF, "iri", EX + "Animal", None, None),
        ("d1", EX + "p2", RDF_TYPE, "iri", EX + "Person", None, None),
        ("d1", EX + "p2", EX + "pet", "iri", EX + "rock1", None, None),
        ("d1", EX + "rock1", RDF_TYPE, "iri", EX + "Mineral", None, None),
    ]
    tri = spark.createDataFrame(rows, COLS)
    assert _verdicts(validate(tri, schema)) == {
        "p1": "conformant", "p2": "nonconformant"
    }


def test_sh_class_inside_or(spark):
    schema = parse_shacl(PFX + """
        ex:S a sh:NodeShape ; sh:targetClass ex:Person ;
          sh:property [ sh:path ex:pet ;
                        sh:or ( [ sh:class ex:Animal ] [ sh:nodeKind sh:Literal ] ) ] .
    """)
    rows = [
        ("d1", EX + "p1", RDF_TYPE, "iri", EX + "Person", None, None),
        ("d1", EX + "p1", EX + "pet", "literal", "imaginary", None, None),
        ("d1", EX + "p2", RDF_TYPE, "iri", EX + "Person", None, None),
        ("d1", EX + "p2", EX + "pet", "iri", EX + "thing", None, None),
    ]
    tri = spark.createDataFrame(rows, COLS)
    assert _verdicts(validate(tri, schema)) == {
        "p1": "conformant", "p2": "nonconformant"
    }


def test_sh_has_value(spark):
    # the value set must INCLUDE ex:admin — other values never violate
    schema = parse_shacl(PFX + """
        ex:S a sh:NodeShape ; sh:targetClass ex:Acl ;
          sh:property [ sh:path ex:grants ; sh:hasValue ex:admin ] .
    """)
    rows = [
        ("d1", EX + "a1", RDF_TYPE, "iri", EX + "Acl", None, None),
        ("d1", EX + "a1", EX + "grants", "iri", EX + "admin", None, None),
        ("d1", EX + "a1", EX + "grants", "iri", EX + "guest", None, None),
        ("d1", EX + "a2", RDF_TYPE, "iri", EX + "Acl", None, None),
        ("d1", EX + "a2", EX + "grants", "iri", EX + "guest", None, None),
    ]
    tri = spark.createDataFrame(rows, COLS)
    assert _verdicts(validate(tri, schema)) == {
        "a1": "conformant", "a2": "nonconformant"
    }


def test_sh_language_in(spark):
    schema = parse_shacl(PFX + """
        ex:S a sh:NodeShape ; sh:targetClass ex:Doc ;
          sh:property [ sh:path ex:label ; sh:languageIn ( "en" "de" ) ] .
    """)
    cols = COLS
    rows = [
        ("d1", EX + "doc_ok", RDF_TYPE, "iri", EX + "Doc", None, None),
        ("d1", EX + "doc_bad", RDF_TYPE, "iri", EX + "Doc", None, None),
    ]
    tri = spark.createDataFrame(rows, cols).unionByName(
        spark.createDataFrame(
            [
                ("d1", EX + "doc_ok", EX + "label", "literal", "hello", "en", None),
                ("d1", EX + "doc_ok", EX + "label", "literal", "servus", "de-AT".lower(), None),
                ("d1", EX + "doc_bad", EX + "label", "literal", "bonjour", "fr", None),
            ],
            cols,
        )
    )
    assert _verdicts(validate(tri, schema)) == {
        "doc_ok": "conformant", "doc_bad": "nonconformant"
    }


def test_sh_unique_lang(spark):
    schema = parse_shacl(PFX + """
        ex:S a sh:NodeShape ; sh:targetClass ex:Doc ;
          sh:property [ sh:path ex:label ; sh:uniqueLang true ] .
    """)
    rows = [
        ("d1", EX + "doc_ok", RDF_TYPE, "iri", EX + "Doc", None, None),
        ("d1", EX + "doc_dup", RDF_TYPE, "iri", EX + "Doc", None, None),
    ]
    tri = spark.createDataFrame(rows, COLS).unionByName(
        spark.createDataFrame(
            [
                ("d1", EX + "doc_ok", EX + "label", "literal", "hi", "en", None),
                ("d1", EX + "doc_ok", EX + "label", "literal", "hallo", "de", None),
                ("d1", EX + "doc_dup", EX + "label", "literal", "hi", "en", None),
                ("d1", EX + "doc_dup", EX + "label", "literal", "hey", "en", None),
            ],
            COLS,
        )
    )
    assert _verdicts(validate(tri, schema)) == {
        "doc_ok": "conformant", "doc_dup": "nonconformant"
    }


def test_closed_with_ignored_properties(spark):
    # sh:closed + sh:ignoredProperties (rdf:type): typed nodes stay
    # conformant, nodes with a genuinely unmentioned predicate do not
    schema = parse_shacl(PFX + """
        @prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
        ex:S a sh:NodeShape ; sh:targetClass ex:Thing ;
          sh:closed true ; sh:ignoredProperties ( rdf:type ) ;
          sh:property [ sh:path ex:name ; sh:minCount 1 ] .
    """)
    tri = _tri(spark, [
        ("t1", "a", "iri", "Thing", None),
        ("t1", "name", "literal", "ok", None),
        ("t2", "a", "iri", "Thing", None),
        ("t2", "name", "literal", "bad", None),
        ("t2", "extra", "literal", "x", None),
    ])
    assert _verdicts(validate(tri, schema)) == {
        "t1": "conformant", "t2": "nonconformant"
    }


def test_closed_with_sequence_path(spark):
    # SHACL §4.8.1: sh:closed ranges over the IRI sh:path values only — a
    # sequence-path property shape contributes nothing to the allowed set,
    # so its first predicate must be explicitly allowed (here: ignored)
    from rdfshape_api_spark.plans import validate
    from rdfshape_api_spark.plans.shacl import parse_shacl

    E = "http://e/"
    shapes = f"""
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <{E}> .
    ex:S a sh:NodeShape ;
      sh:targetSubjectsOf ex:name ;
      sh:closed true ;
      sh:ignoredProperties ( ex:knows ) ;
      sh:property [ sh:path ex:name ; sh:minCount 1 ] ;
      sh:property [ sh:path ( ex:knows ex:email ) ; sh:minCount 1 ] .
    """
    cols = "doc_sha256 string, subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    tri = spark.createDataFrame(
        [
            # a: name + knows→b (b has email) → conformant (knows ignored)
            ("d", E + "a", E + "name", "literal", "A", None, None),
            ("d", E + "a", E + "knows", "iri", E + "b", None, None),
            ("d", E + "b", E + "email", "literal", "b@x", None, None),
            # c: extra unmentioned predicate ex:age → closed violation
            ("d", E + "c", E + "name", "literal", "C", None, None),
            ("d", E + "c", E + "knows", "iri", E + "b", None, None),
            ("d", E + "c", E + "age", "literal", "9", None, None),
        ],
        cols,
    )
    out = {r["node"][-1]: r["status"] for r in validate(tri, parse_shacl(shapes)).collect()}
    assert out == {"a": "conformant", "c": "nonconformant"}


def test_disjoint_qualified_with_node_refs(spark):
    # spec §4.7 canonical example: a Person needs one parent conforming to
    # MotherShape and one to FatherShape, disjoint — the same parent cannot
    # count for both. Siblings carry sh:node, resolved via conformance
    # joins in the same forward aggregation.
    from rdfshape_api_spark.plans import validate
    from rdfshape_api_spark.plans.shacl import parse_shacl

    E = "http://e/"
    shapes = f"""
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <{E}> .
    ex:PersonShape a sh:NodeShape ;
      sh:targetSubjectsOf ex:parent ;
      sh:property [ sh:path ex:parent ;
        sh:qualifiedValueShape [ sh:node ex:MotherShape ] ;
        sh:qualifiedMinCount 1 ; sh:qualifiedValueShapesDisjoint true ] ;
      sh:property [ sh:path ex:parent ;
        sh:qualifiedValueShape [ sh:node ex:FatherShape ] ;
        sh:qualifiedMinCount 1 ; sh:qualifiedValueShapesDisjoint true ] .
    ex:MotherShape a sh:NodeShape ;
      sh:property [ sh:path ex:gender ; sh:minCount 1 ; sh:in ( "f" ) ] .
    ex:FatherShape a sh:NodeShape ;
      sh:property [ sh:path ex:gender ; sh:minCount 1 ; sh:in ( "m" ) ] .
    """
    cols = "doc_sha256 string, subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    tri = spark.createDataFrame(
        [
            # ok: two parents, one f one m
            ("d", E + "ok", E + "parent", "iri", E + "mom", None, None),
            ("d", E + "ok", E + "parent", "iri", E + "dad", None, None),
            ("d", E + "mom", E + "gender", "literal", "f", None, None),
            ("d", E + "dad", E + "gender", "literal", "m", None, None),
            # twoMoms: both parents f → FatherShape count 0 → nonconformant
            ("d", E + "twoMoms", E + "parent", "iri", E + "mom", None, None),
            ("d", E + "twoMoms", E + "parent", "iri", E + "mom2", None, None),
            ("d", E + "mom2", E + "gender", "literal", "f", None, None),
            # both: single parent conforming to BOTH shapes (genders f and m)
            # — disjointness excludes it from both counts → nonconformant
            ("d", E + "amb", E + "parent", "iri", E + "fm", None, None),
            ("d", E + "fm", E + "gender", "literal", "f", None, None),
            ("d", E + "fm", E + "gender", "literal", "m", None, None),
        ],
        cols,
    )
    out = {
        r["node"].rsplit("/", 1)[-1]: r["status"]
        for r in validate(tri, parse_shacl(shapes)).collect()
    }
    assert out["ok"] == "conformant"
    assert out["twoMoms"] == "nonconformant"
    assert out["amb"] == "nonconformant"
