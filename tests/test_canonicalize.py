"""Canonicalization invariants: skolem determinism, literal normalization,
lang/datatype exclusivity, doc-scoped dedup, store partitioning."""

from __future__ import annotations

import re

from rdfshape_api_spark.operators import canonicalize as C


def _raw(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string",
    )


def test_skolem_deterministic_and_doc_scoped(spark):
    rows = [
        ("docA", "_:b1", "http://e/p", "bnode", "_:b2", None, None),
        ("docB", "_:b1", "http://e/p", "iri", "http://e/o", None, None),
    ]
    out1 = {(r["doc_sha256"], r["subj"], r["obj_value"]) for r in C.skolemize(_raw(spark, rows)).collect()}
    out2 = {(r["doc_sha256"], r["subj"], r["obj_value"]) for r in C.skolemize(_raw(spark, rows)).collect()}
    assert out1 == out2  # run-to-run determinism
    subs = {r[0]: r[1] for r in out1}
    assert subs["docA"] != subs["docB"]  # same label, different doc → different id
    assert all(s.startswith("urn:skolem:") for s in subs.values())


def test_skolem_matches_python_reference(spark):
    from rdfshape_api_spark.fixtures.generator import skolem

    rows = [("doc1", "_:x", "http://e/p", "literal", "v", None, None)]
    got = C.skolemize(_raw(spark, rows)).collect()[0]["subj"]
    assert got == skolem("doc1", "_:x")


def test_normalize_literals(spark):
    xsd_dec = "http://www.w3.org/2001/XMLSchema#decimal"
    rows = [
        ("d", "s", "p", "literal", "18.50", None, xsd_dec),
        ("d", "s", "p", "literal", "18.0", None, xsd_dec),
        ("d", "s", "p", "literal", "+007", None, "http://www.w3.org/2001/XMLSchema#integer"),
        ("d", "s", "p", "literal", "-0", None, xsd_dec),
        ("d", "s", "p", "literal", "18.50", None, None),  # not numeric-typed → untouched
    ]
    vals = [r["obj_value"] for r in C.normalize_literals(_raw(spark, rows)).collect()]
    assert vals == ["18.5", "18", "7", "0", "18.50"]


def test_lang_datatype_exclusive_after_canonicalize(spark):
    """RDF/XML with rdf:datatype + xml:lang and RDF/JSON with lang +
    datatype: a typed literal keeps its datatype and drops the language; a
    language-tagged literal keeps no rdf:langString datatype."""
    from rdfshape_api_spark.model import RDF_LANGSTRING, XSD_INTEGER
    from rdfshape_api_spark.sources.extract import extract_triples

    rdfxml = (
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        'xmlns:ex="http://e/">'
        '<rdf:Description rdf:about="http://e/s">'
        f'<ex:n xml:lang="en" rdf:datatype="{XSD_INTEGER}">5</ex:n>'
        '<ex:label xml:lang="en">five</ex:label>'
        "</rdf:Description></rdf:RDF>"
    )
    rdfjson = (
        '{"http://e/s": {'
        f'"http://e/n": [{{"type": "literal", "value": "6", "lang": "en", "datatype": "{XSD_INTEGER}"}}], '
        f'"http://e/label": [{{"type": "literal", "value": "six", "lang": "EN", "datatype": "{RDF_LANGSTRING}"}}]'
        "}}"
    )
    docs = spark.createDataFrame(
        [("r", "a.rdf", "c", "rdfxml", rdfxml), ("r", "a.json", "c", "rdfjson", rdfjson)],
        "repo string, path string, commit string, lang string, content string",
    )
    got = {
        (r["obj_value"], r["obj_lang"], r["obj_datatype"])
        for r in C.canonicalize(extract_triples(docs)).collect()
    }
    assert got == {
        ("5", None, XSD_INTEGER),
        ("five", "en", None),
        ("6", None, XSD_INTEGER),
        ("six", "en", None),
    }


def test_salted_dedup_equivalence(spark):
    """Exact duplicates fold within a document; the same triple in another
    document stays."""
    rows = [("d", "s", "p", "iri", "o", None, None)] * 50 + [
        ("d", "s2", "p", "iri", "o", None, None),
        ("d2", "s", "p", "iri", "o", None, None),
    ]
    out = C.dedup_triples(_raw(spark, rows))
    assert sorted(tuple(r)[:2] for r in out.collect()) == [
        ("d", "s"),
        ("d", "s2"),
        ("d2", "s"),
    ]


def test_store_partitioned_by_predicate(spark, tmp_path):
    rows = [
        ("d", "s", "http://e/ns#type", "iri", "o", None, None),
        ("d", "s", "http://e/ns#name", "literal", "x", None, None),
    ]
    path = str(tmp_path / "store")
    C.write_canonical_store(_raw(spark, rows), path, subj_buckets=2)
    import os

    parts = [p for p in os.listdir(path) if p.startswith("pred_part=")]
    assert len(parts) == 2  # one directory per predicate
    assert C.read_store(spark, path).count() == 2
    # a predicate read must prune partitions: the pred_part literal sits in
    # the scan's PartitionFilters, not just in its column list
    pruned = C.read_store(spark, path, ["http://e/ns#type"])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    filters = re.search(r"PartitionFilters: \[([^\]]*)", plan).group(1)
    assert C.pred_partition_value("http://e/ns#type") in filters
    assert pruned.count() == 1


def test_entity_degree_skew_agg(spark):
    rows = [("d", f"s{i}", "http://e/p", "iri", "hub", None, None) for i in range(100)]
    rows += [("d", "hub", "http://e/p", "literal", "x", None, None)]
    deg = {r["entity"]: r["degree"] for r in C.entity_degree(_raw(spark, rows)).collect()}
    assert deg["hub"] == 101


def test_link_entities_sameas(spark):
    from rdfshape_api_spark.operators.canonicalize import OWL_SAMEAS, link_entities

    E = "http://e/"
    cols = "doc_sha256 string, subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    tri = spark.createDataFrame(
        [
            ("d", E + "b", OWL_SAMEAS, "iri", E + "a", None, None),
            ("d", E + "c", OWL_SAMEAS, "iri", E + "b", None, None),
            ("d", E + "c", E + "name", "literal", "Carl", None, None),
            ("d", E + "x", E + "knows", "iri", E + "b", None, None),
            ("d2", E + "a", E + "age", "literal", "9", None, None),
            ("d2", E + "z", E + "other", "iri", E + "w", None, None),
        ],
        cols,
    )
    out = link_entities(tri)
    rows = {(r["doc_sha256"], r["subj"], r["pred"], r["obj_value"]) for r in out.collect()}
    # a is the lexicographic-min representative of {a, b, c}
    assert ("d", E + "a", E + "name", "Carl") in rows       # subj rewritten
    assert ("d", E + "x", E + "knows", E + "a") in rows     # obj rewritten
    assert ("d2", E + "a", E + "age", "9") in rows          # already canonical
    assert ("d2", E + "z", E + "other", E + "w") in rows    # untouched
    assert not any(r["pred"] == OWL_SAMEAS for r in out.collect())
    assert out.count() == 4


def test_link_entities_explicit_edges(spark):
    from rdfshape_api_spark.operators.canonicalize import link_entities

    E = "http://e/"
    cols = "doc_sha256 string, subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    tri = spark.createDataFrame(
        [("d", E + "q", E + "p", "literal", "v", None, None)], cols
    )
    edges = spark.createDataFrame([(E + "q", E + "m")], "a string, b string")
    out = link_entities(tri, edges=edges)
    assert out.collect()[0]["subj"] == E + "m"


def test_propose_identity_edges_star_and_guard(spark):
    from rdfshape_api_spark.operators.canonicalize import (
        link_entities,
        propose_identity_edges,
    )

    def t(s, p, o):
        return ("d0", s, p, "literal", o, None, None)

    cols = "doc_sha256 string, subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    email = "http://e/email"
    rows = [
        # three entities sharing one email -> star around the min
        t("http://e/a", email, "x@y.z"),
        t("http://e/b", email, "x@y.z"),
        t("http://e/c", email, "x@y.z"),
        # unique email -> no edge
        t("http://e/d", email, "solo@y.z"),
        # hot placeholder value -> dropped by max_group
        t("http://e/p1", email, ""),
        t("http://e/p2", email, ""),
        t("http://e/p3", email, ""),
        t("http://e/p4", email, ""),
    ]
    tri = spark.createDataFrame(rows, cols)
    edges = propose_identity_edges(tri, [email], max_group=3)
    got = {(r["a"], r["b"]) for r in edges.collect()}
    assert got == {("http://e/a", "http://e/b"), ("http://e/a", "http://e/c")}

    # the edges drive link_entities: b and c rewrite to a
    linked = link_entities(tri, edges=edges.select("a", "b"))
    subs = {r["subj"] for r in linked.filter("obj_value = 'x@y.z'").collect()}
    assert subs == {"http://e/a"}


def test_propose_label_edges_jaccard_and_block_guard(spark):
    from rdfshape_api_spark.operators.canonicalize import propose_label_edges

    def t(s, o):
        return ("d0", s, "http://e/label", "literal", o, None, None)

    cols = "doc_sha256 string, subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    rows = [
        # normalization-equal labels -> jaccard 1.0
        t("http://e/acme1", "ACME Corp."),
        t("http://e/acme2", "acme corp"),
        # one extra token: {globex, corp, intl} vs {globex, corp} = 2/3 < 0.8
        t("http://e/glob1", "Globex Corp"),
        t("http://e/glob2", "Globex Corp Intl"),
        # rare-token match with a long shared tail
        t("http://e/z1", "zeta omega kappa systems"),
        t("http://e/z2", "zeta omega kappa systems ltd"),  # 4/5 = 0.8
    ]
    tri = spark.createDataFrame(rows, cols)
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in propose_label_edges(tri, "http://e/label", threshold=0.8).collect()
    }
    assert ("http://e/acme1", "http://e/acme2") in got
    assert got[("http://e/acme1", "http://e/acme2")] == 1.0
    assert ("http://e/glob1", "http://e/glob2") not in got
    assert ("http://e/z1", "http://e/z2") in got
    # with every token hot-capped away, nothing pairs
    assert (
        propose_label_edges(tri, "http://e/label", threshold=0.5, max_block=1).count()
        == 0
    )


def test_connected_components_chain(spark):
    """A 4-vertex chain needs multiple propagation rounds (diameter 3);
    two separate components keep distinct representatives."""
    from rdfshape_api_spark.operators.canonicalize import connected_components

    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("c", "d"), ("x", "y")],
        "doc_a string, doc_b string",
    )
    got = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_connected_components_deep_chain(spark):
    """A 26-edge chain with its min label at one end takes 26 rounds to
    propagate; every vertex ends in the one component."""
    from rdfshape_api_spark.operators.canonicalize import connected_components

    pairs = spark.createDataFrame(
        [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(26)], "doc_a string, doc_b string"
    )
    got = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {f"v{i:02d}": "v00" for i in range(27)}


def test_connected_components_star_and_singleton_free(spark):
    from rdfshape_api_spark.operators.canonicalize import connected_components

    pairs = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(5)], "doc_a string, doc_b string"
    )
    out = connected_components(pairs)
    comps = {r["component"] for r in out.collect()}
    assert comps == {"hub"}
    # only vertices that appear in pairs are emitted (no singleton rows)
    assert out.count() == 6


def test_connected_components_random_graphs_vs_union_find(spark):
    """Property check: the distributed min-label propagation agrees with a
    driver-side union-find on deterministic pseudo-random graphs (chains,
    cliques, forests, cross-links)."""
    import hashlib

    from rdfshape_api_spark.operators.canonicalize import connected_components

    def rnd(seed: str, mod: int) -> int:
        return int(hashlib.sha256(seed.encode()).hexdigest(), 16) % mod

    for trial in range(4):
        n = 30 + trial * 17
        edges = []
        for i in range(n):
            a = f"v{rnd(f'{trial}:{i}:a', n):03d}"
            b = f"v{rnd(f'{trial}:{i}:b', n):03d}"
            if a != b:
                edges.append((a, b))
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        expected: dict[str, str] = {}
        comp_min: dict[str, str] = {}
        for v in parent:
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        for v in parent:
            expected[v] = comp_min[find(v)]

        pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
        got = {
            r["doc_id"]: r["component"]
            for r in connected_components(pairs).collect()
        }
        assert got == expected, f"trial {trial} mismatch"


def _bucket_dirs(path, pred):
    import os

    part = os.path.join(path, f"pred_part={C.pred_partition_value(pred)}")
    return sorted(d for d in os.listdir(part) if d.startswith("bucket="))


def test_store_layout_sized_per_predicate(spark, tmp_path, monkeypatch):
    """A predicate above ``STORE_TARGET_ROWS`` splits into several subject
    buckets; one below it is a single ``bucket=0`` file."""
    monkeypatch.setattr(C, "STORE_TARGET_ROWS", 4)
    hot, cold = "http://e/ns#type", "http://e/ns#name"
    rows = [("d", f"http://e/s{i}", hot, "iri", "http://e/C", None, None) for i in range(40)]
    rows += [("d", "http://e/s0", cold, "literal", "x", None, None)] * 3  # duplicates
    rows += [("d2", "http://e/s0", cold, "literal", "x", None, None)]
    path = str(tmp_path / "store")
    C.write_canonical_store(_raw(spark, rows), path, dedup=True)
    assert len(_bucket_dirs(path, hot)) > 1
    assert _bucket_dirs(path, cold) == ["bucket=0"]
    got = C.read_store(spark, path).select(*["doc_sha256"] + C.TRIPLE_KEY).collect()
    assert sorted(map(tuple, got)) == sorted(set(rows))


def test_store_write_job_count(spark, tmp_path):
    """The per-predicate count that sizes the layout runs no more Spark jobs
    than the distinct-predicate scan it replaced (4 jobs before)."""
    src = str(tmp_path / "src")
    rows = [("d", f"http://e/s{i % 7}", f"http://e/p{i % 3}", "iri", "o", None, None) for i in range(30)]
    _raw(spark, rows).write.parquet(src)
    df = spark.read.parquet(src)
    sc = spark.sparkContext
    group = "test_store_write_job_count"
    sc.setJobGroup(group, group)
    try:
        C.write_canonical_store(df, str(tmp_path / "store"), dedup=True)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) <= 4, jobs
