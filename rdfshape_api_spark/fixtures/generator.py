"""Deterministic generator for the RDF docs table + golden outputs.

Implements FIXTURES.md: seed=42, docs table ``(repo, path, commit, lang,
content, content_sha256)`` whose content is Turtle / N-Triples / JSON-LD
(60/30/10) rendered from a seeded sensor-reading entity graph — the domain is
the reference's own streaming example
(``/root/reference/docs/api-usage/streaming.md:85-120``), so the golden ShEx
schema is the reference's verbatim.

Goldens are computed **by construction** while rendering, with canonical
lexical forms and skolemized blank nodes, so extraction+canonicalization and
validation both have exact oracles:

* ``expected_triples``  (doc_sha256, subj, pred, obj_kind, obj_value,
  obj_lang, obj_datatype)
* ``expected_verdicts`` (doc_sha256, node, shape_id, status)

Deliberate stress features (FIXTURES.md §2): bnode label collisions across
documents (exercises deterministic skolemization), the popular object
``ex:hub`` on every reading (~15% of triples — skew), per-document prefix
aliasing (``ex:`` vs ``sensor:`` for one namespace), ~1% syntax-error
documents (error channel), repo Zipf skew (10% of repos hold 60% of rows).

Everything is pure Python + pyarrow (no Spark) so generation is fast,
byte-deterministic, and usable from DuckDB oracles.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
EX = "http://example.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
GENERATOR_VERSION = "v2"  # bump to invalidate cached fixture dirs

SF_DOCS = {"sf0.001": 1_000, "sf0.01": 10_000, "sf0.1": 100_000}

STATUSES = ["OK", "RUNNING", "BROKEN"]

# The reference's example ShEx schema, verbatim modulo whitespace
# (docs/api-usage/streaming.md:92).
SHEX_SENSOR = """\
PREFIX ex: <http://example.org/>
PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>

# Filters of a valid sensor reading
ex:ValidReading {
  ex:readingDatetime     xsd:dateTime  ; # Has a VALID timestamp
  ex:readingTemperature xsd:decimal MININCLUSIVE 18 MAXINCLUSIVE 20 + ; # 1+ readings in range 18-20
  ex:status [ "OK" "RUNNING" ] # Status must be one of
}
"""

# Semantic twin in SHACL (TargetDecls trigger, FIXTURES.md §3).
SHACL_SENSOR = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

ex:ValidReadingShape
  a sh:NodeShape ;
  sh:targetClass ex:Reading ;
  sh:property [
    sh:path ex:readingDatetime ;
    sh:datatype xsd:dateTime ;
    sh:minCount 1 ;
    sh:maxCount 1 ;
  ] ;
  sh:property [
    sh:path ex:readingTemperature ;
    sh:datatype xsd:decimal ;
    sh:minCount 1 ;
    sh:minInclusive 18 ;
    sh:maxInclusive 20 ;
  ] ;
  sh:property [
    sh:path ex:status ;
    sh:minCount 1 ;
    sh:maxCount 1 ;
    sh:in ( "OK" "RUNNING" ) ;
  ] .
"""

SHAPEMAP_QUERY = "{FOCUS a ex:Reading}@ex:ValidReading"


def canonical_decimal(lex: str) -> str:
    """Canonical xsd:decimal lexical form (the normalize_literals rules)."""
    s = lex.lstrip("+")
    neg = s.startswith("-")
    if neg:
        s = s[1:]
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    s = s.lstrip("0") or "0"
    if s.startswith("."):
        s = "0" + s
    return ("-" + s) if neg and s != "0" else s


def skolem(doc_sha256: str, label: str) -> str:
    return "urn:skolem:" + hashlib.sha256(f"{doc_sha256}:{label}".encode()).hexdigest()[:32]


class _Reading:
    __slots__ = ("node", "is_bnode", "datetimes", "temps", "statuses", "label", "has_station")

    def __init__(self, node, is_bnode, datetimes, temps, statuses, label, has_station):
        self.node = node
        self.is_bnode = is_bnode
        self.datetimes = datetimes
        self.temps = temps
        self.statuses = statuses
        self.label = label
        self.has_station = has_station

    def conformant(self) -> bool:
        """Golden verdict for ex:ValidReading / ex:ValidReadingShape:
        exactly-1 valid dateTime, 1+ temps all in [18,20], exactly-1 status
        in {OK, RUNNING}. Extra predicates (rdf:type, station, label) are
        outside the shape and ignored by both engines here."""
        if len(self.datetimes) != 1:
            return False
        if not self.temps or any(not (18.0 <= t <= 20.0) for t in self.temps):
            return False
        if len(self.statuses) != 1 or self.statuses[0] not in ("OK", "RUNNING"):
            return False
        return True


def _gen_doc_entities(j: int) -> list[_Reading]:
    rng = random.Random(SEED * 1_000_003 + j)
    readings = []
    for k in range(1 + j % 3):
        r = rng.random()
        if r < 0.10:
            node, is_bnode = f"_:b{k}", True  # labels collide across docs
        elif r < 0.20:
            node, is_bnode = f"{EX}shared{k % 20}", False  # IRIs collide across docs
        else:
            node, is_bnode = f"{EX}reading{j}_{k}", False
        n_dt = 0 if rng.random() < 0.05 else 1
        datetimes = [
            f"2024-08-{1 + rng.randrange(28):02d}T{rng.randrange(24):02d}:"
            f"{rng.randrange(60):02d}:{rng.randrange(60):02d}Z"
            for _ in range(n_dt)
        ]
        n_temp = 1 + rng.randrange(3)
        temps = []
        for _ in range(n_temp):
            if rng.random() < 0.75:
                temps.append(round(18.0 + rng.random() * 2.0, 1))  # in range
            else:
                temps.append(round(15.0 + rng.random() * 8.0, 1))  # maybe out
        statuses = [rng.choices(STATUSES, weights=[45, 35, 20])[0]]
        label = f"Reading {j}_{k}" if rng.random() < 0.5 else None
        readings.append(_Reading(node, is_bnode, datetimes, temps, statuses, label, True))
    return readings


def _temp_lex(t: float) -> str:
    return f"{t:.1f}"


def _render_turtle(readings: list[_Reading], prefix: str) -> str:
    lines = [f"@prefix {prefix}: <{EX}> .", f"@prefix xsd: <{XSD}> .", ""]
    for r in readings:
        subj = r.node if r.is_bnode else f"{prefix}:{r.node[len(EX):]}"
        props = [f"a {prefix}:Reading"]
        for dt in r.datetimes:
            props.append(f'{prefix}:readingDatetime "{dt}"^^xsd:dateTime')
        if r.temps:
            vals = ", ".join(_temp_lex(t) for t in r.temps)
            props.append(f"{prefix}:readingTemperature {vals}")
        for s in r.statuses:
            props.append(f'{prefix}:status "{s}"')
        if r.has_station:
            props.append(f"{prefix}:station {prefix}:hub")
        if r.label:
            props.append(f'{prefix}:label "{r.label}"@en')
        lines.append(subj + " " + " ;\n    ".join(props) + " .")
        lines.append("")
    return "\n".join(lines)


def _render_ntriples(readings: list[_Reading]) -> str:
    out = []
    for r in readings:
        subj = r.node if r.is_bnode else f"<{r.node}>"
        out.append(f"{subj} <{RDF_TYPE}> <{EX}Reading> .")
        for dt in r.datetimes:
            out.append(f'{subj} <{EX}readingDatetime> "{dt}"^^<{XSD}dateTime> .')
        for t in r.temps:
            out.append(f'{subj} <{EX}readingTemperature> "{_temp_lex(t)}"^^<{XSD}decimal> .')
        for s in r.statuses:
            out.append(f'{subj} <{EX}status> "{s}" .')
        if r.has_station:
            out.append(f"{subj} <{EX}station> <{EX}hub> .")
        if r.label:
            out.append(f'{subj} <{EX}label> "{r.label}"@en .')
    return "\n".join(out) + "\n"


def _render_jsonld(readings: list[_Reading], prefix: str) -> str:
    nodes = []
    for r in readings:
        node: dict = {"@id": r.node if r.is_bnode else f"{prefix}:{r.node[len(EX):]}"}
        node["@type"] = f"{prefix}:Reading"
        if r.datetimes:
            node[f"{prefix}:readingDatetime"] = [
                {"@value": dt, "@type": "xsd:dateTime"} for dt in r.datetimes
            ]
        if r.temps:
            node[f"{prefix}:readingTemperature"] = [
                {"@value": _temp_lex(t), "@type": "xsd:decimal"} for t in r.temps
            ]
        for s in r.statuses:
            node[f"{prefix}:status"] = s
        if r.has_station:
            node[f"{prefix}:station"] = {"@id": f"{prefix}:hub"}
        if r.label:
            node[f"{prefix}:label"] = {"@value": r.label, "@language": "en"}
        nodes.append(node)
    doc = {"@context": {prefix: EX, "xsd": XSD}, "@graph": nodes}
    return json.dumps(doc, indent=1, sort_keys=True)


def _golden_triples(readings: list[_Reading], doc_sha: str) -> list[tuple]:
    """Canonical (skolemized, normalized) triples for one document."""
    rows = []
    for r in readings:
        subj = skolem(doc_sha, r.node) if r.is_bnode else r.node
        rows.append((doc_sha, subj, RDF_TYPE, "iri", EX + "Reading", None, None))
        for dt in r.datetimes:
            rows.append((doc_sha, subj, EX + "readingDatetime", "literal", dt, None, XSD + "dateTime"))
        for t in r.temps:
            rows.append(
                (doc_sha, subj, EX + "readingTemperature", "literal",
                 canonical_decimal(_temp_lex(t)), None, XSD + "decimal")
            )
        for s in r.statuses:
            rows.append((doc_sha, subj, EX + "status", "literal", s, None, None))
        if r.has_station:
            rows.append((doc_sha, subj, EX + "station", "iri", EX + "hub", None, None))
        if r.label:
            rows.append((doc_sha, subj, EX + "label", "literal", r.label, "en", None))
    return rows


def _gen_one_doc(j: int):
    """One deterministic document: returns (docs_row_tuple, readings,
    is_error_doc, doc_sha)."""
    rng = random.Random(SEED * 7_777_777 + j)
    if rng.random() < 0.6:
        repo_idx = rng.randrange(10)  # 10% of repos hold 60% of rows
    else:
        repo_idx = 10 + rng.randrange(91)
    repo = f"org{repo_idx % 7}/repo{repo_idx}"
    fmt_roll = rng.random()
    if fmt_roll < 0.6:
        lang, ext = "turtle", "ttl"
    elif fmt_roll < 0.9:
        lang, ext = "ntriples", "nt"
    else:
        lang, ext = "jsonld", "jsonld"
    prefix = "ex" if j % 2 == 0 else "sensor"
    commit = hashlib.sha1(f"{SEED}:{repo}:{j}".encode()).hexdigest()

    readings = _gen_doc_entities(j)
    if lang == "turtle":
        content = _render_turtle(readings, prefix)
    elif lang == "ntriples":
        content = _render_ntriples(readings)
    else:
        content = _render_jsonld(readings, prefix)

    is_error_doc = j % 97 == 13  # ~1%
    if is_error_doc:
        content = content[: int(len(content) * 0.6)] + "\n<truncated"
    doc_sha = hashlib.sha256(content.encode()).hexdigest()
    row = (repo, f"data/{j:06d}.{ext}", commit, lang, content, doc_sha)
    return row, readings, is_error_doc, doc_sha


_DOC_COLS = ("repo", "path", "commit", "lang", "content", "content_sha256")


def generate(sf_tag: str, out_dir: str) -> dict[str, str]:
    """Generate the docs table + goldens for one scale tier. Idempotent."""
    n_docs = SF_DOCS[sf_tag]
    marker = os.path.join(out_dir, f".complete-{GENERATOR_VERSION}-{n_docs}")
    paths = {
        "docs": os.path.join(out_dir, "rdf_documents.parquet"),
        "triples": os.path.join(out_dir, "expected_triples.parquet"),
        "verdicts": os.path.join(out_dir, "expected_verdicts.parquet"),
    }
    if os.path.exists(marker):
        return paths
    os.makedirs(out_dir, exist_ok=True)

    docs_rows = {k: [] for k in ("repo", "path", "commit", "lang", "content", "content_sha256")}
    triple_rows: list[tuple] = []
    verdict_rows: list[tuple] = []

    for j in range(n_docs):
        row, readings, is_error_doc, doc_sha = _gen_one_doc(j)
        for c, v in zip(_DOC_COLS, row):
            docs_rows[c].append(v)

        if not is_error_doc:
            triple_rows.extend(_golden_triples(readings, doc_sha))
            for r in readings:
                node = skolem(doc_sha, r.node) if r.is_bnode else r.node
                status = "conformant" if r.conformant() else "nonconformant"
                verdict_rows.append((doc_sha, node, "shex_sensor", status))
                verdict_rows.append((doc_sha, node, "shacl_sensor", status))

    # small row groups: a single-row-group file is unsplittable for Spark
    # (one task would scan everything — an artifact no real corpus has)
    pq.write_table(pa.table(docs_rows), paths["docs"], row_group_size=4096)
    t_cols = ["doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"]
    pq.write_table(
        pa.table({c: [r[i] for r in triple_rows] for i, c in enumerate(t_cols)},
                 schema=pa.schema([(c, pa.string()) for c in t_cols])),
        paths["triples"],
    )
    v_cols = ["doc_sha256", "node", "shape_id", "status"]
    pq.write_table(
        pa.table({c: [r[i] for r in verdict_rows] for i, c in enumerate(v_cols)},
                 schema=pa.schema([(c, pa.string()) for c in v_cols])),
        paths["verdicts"],
    )
    # schema/shapemap fixture texts alongside the data
    with open(os.path.join(out_dir, "shex_sensor.shex"), "w") as f:
        f.write(SHEX_SENSOR)
    with open(os.path.join(out_dir, "shacl_sensor.ttl"), "w") as f:
        f.write(SHACL_SENSOR)
    with open(os.path.join(out_dir, "shapemap.smap"), "w") as f:
        f.write(SHAPEMAP_QUERY + "\n")
    with open(marker, "w") as f:
        f.write("ok\n")
    return paths


REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
FIXTURES_ROOT = os.path.join(REPO_ROOT, "fixtures")


def sf_tag_from_dir(sf_dir: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return base if base in SF_DOCS else "sf0.01"


def ensure_fixtures(sf: str) -> dict[str, str]:
    """Idempotent fixture materialization for an sf tag or testdata dir."""
    tag = sf if sf in SF_DOCS else sf_tag_from_dir(sf)
    return generate(tag, os.path.join(FIXTURES_ROOT, f"rdf_{tag}"))
