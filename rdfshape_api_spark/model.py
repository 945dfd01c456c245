"""Core data model: the flat columnar triple schema and RDF constants.

Reference semantics (SURVEY.md §1.1): an RDF triple is
``(subj ∈ IRI∪BNode, pred ∈ IRI, obj ∈ IRI∪BNode∪Literal)`` where a literal
carries ``(lexicalForm, lang?)`` or ``(lexicalForm, datatypeIRI)`` — the
two-way branch is explicit in the reference converter
``modules/server/.../html2rdf/HtmlToRdf.scala:166-174``.  Blank-node identity
is per-document (``HtmlToRdf.scala:176-177``), which is why the engine
skolemizes deterministically (see :mod:`rdfshape_api_spark.operators.canonicalize`).

The engine's one fixed columnar schema (no nested types → full codegen,
parquet column pruning, predicate pushdown):

    repo, path, commit, doc_sha256,
    subj, pred, obj_kind ('iri'|'bnode'|'literal'), obj_value,
    obj_lang, obj_datatype

Scale note: the canonical store is written partitioned by ``pred`` (north
rule) with a ``bucket`` sub-key = ``pmod(hash(subj), nb_p)``, ``nb_p`` sized
from the predicate's row count, so hot predicates (``rdf:type``) do not
become single giant partitions (``STORE_SCHEMA``, ``STORE_TARGET_ROWS``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- namespaces -------------------------------------------------------------
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
XSD = "http://www.w3.org/2001/XMLSchema#"
SH = "http://www.w3.org/ns/shacl#"
RDF_TYPE = RDF + "type"
RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"
RDFS_SUBCLASSOF = RDFS + "subClassOf"
RDFS_SUBPROPERTYOF = RDFS + "subPropertyOf"
RDFS_DOMAIN = RDFS + "domain"
RDFS_RANGE = RDFS + "range"
XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"
XSD_DOUBLE = XSD + "double"
XSD_BOOLEAN = XSD + "boolean"
XSD_DATETIME = XSD + "dateTime"
RDF_LANGSTRING = RDF + "langString"

# --- object kinds -----------------------------------------------------------
KIND_IRI = "iri"
KIND_BNODE = "bnode"
KIND_LITERAL = "literal"

# Skolem IRI prefix: deterministic per (doc_sha256, bnode label).
SKOLEM_PREFIX = "urn:skolem:"

# --- input schema (BASELINE.json input_hint) --------------------------------
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
    ]
)

# --- raw extraction output (pre-skolemization, with error channel) ----------
# One row per extracted triple; a document that fails to parse yields exactly
# one row with subj/pred/obj NULL and `error` set (per-row error channel
# instead of whole-job failure — contrast the reference, where bad syntax
# fails the request: DataSingle.scala:78-93).
RAW_TRIPLE_FIELDS = [
    T.StructField("repo", T.StringType(), True),
    T.StructField("path", T.StringType(), True),
    T.StructField("commit", T.StringType(), True),
    T.StructField("doc_sha256", T.StringType(), True),
    T.StructField("subj", T.StringType(), True),
    T.StructField("pred", T.StringType(), True),
    T.StructField("obj_kind", T.StringType(), True),
    T.StructField("obj_value", T.StringType(), True),
    T.StructField("obj_lang", T.StringType(), True),
    T.StructField("obj_datatype", T.StringType(), True),
    T.StructField("error", T.StringType(), True),
]
RAW_TRIPLE_SCHEMA = T.StructType(RAW_TRIPLE_FIELDS)

TRIPLE_COLUMNS = [
    "repo",
    "path",
    "commit",
    "doc_sha256",
    "subj",
    "pred",
    "obj_kind",
    "obj_value",
    "obj_lang",
    "obj_datatype",
]
TRIPLE_SCHEMA = T.StructType([f for f in RAW_TRIPLE_FIELDS if f.name in TRIPLE_COLUMNS])

# --- canonical store: triples + the two layout (partition) columns ----------
# Every store read pins this schema: no footer-inference job at plan time,
# and a missing store directory raises instead of reading as empty.
STORE_SCHEMA = T.StructType(
    TRIPLE_SCHEMA.fields
    + [
        T.StructField("pred_part", T.StringType(), True),
        T.StructField("bucket", T.IntegerType(), True),
    ]
)
# Target rows per store file (Iceberg's write.target-file-size-bytes, in
# rows): a predicate with n rows is written into max(1, ceil(n / target))
# subject buckets, so a cold predicate is one file and a hot one splits.
# 2M rows is roughly 128 MiB of parquet at the ~65 bytes per stored triple
# measured on one-file-per-predicate stores.
STORE_TARGET_ROWS = 1 << 21

# --- prefix table (SURVEY §2.3 P8) ------------------------------------------
PREFIX_SCHEMA = T.StructType(
    [
        T.StructField("doc_sha256", T.StringType(), True),
        T.StructField("prefix", T.StringType(), True),
        T.StructField("iri", T.StringType(), True),
    ]
)

# --- compiled-schema constraint records (SURVEY §1.1 "Schema") ---------------
# Both ShEx and SHACL normalize into this record; the validator only ever
# sees these (engine-agnostic, like the reference's shared `es.weso.schema`
# abstraction at SchemaSimple.scala:61-76).
CONSTRAINT_SCHEMA = T.StructType(
    [
        T.StructField("shape_id", T.StringType(), False),
        T.StructField("constraint_id", T.StringType(), False),
        T.StructField("pred", T.StringType(), True),
        T.StructField("min_count", T.IntegerType(), True),
        T.StructField("max_count", T.IntegerType(), True),  # NULL = unbounded
        T.StructField("datatype", T.StringType(), True),
        T.StructField("node_kind", T.StringType(), True),  # iri|bnode|literal|nonliteral
        T.StructField("value_set", T.ArrayType(T.StringType()), True),
        T.StructField("min_inclusive", T.DoubleType(), True),
        T.StructField("max_inclusive", T.DoubleType(), True),
        T.StructField("min_exclusive", T.DoubleType(), True),
        T.StructField("max_exclusive", T.DoubleType(), True),
        T.StructField("pattern", T.StringType(), True),
        T.StructField("min_length", T.IntegerType(), True),
        T.StructField("max_length", T.IntegerType(), True),
        T.StructField("ref_shape", T.StringType(), True),
        T.StructField("closed", T.BooleanType(), True),
    ]
)

# --- validation verdicts (SURVEY §1.1 "Validation result") -------------------
VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("doc_sha256", T.StringType(), True),
        T.StructField("node", T.StringType(), False),
        T.StructField("shape_id", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # conformant|nonconformant
        T.StructField("reasons", T.ArrayType(T.StringType()), True),
    ]
)

STATUS_CONFORMANT = "conformant"
STATUS_NONCONFORMANT = "nonconformant"
