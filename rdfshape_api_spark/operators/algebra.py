"""The RDFReader operator algebra over the triples DataFrame.

The reference's de-facto operator catalog is ``MergedModels``
(``modules/server/.../data/logic/types/merged/MergedModels.scala``), which
re-implements the RDFReader/RDFReasoner interface (SURVEY §2.3/§2.4). Each
function here is the Spark expression of one catalog row; all are lazy
DataFrame transforms (Catalyst handles pushdown/pruning/join strategy).
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, functions as F

from rdfshape_api_spark.model import KIND_IRI, RDF_TYPE, RDFS_SUBCLASSOF


# --- P1/P2: scans & distinct node projections (MergedModels.scala:62-73,99-100)

def rdf_triples(df: DataFrame) -> DataFrame:
    return df


def subjects(df: DataFrame) -> DataFrame:
    return df.select("subj").distinct()


def predicates(df: DataFrame) -> DataFrame:
    return df.select("pred").distinct()


def iri_objects(df: DataFrame) -> DataFrame:
    return df.filter(F.col("obj_kind") == KIND_IRI).select(
        F.col("obj_value").alias("iri")
    ).distinct()


def iris(df: DataFrame) -> DataFrame:
    """All IRIs mentioned anywhere (MergedModels.scala:66-67): union of the
    subject/predicate/object projections, distinct once at the end."""
    s = df.filter(~F.col("subj").startswith("_:")).select(F.col("subj").alias("iri"))
    p = df.select(F.col("pred").alias("iri"))
    o = df.filter(F.col("obj_kind") == KIND_IRI).select(F.col("obj_value").alias("iri"))
    return s.unionAll(p).unionAll(o).distinct()


# --- P3/P4: selections & existence (MergedModels.scala:102-112,150-151) -----

def triples_with_subject(df: DataFrame, node: str) -> DataFrame:
    return df.filter(F.col("subj") == node)


def triples_with_predicate(df: DataFrame, pred: str) -> DataFrame:
    # a data filter: parquet skips row groups by `pred` statistics but opens
    # every file; for a directory-pruned read of the canonical store use
    # canonicalize.read_store(spark, path, preds=[pred])
    return df.filter(F.col("pred") == pred)


def triples_with_object(df: DataFrame, obj_value: str) -> DataFrame:
    return df.filter(F.col("obj_value") == obj_value)


def triples_with_predicate_object(df: DataFrame, pred: str, obj_value: str) -> DataFrame:
    return df.filter((F.col("pred") == pred) & (F.col("obj_value") == obj_value))


def has_predicate_with_subject(df: DataFrame, node: str, pred: str) -> bool:
    """Existence test — limit(1) so the scan short-circuits."""
    return bool(
        df.filter((F.col("subj") == node) & (F.col("pred") == pred)).limit(1).count()
    )


# --- P5: checkDatatype (MergedModels.scala:96-97) ---------------------------

def check_datatype(df: DataFrame, node: str, datatype: str) -> DataFrame:
    """Per-value datatype check for a node's literals: datatype IRI equality
    plus lexical-form validity (try_cast/regex — plans/validate.datatype_ok)."""
    from rdfshape_api_spark.plans.validate import datatype_ok

    return df.filter(F.col("subj") == node).select(
        "subj", "pred", "obj_value", datatype_ok(datatype).alias("datatype_ok")
    )


# --- P6: SHACL instances incl. subclass closure (MergedModels.scala:75-79) --

def subclass_closure(df: DataFrame, cls: str) -> list[str]:
    """Transitive rdfs:subClassOf closure *below* cls (classes whose
    instances count as instances of cls).  The class hierarchy is tiny
    relative to instance data → one collect of the subClassOf edges, a
    driver-side closure, and the result broadcast into the instance
    filter (SURVEY §2.5 J4)."""
    edges = df.filter(F.col("pred") == RDFS_SUBCLASSOF).select("subj", "obj_value")
    below = transitive_pairs([(r["subj"], r["obj_value"]) for r in edges.collect()])
    return sorted({cls} | {c for c, d in below if d == cls})


def shacl_instances(df: DataFrame, cls: str) -> DataFrame:
    classes = subclass_closure(df, cls)
    return (
        df.filter((F.col("pred") == RDF_TYPE) & F.col("obj_value").isin(*classes))
        .select(F.col("subj").alias("node"))
        .distinct()
    )


def transitive_closure(
    pairs: DataFrame, src: str, dst: str, keys: Sequence[str]
) -> DataFrame:
    """Length >= 1 transitive closure of the pair relation ``(src, dst)``;
    pairs compose only when their ``keys`` columns agree.  Returns the
    distinct ``(*keys, src, dst)`` rows.

    Semi-naive driver-side fixpoint (SURVEY §4 — Catalyst has no
    recursion): each round joins only the pairs the previous round found
    against the base relation, and the loop ends when a round adds
    nothing.  On a finite input it must: every earlier round added a new
    pair from a finite set.  localCheckpoint per round keeps the plans
    flat."""
    keys = list(keys)
    base = pairs.select(*keys, src, dst).distinct().localCheckpoint()
    step = base.select(
        *[F.col(k).alias(f"_step_{k}") for k in keys],
        F.col(src).alias("_step_mid"),
        F.col(dst).alias("_step_dst"),
    )
    on = [F.col(dst) == F.col("_step_mid")]
    on += [F.col(k) == F.col(f"_step_{k}") for k in keys]
    acc = frontier = base
    while True:
        nxt = (
            frontier.join(step, on)
            .select(*keys, src, F.col("_step_dst").alias(dst))
            .distinct()
        )
        new = nxt.subtract(acc).localCheckpoint()
        if new.isEmpty():
            return acc
        acc = acc.unionByName(new).localCheckpoint()
        frontier = new


def transitive_pairs(edges: Iterable[tuple[str, str]]) -> list[tuple[str, str]]:
    """Driver-side transitive closure (length >= 1) of a small
    schema-level relation, e.g. the rdfs:subClassOf hierarchy."""
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
    out = set()
    for start in list(adj):
        seen, stack = set(), [start]
        while stack:
            cur = stack.pop()
            for nxt in adj.get(cur, ()):
                if nxt not in seen:
                    seen.add(nxt)
                    stack.append(nxt)
        out.update((start, d) for d in seen)
    return sorted(out)


# --- A1/A2: counts & info (MergedModels.scala:137-138; DataInfo.scala:37-57)

def number_of_statements(df: DataFrame) -> int:
    return df.count()


def data_info(df: DataFrame) -> DataFrame:
    """Global `/data/info` aggregate: statement count + distinct predicates
    (prefix map is a separate small table — extract.merged_prefix_map)."""
    return df.agg(
        F.count("*").alias("n_statements"),
        F.size(F.collect_set("pred")).alias("n_distinct_predicates"),
    )


def data_info_per_doc(df: DataFrame) -> DataFrame:
    return df.groupBy("doc_sha256").agg(
        F.count("*").alias("n_statements"),
        F.size(F.collect_set("pred")).alias("n_distinct_predicates"),
    )


# --- A3: outgoing arcs of a node (Outgoing.fromTriples, Outgoing.scala:50-65)

def outgoing_arcs(df: DataFrame, node: str, limit: int | None = None) -> DataFrame:
    out = (
        df.filter(F.col("subj") == node)
        .groupBy("pred")
        .agg(F.sort_array(F.collect_list("obj_value")).alias("values"))
    )
    return out.limit(limit) if limit else out


# --- A5: cardinality profile (the central validation agg) --------------------

def cardinalities(df: DataFrame) -> DataFrame:
    """Per (doc, subj, pred) value counts — the SURVEY §2.4 A5 aggregation
    that validation bounds-checks. Partial agg is automatic."""
    return df.groupBy("doc_sha256", "subj", "pred").agg(F.count("*").alias("n_values"))


# --- P9: isomorphism via canonical set comparison (MergedModels.scala:140-141)

def isomorphic(df1: DataFrame, df2: DataFrame) -> bool:
    """Graph equality on canonicalized (skolemized) triple sets: exact bnode
    isomorphism is graph-isomorphism-hard and unnecessary once skolem IDs
    are deterministic (SURVEY §2.3 P9)."""
    cols = ["subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"]
    a, b = df1.select(*cols), df2.select(*cols)
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def has_predicate_table(df: DataFrame, pred: str) -> DataFrame:
    """P4 vectorized: ``hasPredicateWithSubject`` for every subject at once
    (the reference answers one (node, pred) probe per call,
    MergedModels.scala; the corpus-scale twin is the whole boolean column).
    Returns ``(subj, has_pred)``.

    Scale: one pruned pass for the predicate's subjects (broadcast if the
    predicate is selective), one left join against the subject set."""
    subs = df.select("subj").distinct()
    withp = (
        df.filter(F.col("pred") == pred)
        .select("subj")
        .distinct()
        .withColumn("_has", F.lit(True))
    )
    return subs.join(withp, on="subj", how="left").select(
        "subj", F.coalesce(F.col("_has"), F.lit(False)).alias("has_pred")
    )


def check_datatype_table(df: DataFrame, pred: str, datatype: str) -> DataFrame:
    """P5 vectorized: ``checkDatatype`` over every value at a predicate
    (the reference checks one node's value, MergedModels.scala:96-97).
    Returns ``(subj, pred, obj_value, datatype_ok)`` — datatype IRI match
    plus lexical-form validity, plans/validate.datatype_ok semantics."""
    from rdfshape_api_spark.plans.validate import datatype_ok

    return df.filter(F.col("pred") == pred).select(
        "subj", "pred", "obj_value",
        # coalesce: `obj_datatype == dt` is SQL-NULL on untyped literals —
        # a boolean verdict must be two-valued
        F.coalesce(datatype_ok(datatype), F.lit(False)).alias("datatype_ok"),
    )
