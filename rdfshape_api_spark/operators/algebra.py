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

from rdfshape_api_spark.model import KIND_IRI, KIND_LITERAL, RDF_TYPE, RDFS_SUBCLASSOF


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


# --- P7: property paths (MergedModels.scala:81-94) ---------------------------
# Path algebra: direct pred = filter; inverse = swap; sequence = chained
# joins; alternative = union; zeroOrMore = fixpoint run to convergence.

def path_direct(df: DataFrame, pred: str) -> DataFrame:
    return df.filter(F.col("pred") == pred).select(
        "doc_sha256", F.col("subj").alias("src"), F.col("obj_value").alias("dst")
    )


def path_inverse(pairs: DataFrame) -> DataFrame:
    return pairs.select("doc_sha256", F.col("dst").alias("src"), F.col("src").alias("dst"))


def path_sequence(p1: DataFrame, p2: DataFrame) -> DataFrame:
    a = p1.select("doc_sha256", "src", F.col("dst").alias("_mid"))
    b = p2.select(F.col("doc_sha256").alias("_d2"), F.col("src").alias("_mid2"), "dst")
    return (
        a.join(b, on=[a["doc_sha256"] == b["_d2"], a["_mid"] == b["_mid2"]])
        .select("doc_sha256", "src", "dst")
        .distinct()
    )


def path_alternative(p1: DataFrame, p2: DataFrame) -> DataFrame:
    return p1.unionByName(p2).distinct()


def path_zero_or_more(pairs: DataFrame) -> DataFrame:
    """Paths of length >= 1 (SPARQL ``p+``, not ``p*``): the transitive
    closure of ``(doc_sha256, src, dst)`` within each document."""
    return transitive_closure(pairs, "src", "dst", ["doc_sha256"])


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


def graph_fingerprints(df: DataFrame) -> DataFrame:
    """P9 at corpus scale: bnode-blind canonical graph fingerprints, for
    finding isomorphism-candidate duplicate documents in one pass.

    Each document's triples render to sorted N-Triples-style lines with
    every skolemized blank node masked to ``_:`` (bnode-BLIND: graphs
    differing only in bnode identity — or in bnode *wiring* invisible to
    this mask — share a fingerprint).  This is the standard first
    refinement of iso-canonicalisation (the colour-0 hash); candidate
    groups are tiny, so the exact pairwise :func:`isomorphic` check
    settles them.  Returns one row per distinct fingerprint:
    ``(graph_fp, n_docs, rep_doc)``.

    Scale: one groupBy(doc) render + one groupBy(fp) count — both
    map-side-combinable; no pairwise comparison anywhere."""
    mask = lambda c: F.when(  # noqa: E731 — tiny local combinator
        c.startswith("urn:skolem:"), F.lit("_:")
    ).otherwise(c)
    subj_term = mask(F.col("subj"))
    obj_term = F.when(
        F.col("obj_kind") == KIND_LITERAL,
        F.concat(
            F.lit('"'), F.col("obj_value"), F.lit('"'),
            F.coalesce(F.concat(F.lit("@"), F.col("obj_lang")), F.lit("")),
            F.coalesce(F.concat(F.lit("^^"), F.col("obj_datatype")), F.lit("")),
        ),
    ).otherwise(mask(F.col("obj_value")))
    line = F.concat_ws(" ", subj_term, F.col("pred"), obj_term)
    per_doc = df.groupBy("doc_sha256").agg(
        F.md5(F.array_join(F.sort_array(F.collect_set(line)), "\n")).alias("graph_fp")
    )
    return per_doc.groupBy("graph_fp").agg(
        F.count("*").alias("n_docs"), F.min("doc_sha256").alias("rep_doc")
    )


# --- KG analytics: entity PageRank over the merged entity graph -------------
# Complements rdf_hub_degree / link_entities: importance ranking of the
# canonical entities (the classic KG-construction signal for entity
# salience).  The reference exposes degree-style DataInfo aggregates; a
# distributed importance measure is the scale-path extension of A3.

def pagerank(
    df: DataFrame,
    iterations: int = 10,
    scale: int = 1_000_000,
) -> DataFrame:
    """Fixed-iteration PageRank over the DISTINCT resource→resource edges
    of the merged model, in **integer fixed-point arithmetic** so the
    result is bit-reproducible across engines and run orders (float
    summation is order-sensitive; integer sums are not — same trick as
    the integerized TF-IDF scores).

    Semantics (simplified PageRank, damping 0.85, dangling mass dropped —
    the common fixed-k formulation):

      ``rank₀ = scale // n``
      ``rankᵢ₊₁(v) = (15·(scale//n))//100 + (85·Σ_{u→v} rankᵢ(u)//deg(u))//100``

    Scale design: per iteration one partition-local ``div`` map over the
    pre-joined ``(src, dst, deg)`` edge relation, one shuffle
    (``groupBy(dst)`` with map-side partial sums), one broadcast-free left
    join back to the node list; lineage is cut with ``localCheckpoint``
    per round (on a cluster: persist + count, or checkpoint to durable
    storage).  Edges carry their out-degree from a single up-front join,
    so the loop never re-aggregates degrees.
    """
    edges = (
        df.where(F.col("obj_kind") != KIND_LITERAL)
        .select(F.col("subj").alias("src"), F.col("obj_value").alias("dst"))
        .distinct()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ewd = edges.join(outdeg, on="src").persist()
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0).cast("bigint").alias("rank_int")).withColumnRenamed("node", "entity")
    base = scale // n
    teleport = (15 * base) // 100
    ranks = nodes.select("node", F.lit(base).cast("bigint").alias("rank"))
    for _ in range(iterations):
        contrib = ewd.join(ranks, ewd["src"] == ranks["node"]).select(
            F.col("dst"), F.expr("rank div deg").alias("c")
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("m"))
        ranks = (
            nodes.join(sums, nodes["node"] == sums["dst"], "left")
            .select(
                "node",
                (F.lit(teleport) + F.expr("(85 * coalesce(m, 0)) div 100"))
                .cast("bigint")
                .alias("rank"),
            )
            .localCheckpoint()
        )
    out = ranks.select(F.col("node").alias("entity"), F.col("rank").alias("rank_int"))
    nodes.unpersist()
    ewd.unpersist()
    return out


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED simple graph of
    ``edges`` — ``(node, n_tri)`` for every node in ≥ 1 triangle.

    KG-analytics extension of A3 (outgoing-arc aggregates): triangle
    support is the standard local clustering / community signal over the
    entity graph.

    Scale design — the degree-ordered wedge join (compact-forward /
    Cohen's MapReduce triangle counting; Suri & Vassilvitskii WWW'11):
    each undirected edge is oriented from the (degree, node)-smaller
    endpoint to the larger, making the orientation acyclic with
    out-degree ≤ O(√m) on any graph — so the wedge join produces
    Σ out-deg(v)² = O(m^1.5) rows instead of the Σ deg(v)² blow-up a
    lexicographic orientation suffers on hub-heavy KGs (a celebrity node
    with 10^6 followers would otherwise emit 10^12 wedges).  Three
    shuffles total: degree agg, wedge join on the middle vertex, closing
    semi-join on the (lo, hi) edge key.  Each triangle is produced
    exactly once (acyclic orientation), then exploded to its 3 vertices
    for the per-node count (map-side combine).

    The per-node OUTPUT is orientation-invariant, so the DuckDB oracle
    may use the simpler x<y<z lexicographic join — row-identical result.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("x"),
            F.greatest(F.col(src), F.col(dst)).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    deg = (
        und.select(F.col("x").alias("node"))
        .unionAll(und.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    dx = deg.select(F.col("node").alias("x"), F.col("deg").alias("_dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("deg").alias("_dy"))
    # orient by (degree, name): x<y lexicographically, so ties keep x first
    o = (
        und.join(dx, "x")
        .join(dy, "y")
        .select(
            F.when(
                (F.col("_dx") < F.col("_dy"))
                | ((F.col("_dx") == F.col("_dy"))),
                F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
            )
            .otherwise(F.struct(F.col("y").alias("a"), F.col("x").alias("b")))
            .alias("e")
        )
        .select("e.a", "e.b")
    )
    w1 = o.select(F.col("a").alias("u"), F.col("b").alias("v"))
    w2 = o.select(F.col("a").alias("v2"), F.col("b").alias("w"))
    wedges = w1.join(w2, w1["v"] == w2["v2"]).select("u", "v", "w")
    # closing edge lookup on the CANONICAL (lo, hi) key — orientation of
    # the closing edge is irrelevant to triangle existence
    closing = und.select(F.col("x").alias("_cx"), F.col("y").alias("_cy"))
    tri = wedges.join(
        closing,
        (F.least("u", "w") == F.col("_cx")) & (F.greatest("u", "w") == F.col("_cy")),
        "leftsemi",
    )
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
