"""Canonicalization: skolemization, IRI/literal normalization, dedup, store.

Reference origin (SURVEY §1.2, §2.5 J5): blank-node identity is
per-document (``AnonId.create(b.getID)``, ``HtmlToRdf.scala:176-177``), and
merged models unify identical IRIs across documents
(``MergedModels.scala:182-191``).  At 10^12 files both need deterministic,
distributed-friendly rules:

* **Skolemization** — ``urn:skolem:<sha256(doc_sha256 ':' label)[:32]>``:
  pure column expression, stable across runs/partitions, collision-safe
  across documents even when labels collide (fixtures deliberately collide
  them).
* **Literal normalization** — documented, applied exactly once (SURVEY §7.3
  flags lexical-form drift as the main P/R risk): lang tags lowercased
  (done at parse), canonical ``xsd:decimal``/``xsd:integer`` forms (strip
  leading '+', strip trailing fraction zeros, drop trailing '.', "-0"→"0").
* **Term invariant** — a literal carries a language tag or a datatype,
  never both: a typed literal drops its language (RDF/XML §7.2.16 ignores
  ``xml:lang`` under ``rdf:datatype``), and a language-tagged literal
  keeps no ``rdf:langString`` datatype.  The serializers rely on it.
* **Dedup** — exact duplicate elimination of canonical triples, keyed on
  ``doc_sha256`` + the triple (one graph per document).  In the store
  write it is fused into the layout shuffle: map-side partial
  aggregation folds exact duplicates before the wire, and the layout key
  (predicate, subject bucket) splits a hot predicate such as ``rdf:type``
  while a hot object (``ex:hub``) is not part of it.  The one aggregation
  whose key skews is :func:`entity_degree` (the entity alone); its
  partial aggregation is the combiner.
* **Canonical store** — parquet partitioned by predicate (north rule) with
  a ``bucket = pmod(xxhash64(subj), nb_p)`` sub-key, where ``nb_p =
  max(1, ceil(rows_p / STORE_TARGET_ROWS))`` comes from the predicate's
  row count: a cold predicate is one file, a hot one (``rdf:type``) splits
  into ``nb_p`` files instead of one giant partition (SURVEY §7.3).
  ``nb_p`` is not recorded, so no reader computes a subject's bucket.
  ``read_store`` is the store's one reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rdfshape_api_spark.model import (
    KIND_BNODE,
    RDF_LANGSTRING,
    SKOLEM_PREFIX,
    STORE_SCHEMA,
    STORE_TARGET_ROWS,
    XSD_DECIMAL,
    XSD_INTEGER,
)

TRIPLE_KEY = ["subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"]


def _skolem(doc_sha, label):
    return F.concat(
        F.lit(SKOLEM_PREFIX), F.substring(F.sha2(F.concat_ws(":", doc_sha, label), 256), 1, 32)
    )


def skolemize(df: DataFrame) -> DataFrame:
    """Replace per-document blank-node labels with deterministic skolem IRIs.

    ``obj_kind`` stays 'bnode' so node-kind constraints (ShEx BNODE /
    SHACL sh:nodeKind) still see the original kind.
    """
    is_bnode_subj = F.col("subj").startswith("_:")
    return df.withColumn(
        "subj",
        F.when(is_bnode_subj, _skolem(F.col("doc_sha256"), F.col("subj"))).otherwise(
            F.col("subj")
        ),
    ).withColumn(
        "obj_value",
        F.when(
            F.col("obj_kind") == KIND_BNODE,
            _skolem(F.col("doc_sha256"), F.col("obj_value")),
        ).otherwise(F.col("obj_value")),
    )


def normalize_literals(df: DataFrame) -> DataFrame:
    """Canonical lexical forms for numeric literals (documented rules above).

    Non-numeric literals and IRIs pass through untouched — normalization
    happens exactly once, here, per SURVEY §7.3.
    """
    v = F.col("obj_value")
    is_num = F.col("obj_datatype").isin(XSD_DECIMAL, XSD_INTEGER) & v.rlike(
        r"^[+-]?\d+(\.\d*)?$"
    )
    canon = F.regexp_replace(v, r"^\+", "")  # +5 → 5
    canon = F.regexp_replace(canon, r"^(-?)0+(\d)", r"$1$2")  # 007 → 7
    canon = F.when(
        canon.contains("."),
        F.regexp_replace(F.regexp_replace(canon, r"0+$", ""), r"\.$", ""),
    ).otherwise(canon)  # 18.50 → 18.5, 18.0 → 18
    canon = F.when(canon.isin("-0", ""), F.lit("0")).otherwise(canon)
    return df.withColumn("obj_value", F.when(is_num, canon).otherwise(v))


def canonicalize(df: DataFrame) -> DataFrame:
    """skolemize → normalize literals → lang/datatype exclusivity (the
    once-only canonical form)."""
    typed = F.col("obj_datatype").isNotNull() & (F.col("obj_datatype") != RDF_LANGSTRING)
    tagged = F.col("obj_lang").isNotNull() & (F.col("obj_datatype") == RDF_LANGSTRING)
    return (
        normalize_literals(skolemize(df))
        .withColumn("obj_lang", F.when(typed, F.lit(None)).otherwise(F.col("obj_lang")))
        .withColumn(
            "obj_datatype", F.when(tagged, F.lit(None)).otherwise(F.col("obj_datatype"))
        )
    )


def dedup_triples(df: DataFrame) -> DataFrame:
    """Distinct canonical triples per document, keyed on ``doc_sha256`` +
    ``TRIPLE_KEY`` (graph-merge semantics within a document,
    MergedModels.scala:182-191).  Spark's distinct is already two-phase
    (map-side partial aggregation, then the final one), which folds exact
    duplicates before the shuffle."""
    return df.dropDuplicates(["doc_sha256"] + TRIPLE_KEY)


def entity_degree(df: DataFrame) -> DataFrame:
    """Per-entity mention count — the skewed aggregation of SURVEY §2.5 J5
    (popular entities like ``ex:hub``).  Returns ``(entity, degree)``.

    The count is two-phase without a salt: map-side partial aggregation
    sends one ``(entity, partial count)`` row per map task, so a hot
    entity costs its reducer one row per task, not one per mention.
    """
    subj = df.select(F.col("subj").alias("entity"))
    obj = df.filter(F.col("obj_kind") != "literal").select(
        F.col("obj_value").alias("entity")
    )
    return subj.unionAll(obj).groupBy("entity").agg(F.count("*").alias("degree"))


OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"


def connected_components(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """Identity clusters from identity edges: connected components by
    iterative min-label propagation.

    Returns ``(doc_id, component)`` for every vertex appearing in
    ``pairs``, where ``component`` is the lexicographic-min vertex of its
    component — the canonical representative (``doc_id == component`` ⇔
    the vertex is its cluster's representative).  The ``a``/``b`` column
    names select the edge endpoints; edges are treated as undirected.

    Scale design: each round is one join (edge ⨝ labels, key-partitioned)
    + one min-aggregation (map-side combine), converging in
    O(graph diameter) rounds — ``owl:sameAs`` and identifier-sharing
    clusters are stars or near-cliques, so 2-3 rounds in practice.
    ``localCheckpoint`` per round keeps the plan flat (same protocol as
    ``algebra.transitive_closure``).  This is the
    standard label-propagation formulation of CC-in-MapReduce (Kiveris
    et al. 2014).  Runs until a round lowers no label; labels only
    decrease within a finite vertex set, so every input converges.
    """
    # symmetric edge list; vertices = every endpoint
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    edges = fwd.union(
        pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    ).distinct().localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint()
    )
    while True:
        # neighbor messages: each vertex offers its label to its neighbors
        msgs = edges.join(
            labels, on=edges["src"] == labels["doc_id"]
        ).select(F.col("dst").alias("doc_id"), "component")
        # fold old label + best neighbor offer in ONE frame: the next labels
        # and the convergence check both derive from it, saving a second
        # label-vs-label join per round
        mins = msgs.groupBy("doc_id").agg(F.min("component").alias("_offer"))
        joined = (
            labels.join(mins, on="doc_id", how="left")
            .select(
                "doc_id",
                F.col("component").alias("_old"),
                F.least(
                    F.col("component"), F.coalesce(F.col("_offer"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            joined.filter(F.col("component") != F.col("_old")).limit(1).count()
        )
        labels = joined.select("doc_id", "component")
        if changed == 0:
            return labels


def link_entities(
    triples: DataFrame,
    edges: DataFrame | None = None,
    drop_identity_triples: bool = True,
) -> DataFrame:
    """Entity linking (north-star: "entity linking plus IRI
    canonicalization"): resolve identity edges to connected components
    and rewrite every subject/IRI-object to its component's canonical
    (lexicographic-min) representative.

    ``edges`` defaults to the triple set's own ``owl:sameAs`` statements;
    without any, the triples are returned unchanged after one
    predicate-pushed limit-1 probe job.  Pass any ``(a, b)`` DataFrame to
    link on other evidence (e.g. a blocking/dedup candidate-pair set).  Identity is global — IRIs are
    document-independent, so the rewrite applies across documents.

    100 TB design: components via distributed min-label propagation
    (:func:`connected_components` — one key join + one
    map-side-combined min-agg per round, O(component diameter) rounds;
    sameAs clusters are near-cliques so 2-3 rounds), then two left joins
    of the triple set against the (entity → canon) mapping, both on the
    join key Catalyst already shuffles for the store layout.  No
    driver-side state, no collect.
    """
    if edges is None:
        ident = (F.col("pred") == OWL_SAMEAS) & (F.col("obj_kind") != "literal")
        same = triples.filter(ident)
        if same.isEmpty():
            return triples
        edges = same.select(F.col("subj").alias("a"), F.col("obj_value").alias("b"))
        if drop_identity_triples:
            triples = triples.filter(~ident)
        comp = connected_components(edges, a="a", b="b")
    else:
        cols = edges.columns
        comp = connected_components(edges, a=cols[0], b=cols[1])
    mapping = comp.filter(F.col("doc_id") != F.col("component"))
    smap = mapping.select(
        F.col("doc_id").alias("subj"), F.col("component").alias("_canon_s")
    )
    omap = mapping.select(
        F.col("doc_id").alias("obj_value"), F.col("component").alias("_canon_o")
    )
    out = (
        triples.join(smap, on="subj", how="left")
        .join(omap, on="obj_value", how="left")
        .select(
            *[
                c
                for c in triples.columns
                if c not in ("subj", "obj_value")
            ],
            F.coalesce(F.col("_canon_s"), F.col("subj")).alias("subj"),
            F.when(
                F.col("obj_kind") != "literal",
                F.coalesce(F.col("_canon_o"), F.col("obj_value")),
            )
            .otherwise(F.col("obj_value"))
            .alias("obj_value"),
        )
    )
    return out.select(*triples.columns)


def propose_identity_edges(
    triples: DataFrame, key_preds: list[str], max_group: int = 1000
) -> DataFrame:
    """Entity-resolution candidate generation, rule-based: entities
    sharing a value of a strong identifier predicate (email, phone, ISBN,
    ORCID, …) are proposed as identity edges — the standard record-linkage
    blocking rule, and the edge supply for :func:`link_entities` when the
    data carries no explicit ``owl:sameAs``.

    Scale design: one distinct + one groupBy per identifying value —
    each value group is contracted to a STAR around its min entity
    (O(group) edges, never the O(group²) pair enumeration); the star has
    the same connected components as the clique.
    ``max_group`` drops degenerate hot values (empty strings, placeholder
    emails like ``n/a@example.com`` pair everyone).

    Returns ``(a, b, evidence_pred)`` with ``a`` = group-min entity,
    ``a != b``; feed ``edges=result.select("a", "b")`` to
    :func:`link_entities` for the canonical rewrite.
    """
    keyed = (
        triples.filter(
            F.col("pred").isin(list(key_preds)) & (F.col("obj_kind") == "literal")
        )
        .select("pred", F.col("obj_value").alias("val"), F.col("subj").alias("entity"))
        .distinct()
    )
    grp = (
        keyed.groupBy("pred", "val")
        .agg(F.min("entity").alias("a"), F.count("*").alias("_n"))
        .filter((F.col("_n") >= 2) & (F.col("_n") <= max_group))
    )
    return (
        keyed.join(grp, on=["pred", "val"])
        .filter(F.col("entity") != F.col("a"))
        .select("a", F.col("entity").alias("b"), F.col("pred").alias("evidence_pred"))
        .distinct()
    )


def propose_label_edges(
    triples: DataFrame,
    label_pred: str,
    threshold: float = 0.8,
    max_block: int = 100,
) -> DataFrame:
    """Fuzzy ER candidate generation: token-blocked label matching with
    exact token-set Jaccard verification — for entities with no shared
    strong identifier, only near-identical display labels ("ACME Corp." /
    "acme corp").

    Plan shape: labels normalize to distinct token arrays (map-only);
    blocking emits one row per (token) — candidate pairs only form inside
    a token block, and blocks hotter than ``max_block`` are dropped
    whole (a stopword-like token pairs the entire corpus; real matches
    still meet in their RARE tokens, which is the standard
    blocking-key argument).  Survivors get exact Jaccard via
    ``array_intersect``/``array_union`` — JVM columnar, no UDF.

    Returns ``(a, b, jaccard)``, ``a < b``, Jaccard ≥ ``threshold``.
    """
    toks = F.array_distinct(
        F.filter(
            F.split(F.regexp_replace(F.lower(F.col("obj_value")), "[^a-z0-9]+", " "), " "),
            lambda t: t != "",
        )
    )
    profiles = (
        triples.filter((F.col("pred") == label_pred) & (F.col("obj_kind") == "literal"))
        .select(F.col("subj").alias("entity"), toks.alias("toks"))
        .filter(F.size("toks") > 0)
        .distinct()
    )
    blocks = profiles.select("entity", F.explode("toks").alias("tok"))
    hot = blocks.groupBy("tok").agg(F.count("*").alias("_n")).filter(
        F.col("_n") > max_block
    )
    blocks = blocks.join(F.broadcast(hot), on="tok", how="left_anti")
    pairs = (
        blocks.alias("l")
        .join(
            blocks.alias("r"),
            on=[F.col("l.tok") == F.col("r.tok"), F.col("l.entity") < F.col("r.entity")],
        )
        .select(F.col("l.entity").alias("a"), F.col("r.entity").alias("b"))
        .distinct()
    )
    pa = profiles.select(F.col("entity").alias("a"), F.col("toks").alias("_ta"))
    pb = profiles.select(F.col("entity").alias("b"), F.col("toks").alias("_tb"))
    jac = F.size(F.array_intersect("_ta", "_tb")) / F.size(F.array_union("_ta", "_tb"))
    return (
        pairs.join(pa, on="a")
        .join(pb, on="b")
        .select("a", "b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )


def pred_partition_key(pred=None):
    """Filesystem-safe predicate partition key: local name + 8-hex md5
    disambiguator (IRIs contain '/' and '#', unusable as directory names)."""
    pred = F.col("pred") if pred is None else pred
    local = F.regexp_replace(F.element_at(F.split(pred, "[/#]"), -1), r"[^A-Za-z0-9_-]", "_")
    return F.concat(local, F.lit("_"), F.substring(F.md5(pred), 1, 8))


def write_canonical_store(
    df: DataFrame,
    path: str,
    subj_buckets: int | None = None,
    dedup: bool = False,
) -> None:
    """Overwrite ``path`` with the canonical triple store: parquet
    partitioned by predicate (north rule), sub-bucketed by subject hash so
    hot predicates split.

    Predicate ``p`` gets ``nb_p = max(1, ceil(rows_p / STORE_TARGET_ROWS))``
    subject buckets, from one ``groupBy("pred").count()`` (``rows_p``
    counts the input rows, duplicates included); ``subj_buckets`` fixes
    ``nb_p`` for every predicate instead.

    The pre-write ``repartition(pred_part, bucket)`` lines file boundaries
    up with partition directories (one shuffle, one file per directory);
    AQE coalesces the shuffle partitions to the data, so the task count
    follows the ``(pred_part, bucket)`` key count instead of a constant.
    Readers filtering on predicate get directory-level partition pruning,
    and the 2-col projection prunes parquet columns.

    ``dedup=True`` fuses exact-duplicate elimination (the
    :func:`dedup_triples` key, ``doc_sha256`` + ``TRIPLE_KEY``) INTO the
    layout shuffle: the key determines (pred_part, bucket), so grouping by
    (pred_part, bucket, *key) over the repartitioned child satisfies the
    aggregation's required distribution and Catalyst elides the second
    exchange — one shuffle total, with map-side partial aggregation
    absorbing duplicates before the wire.
    """
    # (pred, pred_part, nb_p) via a BROADCAST DICTIONARY join, not a
    # per-row expression: distinct predicates are few (10²-10⁴ even at web
    # scale) while rows are 10⁹+ — evaluating regexp+split+md5 per row
    # measured ~15x slower than joining a tiny precomputed map.  The map is
    # the per-predicate count itself (the same jobs a distinct would run);
    # collecting it and broadcasting a driver-built table costs one more
    # job.  The exchange-elision below still sees plain columns.
    nb_p = (
        F.lit(subj_buckets)
        if subj_buckets is not None
        else F.greatest(F.lit(1), F.ceil(F.col("count") / F.lit(STORE_TARGET_ROWS)))
    )
    pred_map = F.broadcast(
        df.groupBy("pred")
        .count()
        .select("pred", pred_partition_key().alias("pred_part"), nb_p.cast("int").alias("nb_p"))
    )
    out = df.join(pred_map, "pred").withColumn(
        "bucket", F.pmod(F.xxhash64("subj"), F.col("nb_p")).cast("int")
    )
    out = out.select(*df.columns, "pred_part", "bucket").repartition("pred_part", "bucket")
    if dedup:
        key = ["doc_sha256"] + TRIPLE_KEY
        extras = [c for c in df.columns if c not in key]
        aggs = [F.first(c).alias(c) for c in extras] or [F.count(F.lit(1)).alias("_n")]
        out = out.groupBy("pred_part", "bucket", *key).agg(*aggs)
        # restore the writer-side column order (partition cols last)
        out = out.select(*df.columns, "pred_part", "bucket")
    out.write.mode("overwrite").partitionBy("pred_part", "bucket").parquet(path)


def pred_partition_value(pred: str) -> str:
    """Driver-side twin of :func:`pred_partition_key` for a literal
    predicate — needed to push a predicate filter down to the store's
    *directory* level (the `pred` data column cannot prune `pred_part=`
    directories by itself)."""
    import hashlib
    import re as _re

    local = _re.sub(r"[^A-Za-z0-9_-]", "_", _re.split(r"[/#]", pred)[-1])
    return f"{local}_{hashlib.md5(pred.encode()).hexdigest()[:8]}"


def read_store(spark, path: str, preds=None) -> DataFrame:
    """Read a store written by :func:`write_canonical_store`, with the
    pinned ``STORE_SCHEMA`` columns (triples + ``pred_part``, ``bucket``).

    The schema is never inferred: planning runs no footer-reading job, a
    store written from zero rows (only ``_SUCCESS``) reads as empty, and a
    missing directory raises ``AnalysisException``.  ``preds`` restricts
    the scan to those predicates (SURVEY §2.3 P3): the ``pred_part``
    literals reach the scan as partition filters, so only their
    directories are listed and read."""
    df = spark.read.schema(STORE_SCHEMA).parquet(path)
    if preds is None:
        return df
    preds = sorted(set(preds))
    parts = sorted({pred_partition_value(p) for p in preds})
    return df.filter(F.col("pred_part").isin(parts) & F.col("pred").isin(preds))
