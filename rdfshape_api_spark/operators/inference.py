"""RDFS inference (SURVEY §2.8 I1).

Reference: ``applyInference`` appends a Jena inference model to the data —
self-admittedly unoptimized ("just appends the inferred model",
``MergedModels.scala:117-124``; engine list ``ApiDefinitions.scala:59-60``).

Spark design: the *schema-side* closure (subClassOf/subPropertyOf DAGs,
domain/range maps) is tiny relative to instance data, so it is computed with
a driver-side fixpoint on filtered scans, **broadcast**, and applied to the
instance triples in ONE pass — no iterative shuffles over the big table.
Entailed triples carry ``origin='inferred'``; asserted rows get
``origin='asserted'``.

Rules implemented (RDFS subset the reference's Jena RDFS reasoner applies
to typical data): rdfs2 (domain), rdfs3 (range), rdfs5/7 (subPropertyOf
transitivity + use), rdfs9/11 (subClassOf transitivity + type lift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rdfshape_api_spark.model import (
    KIND_IRI,
    RDF_TYPE,
    RDFS_DOMAIN,
    RDFS_RANGE,
    RDFS_SUBCLASSOF,
    RDFS_SUBPROPERTYOF,
)
from rdfshape_api_spark.operators.algebra import transitive_closure, transitive_pairs
from rdfshape_api_spark.operators.canonicalize import connected_components


def rdfs_closure(df: DataFrame, spark=None) -> DataFrame:
    """Materialize RDFS-entailed triples; returns asserted+inferred union
    with an ``origin`` column. One big-table pass; schema broadcast."""
    spark = spark or df.sparkSession
    schema_rows = (
        df.filter(F.col("pred").isin(RDFS_SUBCLASSOF, RDFS_SUBPROPERTYOF, RDFS_DOMAIN, RDFS_RANGE))
        .select("pred", "subj", "obj_value")
        .collect()
    )
    subclass = transitive_pairs(
        [(r["subj"], r["obj_value"]) for r in schema_rows if r["pred"] == RDFS_SUBCLASSOF]
    )
    subprop = transitive_pairs(
        [(r["subj"], r["obj_value"]) for r in schema_rows if r["pred"] == RDFS_SUBPROPERTYOF]
    )
    domain = [(r["subj"], r["obj_value"]) for r in schema_rows if r["pred"] == RDFS_DOMAIN]
    rng = [(r["subj"], r["obj_value"]) for r in schema_rows if r["pred"] == RDFS_RANGE]

    asserted = df.withColumn("origin", F.lit("asserted"))
    parts = [asserted]
    base = ["repo", "path", "commit", "doc_sha256"] if "repo" in df.columns else ["doc_sha256"]

    def _mk(src: DataFrame, subj_col, pred_iri: str, obj_col) -> DataFrame:
        return src.select(
            *base,
            subj_col.alias("subj"),
            F.lit(pred_iri).alias("pred"),
            F.lit(KIND_IRI).alias("obj_kind"),
            obj_col.alias("obj_value"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit("inferred").alias("origin"),
        )

    if subclass:  # rdfs9: x a C, C ⊑ D ⇒ x a D (broadcast map join via CASE)
        sc_df = spark.createDataFrame(subclass, "c string, d string")
        typed = df.filter(F.col("pred") == RDF_TYPE)
        j = typed.join(F.broadcast(sc_df), typed["obj_value"] == sc_df["c"])
        parts.append(_mk(j, F.col("subj"), RDF_TYPE, F.col("d")))
    if subprop:  # rdfs7: x p y, p ⊑ q ⇒ x q y (keeps object kind/literal form)
        sp_df = spark.createDataFrame(subprop, "p string, q string")
        j = df.join(F.broadcast(sp_df), df["pred"] == sp_df["p"])
        parts.append(
            j.select(
                *base,
                "subj",
                F.col("q").alias("pred"),
                "obj_kind",
                "obj_value",
                "obj_lang",
                "obj_datatype",
                F.lit("inferred").alias("origin"),
            )
        )
    if domain:  # rdfs2: x p y, p domain C ⇒ x a C
        d_df = spark.createDataFrame(domain, "p string, c string")
        j = df.join(F.broadcast(d_df), df["pred"] == d_df["p"])
        parts.append(_mk(j, F.col("subj"), RDF_TYPE, F.col("c")))
    if rng:  # rdfs3: x p y (y non-literal), p range C ⇒ y a C
        r_df = spark.createDataFrame(rng, "p string, c string")
        j = df.filter(F.col("obj_kind") != "literal").join(
            F.broadcast(r_df), df["pred"] == r_df["p"]
        )
        parts.append(_mk(j, F.col("obj_value"), RDF_TYPE, F.col("c")))

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    key = [c for c in out.columns if c != "origin"]
    # asserted wins over inferred duplicates (min_by on origin: 'asserted' < 'inferred')
    return out.groupBy(*key).agg(F.min("origin").alias("origin"))


OWL = "http://www.w3.org/2002/07/owl#"
OWL_INVERSE_OF = OWL + "inverseOf"
OWL_SYMMETRIC = OWL + "SymmetricProperty"
OWL_TRANSITIVE = OWL + "TransitiveProperty"
OWL_EQUIV_CLASS = OWL + "equivalentClass"
OWL_SAMEAS = OWL + "sameAs"


def owl_sameas_closure(df: DataFrame, spark=None) -> DataFrame:
    """``owl:sameAs`` identity semantics (OWL-RL eq-sym / eq-rep-s /
    eq-rep-o) in **representative form** — the missing half of the OWL
    engine vs Jena's reasoner applied by the reference
    (``MergedModels.scala:117-124``).

    Full eq-rep materialization copies every triple onto every identity-
    clique member — O(Σ|comp|·|triples(comp)|) blowup, hopeless at corpus
    scale.  Instead each identity component gets a canonical
    representative (lexicographic min — the same rule as
    ``canonicalize.link_entities``) and the engine entails:

    * the CANONICAL form of every triple whose subject or IRI-object is a
      non-canonical member (``origin='inferred'``) — so queries over the
      representative see the merged entity;
    * ``y owl:sameAs x`` for every asserted ``x owl:sameAs y`` (eq-sym),
      carried in the asserting document.

    The full clique remains derivable (member →sameAs→ canon →triples),
    while output grows by O(|rewritten rows| + |sameAs rows|) only.
    This is weaker than Jena's full materialization: a query addressed to
    a non-canonical member sees none of the merged triples, and
    transitive ``a sameAs c`` links are not emitted as explicit triples.
    Reflexive ``x sameAs x`` rows are not emitted (spec-entailed but pure
    noise in a triple store).

    Scale design: components via distributed min-label propagation
    (``canonicalize.connected_components``, O(diameter) rounds —
    sameAs clusters are near-cliques so 2-3 rounds), then two hash joins
    of the triple set against the (member → canon) mapping.  No
    driver-side state; composes with :func:`rdfs_closure` /
    :func:`owl_lite_closure` (an existing ``origin`` column is
    preserved)."""
    spark = spark or df.sparkSession
    if "origin" not in df.columns:
        df = df.withColumn("origin", F.lit("asserted"))

    ident = (F.col("pred") == OWL_SAMEAS) & (F.col("obj_kind") != "literal")
    same = df.filter(ident)
    # common case: no identities at all — skip the component machinery AND
    # the full-table dedup shuffle at the end (a guaranteed no-op union);
    # the probe is one predicate-pushed limit-1 job
    if same.isEmpty():
        return df
    edges = same.select(F.col("subj").alias("a"), F.col("obj_value").alias("b"))
    comp = connected_components(edges, a="a", b="b")
    mapping = comp.filter(F.col("doc_id") != F.col("component"))

    # eq-sym: the mirrored statement, in the asserting document.  The
    # mirror's object is the ORIGINAL SUBJECT, so its kind derives from
    # that term (a bnode subject mirrored into object position must keep
    # kind 'bnode', not inherit the original object's kind — obj_kind is
    # part of the dedup key and drives the serializers)
    value_cols = [c for c in df.columns if c not in ("subj", "obj_value", "origin")]
    sym_kind = F.when(F.col("subj").startswith("_:"), F.lit("bnode")).otherwise(
        F.lit("iri")
    )
    sym = same.filter(F.col("subj") != F.col("obj_value")).select(
        *[c for c in value_cols if c != "obj_kind"],
        sym_kind.alias("obj_kind"),
        F.col("obj_value").alias("subj"),
        F.col("subj").alias("obj_value"),
        F.lit("inferred").alias("origin"),
    )

    # eq-rep (representative form): canonical rewrite of changed rows
    smap = mapping.select(F.col("doc_id").alias("subj"), F.col("component").alias("_cs"))
    omap = mapping.select(
        F.col("doc_id").alias("obj_value"), F.col("component").alias("_co")
    )
    j = df.join(smap, on="subj", how="left").join(omap, on="obj_value", how="left")
    changed = j.filter(
        F.col("_cs").isNotNull()
        | (F.col("_co").isNotNull() & (F.col("obj_kind") != "literal"))
    )
    rewritten = changed.select(
        *value_cols,
        F.coalesce(F.col("_cs"), F.col("subj")).alias("subj"),
        F.when(
            F.col("obj_kind") != "literal",
            F.coalesce(F.col("_co"), F.col("obj_value")),
        )
        .otherwise(F.col("obj_value"))
        .alias("obj_value"),
        F.lit("inferred").alias("origin"),
    ).filter(
        # a rewritten sameAs statement may collapse to a reflexive loop
        ~((F.col("pred") == OWL_SAMEAS) & (F.col("subj") == F.col("obj_value")))
    )

    out = df.unionByName(sym.select(*df.columns)).unionByName(
        rewritten.select(*df.columns)
    )
    key = [c for c in out.columns if c != "origin"]
    return out.groupBy(*key).agg(F.min("origin").alias("origin"))


def owl_lite_closure(df: DataFrame, spark=None) -> DataFrame:
    """OWL-RL-lite entailment: the property-axiom subset of Jena's OWL
    reasoner that instance data commonly exercises —

    * ``owl:inverseOf``      (prp-inv1/2): x p y ⇒ y q x
    * ``owl:SymmetricProperty`` (prp-symp): x p y ⇒ y p x
    * ``owl:TransitiveProperty`` (prp-trp): full closure per predicate
      (:func:`~rdfshape_api_spark.operators.algebra.transitive_closure`)
    * ``owl:equivalentClass`` (cax-eqc1/2): typed as one ⇒ typed as both

    Schema axioms are tiny → collected and broadcast like
    :func:`rdfs_closure`; entailed rows carry ``origin='inferred'``.
    Everything else in OWL (restrictions, sameAs identity, hasValue…) is
    deliberately out of scope — see SURVEY §2.8.
    """
    spark = spark or df.sparkSession
    axioms = (
        df.filter(
            (F.col("pred").isin(OWL_INVERSE_OF, OWL_EQUIV_CLASS))
            | ((F.col("pred") == RDF_TYPE) & F.col("obj_value").isin(OWL_SYMMETRIC, OWL_TRANSITIVE))
        )
        .select("pred", "subj", "obj_value")
        .collect()
    )
    inverse = [(r["subj"], r["obj_value"]) for r in axioms if r["pred"] == OWL_INVERSE_OF]
    equiv = [(r["subj"], r["obj_value"]) for r in axioms if r["pred"] == OWL_EQUIV_CLASS]
    symmetric = sorted(
        {r["subj"] for r in axioms if r["pred"] == RDF_TYPE and r["obj_value"] == OWL_SYMMETRIC}
    )
    transitive = sorted(
        {r["subj"] for r in axioms if r["pred"] == RDF_TYPE and r["obj_value"] == OWL_TRANSITIVE}
    )

    base = ["repo", "path", "commit", "doc_sha256"] if "repo" in df.columns else ["doc_sha256"]

    def _node_kind(col) -> F.Column:
        """Kind of a node moving into object position: raw blank-node
        labels stay bnodes (skolemized subjects are urn:skolem: IRIs)."""
        return F.when(col.startswith("_:"), F.lit("bnode")).otherwise(F.lit(KIND_IRI))

    def _swap(src: DataFrame, new_pred_col) -> DataFrame:
        """(x p y) → (y q x); only non-literal objects can be subjects."""
        return src.filter(F.col("obj_kind") != "literal").select(
            *base,
            F.col("obj_value").alias("subj"),
            new_pred_col.alias("pred"),
            _node_kind(F.col("subj")).alias("obj_kind"),
            F.col("subj").alias("obj_value"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit("inferred").alias("origin"),
        )

    # compose with rdfs_closure: an existing origin column is preserved so
    # RDFS-inferred rows stay 'inferred' through the OWL pass
    if "origin" in df.columns:
        parts = [df]
        df = df.drop("origin")
    else:
        parts = [df.withColumn("origin", F.lit("asserted"))]
    if inverse:
        # both directions (owl:inverseOf is symmetric over the axiom pair)
        pairs = inverse + [(q, p) for p, q in inverse]
        inv_df = spark.createDataFrame(pairs, "p string, q string")
        j = df.join(F.broadcast(inv_df), df["pred"] == inv_df["p"])
        parts.append(_swap(j, F.col("q")))
    if symmetric:
        sym = df.filter(F.col("pred").isin(*symmetric))
        parts.append(_swap(sym, F.col("pred")))
    if equiv:
        pairs = equiv + [(d, c) for c, d in equiv]
        eq_df = spark.createDataFrame(pairs, "c string, d string")
        typed = df.filter(F.col("pred") == RDF_TYPE)
        j = typed.join(F.broadcast(eq_df), typed["obj_value"] == eq_df["c"])
        parts.append(
            j.select(
                *base,
                "subj",
                F.lit(RDF_TYPE).alias("pred"),
                F.lit(KIND_IRI).alias("obj_kind"),
                F.col("d").alias("obj_value"),
                F.lit(None).cast("string").alias("obj_lang"),
                F.lit(None).cast("string").alias("obj_datatype"),
                F.lit("inferred").alias("origin"),
            )
        )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)

    if transitive:
        # one closure for all transitive predicates: `pred` is a join key,
        # so chains never mix predicates
        keys = [*base, "pred"]
        asserted = out.filter(
            F.col("pred").isin(*transitive) & (F.col("obj_kind") != "literal")
        ).select(*keys, "subj", "obj_value")
        entailed = transitive_closure(asserted, "subj", "obj_value", keys).subtract(
            asserted
        )
        out = out.unionByName(
            entailed.select(
                *base,
                "subj",
                "pred",
                _node_kind(F.col("obj_value")).alias("obj_kind"),
                "obj_value",
                F.lit(None).cast("string").alias("obj_lang"),
                F.lit(None).cast("string").alias("obj_datatype"),
                F.lit("inferred").alias("origin"),
            )
        )

    key = [c for c in out.columns if c != "origin"]
    return out.groupBy(*key).agg(F.min("origin").alias("origin"))


def apply_inference(df: DataFrame, engine: str = "NONE") -> DataFrame:
    """The reference's applyInference dispatch (NONE default,
    ApiDefaults.scala:60; engines from InferenceEngine.availableInferenceEngines,
    ApiDefinitions.scala:59-60).

    OWL mode's ``owl:sameAs`` semantics are a representative-form rewrite
    (:func:`owl_sameas_closure`), weaker than the full eq-rep
    materialization of the reference's Jena OWL reasoner: merged triples
    are entailed only for each identity cluster's canonical (lexicographic
    min) member, not copied onto every member."""
    eng = (engine or "NONE").upper()
    if eng == "NONE":
        return df
    if eng == "RDFS":
        return rdfs_closure(df)
    if eng == "OWL":
        # RDFS rules + the OWL-lite property/class axiom subset + sameAs
        # identity merge (representative form); origin labels survive the
        # composition (rdfs-inferred stays 'inferred')
        return owl_sameas_closure(owl_lite_closure(rdfs_closure(df)))
    raise ValueError(f"inference engine {engine!r} not supported (NONE | RDFS | OWL)")
