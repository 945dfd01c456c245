"""Sinks / serialization (SURVEY §2.2 K1/K2).

Reference: ``DataConvert.dataConvert`` re-serializes a model to any
RdfFormat (``modules/server/.../data/logic/operations/DataConvert.scala:66-127``)
and builds JSON/DOT visual graphs (:83-120).  Spark mapping:

* **N-Triples / N-Quads / TriG emitters** — pure columnar ``concat``
  (+ per-document graph blocks for NQ/TriG);
* **Turtle emitter** — two-level groupBy assembly, fully columnar;
* **RDF/XML / JSON-LD / RDF-JSON emitters** — two-level groupBy assembly
  with columnar XML/JSON escaping; round-trip-checked against this
  package's own parsers (parse(serialize(g)) == g, SURVEY §5);
* **JSON adjacency export** (K2) — ``groupBy(subj).agg(collect_list(...))``
  → ``toJSON``;
* **DOT visual graph** — per-document DOT statements as rows
  (:func:`to_dot`; content-addressed node ids keep generation map-side);
  SVG/PNG rasterization of the DOT text stays out of scope (Graphviz
  presentation, ``GraphicFormat.scala:22``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rdfshape_api_spark.model import KIND_BNODE, KIND_IRI, KIND_LITERAL


def _nt_escape(col):
    c = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    c = F.replace(c, F.lit("\t"), F.lit("\\t"))
    return F.replace(c, F.lit("\r"), F.lit("\\r"))


def nt_term_obj() -> F.Column:
    v = F.col("obj_value")
    lit = F.concat(F.lit('"'), _nt_escape(v), F.lit('"'))
    lit = F.when(
        F.col("obj_lang").isNotNull(), F.concat(lit, F.lit("@"), F.col("obj_lang"))
    ).when(
        F.col("obj_datatype").isNotNull(),
        F.concat(lit, F.lit("^^<"), F.col("obj_datatype"), F.lit(">")),
    ).otherwise(lit)
    return (
        F.when(F.col("obj_kind") == KIND_IRI, F.concat(F.lit("<"), v, F.lit(">")))
        .when(F.col("obj_kind") == KIND_BNODE,
              F.when(v.startswith("_:"), v).otherwise(F.concat(F.lit("<"), v, F.lit(">"))))
        .otherwise(lit)
    )


def to_ntriples(df: DataFrame) -> DataFrame:
    """One N-Triples line per triple — fully columnar (no Python).
    Skolemized bnodes serialize as their skolem IRIs (deterministic)."""
    subj_term = F.when(
        F.col("subj").startswith("_:"), F.col("subj")
    ).otherwise(F.concat(F.lit("<"), F.col("subj"), F.lit(">")))
    return df.select(
        F.concat_ws(
            " ",
            subj_term,
            F.concat(F.lit("<"), F.col("pred"), F.lit(">")),
            nt_term_obj(),
            F.lit("."),
        ).alias("line")
    )


def to_json_graph(df: DataFrame) -> DataFrame:
    """K2 JSON adjacency export: one row per subject with its arcs."""
    return (
        df.groupBy("subj")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("pred"),
                    F.col("obj_kind"),
                    F.col("obj_value"),
                    F.col("obj_lang"),
                    F.col("obj_datatype"),
                )
            ).alias("arcs")
        )
    )


def to_turtle_per_doc(df: DataFrame) -> DataFrame:
    """Turtle pretty-printer: per (doc, subj) grouped rendering.

    Columnar assembly: predicate-object groups via two-level aggregation,
    final string concat with array functions — no Python stage needed for
    this simple (prefix-free, absolute-IRI) profile.
    """
    obj_term = nt_term_obj()
    po = df.groupBy("doc_sha256", "subj", "pred").agg(
        F.array_join(F.sort_array(F.collect_list(obj_term)), ", ").alias("objs")
    )
    stmts = po.groupBy("doc_sha256", "subj").agg(
        F.array_join(
            F.sort_array(F.collect_list(F.concat(F.lit("<"), F.col("pred"), F.lit("> "), F.col("objs")))),
            " ;\n    ",
        ).alias("body")
    )
    subj_term = F.when(F.col("subj").startswith("_:"), F.col("subj")).otherwise(
        F.concat(F.lit("<"), F.col("subj"), F.lit(">"))
    )
    return stmts.select(
        "doc_sha256",
        F.concat(subj_term, F.lit(" "), F.col("body"), F.lit(" .")).alias("turtle"),
    )


def to_nquads(df: DataFrame) -> DataFrame:
    """One N-Quads line per triple, graph label = the per-document graph
    ``urn:doc:<doc_sha256>`` (the same naming the SPARQL ``GRAPH``
    extension exposes) — fully columnar, like :func:`to_ntriples`.
    Reference parity: N-Quads is an output RdfFormat of DataConvert
    (``RdfFormat.scala:18-29``, ``DataConvert.scala:66-127``); the
    reference's merged model drops per-source graph labels, so emitting
    the per-document provenance graph is the engine's strictly-richer
    variant."""
    subj_term = F.when(
        F.col("subj").startswith("_:"), F.col("subj")
    ).otherwise(F.concat(F.lit("<"), F.col("subj"), F.lit(">")))
    return df.select(
        F.concat_ws(
            " ",
            subj_term,
            F.concat(F.lit("<"), F.col("pred"), F.lit(">")),
            nt_term_obj(),
            F.concat(F.lit("<urn:doc:"), F.col("doc_sha256"), F.lit(">")),
            F.lit("."),
        ).alias("line")
    )


def to_trig(df: DataFrame) -> DataFrame:
    """TriG emitter: one ``<urn:doc:sha> { … }`` graph block per document
    (RdfFormat.scala:18-29 lists TriG as a DataConvert output format; the
    graph label mirrors :func:`to_nquads`).  Fully columnar: N-Triples
    statement lines sorted + assembled per document with one aggregation.
    Returns ``(doc_sha256, trig)``."""
    subj_term = F.when(
        F.col("subj").startswith("_:"), F.col("subj")
    ).otherwise(F.concat(F.lit("<"), F.col("subj"), F.lit(">")))
    line = F.concat_ws(
        " ",
        subj_term,
        F.concat(F.lit("<"), F.col("pred"), F.lit(">")),
        nt_term_obj(),
        F.lit("."),
    )
    body = df.groupBy("doc_sha256").agg(
        F.array_join(F.sort_array(F.collect_list(line)), "\n  ").alias("_body")
    )
    return body.select(
        "doc_sha256",
        F.concat(
            F.lit("<urn:doc:"),
            F.col("doc_sha256"),
            F.lit("> {\n  "),
            F.col("_body"),
            F.lit("\n}"),
        ).alias("trig"),
    )


# ---------------------------------------------------------------------------
# RDF/XML / JSON-LD / RDF-JSON emitters (K1, RdfFormat.scala:18-29).  All
# three are two-level groupBy assembly with pure-columnar escaping — no
# Python stage.  Round-trip property: parse(serialize(g)) == g through this
# package's own parsers (SURVEY §5's property-test model).
# ---------------------------------------------------------------------------


def _xml_escape_text(col):
    """XML character-data escaping. ``\\r`` must be character-referenced:
    XML parsers normalize literal CR to LF in text content."""
    c = F.replace(col, F.lit("&"), F.lit("&amp;"))
    c = F.replace(c, F.lit("<"), F.lit("&lt;"))
    c = F.replace(c, F.lit(">"), F.lit("&gt;"))
    return F.replace(c, F.lit("\r"), F.lit("&#13;"))


def _xml_escape_attr(col):
    """XML attribute-value escaping: text escapes + quote, and whitespace
    character references (attribute-value normalization folds literal
    TAB/LF/CR to spaces)."""
    c = _xml_escape_text(col)
    c = F.replace(c, F.lit('"'), F.lit("&quot;"))
    c = F.replace(c, F.lit("\n"), F.lit("&#10;"))
    return F.replace(c, F.lit("\t"), F.lit("&#9;"))


_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def to_rdfxml_per_doc(df: DataFrame) -> DataFrame:
    """RDF/XML emitter: one XML document per ``doc_sha256``.

    Striped profile: one ``rdf:Description`` per subject (``rdf:about`` /
    ``rdf:nodeID``), one property element per triple.  Each property
    element declares its own namespace (``<p:local xmlns:p="ns">``), which
    sidesteps the per-document prefix table entirely — element-local xmlns
    is valid XML and namespace-identical after parsing.  The predicate
    IRI must end in an NCName (the same "cannot split URI" constraint
    Jena's RDF/XML writer has); violations raise at execution.

    Returns ``(doc_sha256, xml)``.  Serialize from *raw* (pre-skolem)
    triples to round-trip blank-node identity."""
    pred, v = F.col("pred"), F.col("obj_value")
    local = F.regexp_extract(pred, r"([A-Za-z_][A-Za-z0-9_.\-]*)$", 1)
    local = F.when(local != "", local).otherwise(
        F.raise_error(
            F.concat(
                F.lit("RDF/XML: cannot split predicate IRI into "
                      "namespace + NCName local part: "),
                pred,
            )
        )
    )
    ns = pred.substr(F.lit(1), F.length(pred) - F.length(local))
    start = F.concat(
        F.lit("<p:"), local, F.lit(' xmlns:p="'), _xml_escape_attr(ns), F.lit('"')
    )
    attr_lang = F.when(
        F.col("obj_lang").isNotNull(),
        F.concat(F.lit(' xml:lang="'), _xml_escape_attr(F.col("obj_lang")), F.lit('"')),
    ).otherwise(F.lit(""))
    attr_dt = F.when(
        F.col("obj_lang").isNull() & F.col("obj_datatype").isNotNull(),
        F.concat(
            F.lit(' rdf:datatype="'), _xml_escape_attr(F.col("obj_datatype")), F.lit('"')
        ),
    ).otherwise(F.lit(""))
    prop_el = (
        F.when(
            F.col("obj_kind") == KIND_IRI,
            F.concat(start, F.lit(' rdf:resource="'), _xml_escape_attr(v), F.lit('"/>')),
        )
        .when(
            (F.col("obj_kind") == KIND_BNODE) & v.startswith("_:"),
            F.concat(
                start,
                F.lit(' rdf:nodeID="'),
                _xml_escape_attr(F.substring(v, 3, 1 << 30)),
                F.lit('"/>'),
            ),
        )
        .when(
            # skolemized bnode (post-canonicalize input): plain resource ref
            F.col("obj_kind") == KIND_BNODE,
            F.concat(start, F.lit(' rdf:resource="'), _xml_escape_attr(v), F.lit('"/>')),
        )
        .otherwise(
            F.concat(
                start, attr_lang, attr_dt, F.lit(">"),
                _xml_escape_text(v),
                F.lit("</p:"), local, F.lit(">"),
            )
        )
    )
    per_subj = df.groupBy("doc_sha256", "subj").agg(
        F.array_join(F.sort_array(F.collect_list(prop_el)), "\n    ").alias("_props")
    )
    subj_attr = F.when(
        F.col("subj").startswith("_:"),
        F.concat(
            F.lit('rdf:nodeID="'),
            _xml_escape_attr(F.substring(F.col("subj"), 3, 1 << 30)),
            F.lit('"'),
        ),
    ).otherwise(
        F.concat(F.lit('rdf:about="'), _xml_escape_attr(F.col("subj")), F.lit('"'))
    )
    desc = F.concat(
        F.lit("<rdf:Description "), subj_attr, F.lit(">\n    "),
        F.col("_props"), F.lit("\n  </rdf:Description>"),
    )
    per_doc = per_subj.select("doc_sha256", desc.alias("_desc")).groupBy(
        "doc_sha256"
    ).agg(F.array_join(F.sort_array(F.collect_list("_desc")), "\n  ").alias("_body"))
    return per_doc.select(
        "doc_sha256",
        F.concat(
            F.lit('<?xml version="1.0" encoding="utf-8"?>\n'
                  f'<rdf:RDF xmlns:rdf="{_RDF_NS}">\n  '),
            F.col("_body"),
            F.lit("\n</rdf:RDF>"),
        ).alias("xml"),
    )


def _json_escape(col):
    """JSON string-literal escaping for hand-assembled fragments (only the
    ``@id`` key needs it — every other value goes through ``to_json``)."""
    c = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    c = F.replace(c, F.lit("\t"), F.lit("\\t"))
    return F.replace(c, F.lit("\r"), F.lit("\\r"))


def to_jsonld_per_doc(df: DataFrame) -> DataFrame:
    """JSON-LD emitter (expanded form): one top-level node-object array per
    document — ``[{"@id": s, "<pred>": [{"@id"|"@value"[, "@language" |
    "@type"]}…]}, …]``, keys and arrays deterministically sorted.

    Columnar assembly: the per-subject predicate map is one
    ``map_from_entries`` + ``to_json`` (null fields dropped, so ``@value``
    vs ``@id`` objects come out shape-correct); only the ``@id`` key is
    string-spliced.  Returns ``(doc_sha256, jsonld)``."""
    kind = F.col("obj_kind")
    obj_struct = F.struct(
        F.when(kind != KIND_LITERAL, F.col("obj_value")).alias("@id"),
        F.when(kind == KIND_LITERAL, F.col("obj_value")).alias("@value"),
        F.when(kind == KIND_LITERAL, F.col("obj_lang")).alias("@language"),
        F.when(
            (kind == KIND_LITERAL) & F.col("obj_lang").isNull(),
            F.col("obj_datatype"),
        ).alias("@type"),
    )
    po = df.groupBy("doc_sha256", "subj", "pred").agg(
        F.sort_array(F.collect_list(obj_struct)).alias("_objs")
    )
    node = po.groupBy("doc_sha256", "subj").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct(F.col("pred"), F.col("_objs"))))
        ).alias("_pm")
    )
    node_json = F.concat(
        F.lit('{"@id":"'),
        _json_escape(F.col("subj")),
        F.lit('",'),
        F.substring(
            F.to_json(F.col("_pm"), {"ignoreNullFields": "true"}), 2, 1 << 30
        ),
    )
    per_doc = node.select("doc_sha256", node_json.alias("_node")).groupBy(
        "doc_sha256"
    ).agg(
        F.concat(
            F.lit("["),
            F.array_join(F.sort_array(F.collect_list("_node")), ","),
            F.lit("]"),
        ).alias("jsonld")
    )
    return per_doc


def to_rdfjson_per_doc(df: DataFrame) -> DataFrame:
    """RDF/JSON (Talis) emitter: ``{subj: {pred: [{type, value, lang?,
    datatype?}]}}`` per document (RdfFormat.scala:18-29 lists RDF/JSON).

    The per-subject predicate map is one ``to_json``; subject keys are
    spliced (maps are not orderable in Spark, so the outer object is
    assembled from sorted per-subject fragments).  Returns
    ``(doc_sha256, rdfjson)``."""
    kind = F.col("obj_kind")
    obj_struct = F.struct(
        F.when(kind == KIND_IRI, F.lit("uri"))
        .when(kind == KIND_BNODE, F.lit("bnode"))
        .otherwise(F.lit("literal"))
        .alias("type"),
        F.col("obj_value").alias("value"),
        F.when(kind == KIND_LITERAL, F.col("obj_lang")).alias("lang"),
        F.when(
            (kind == KIND_LITERAL) & F.col("obj_lang").isNull(),
            F.col("obj_datatype"),
        ).alias("datatype"),
    )
    po = df.groupBy("doc_sha256", "subj", "pred").agg(
        F.sort_array(F.collect_list(obj_struct)).alias("_objs")
    )
    node = po.groupBy("doc_sha256", "subj").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct(F.col("pred"), F.col("_objs"))))
        ).alias("_pm")
    )
    entry = F.concat(
        F.lit('"'),
        _json_escape(F.col("subj")),
        F.lit('":'),
        F.to_json(F.col("_pm"), {"ignoreNullFields": "true"}),
    )
    return node.select("doc_sha256", entry.alias("_e")).groupBy("doc_sha256").agg(
        F.concat(
            F.lit("{"),
            F.array_join(F.sort_array(F.collect_list("_e")), ","),
            F.lit("}"),
        ).alias("rdfjson")
    )


# ---------------------------------------------------------------------------
# DOT visual-graph export (reference: DataConvert builds a DOT SGraph via
# RDF2SGraph/sgraph.toDot, DataConvert.scala:83-120; the SVG/PNG/PS raster
# step is Graphviz presentation and stays out of scope — the DOT text IS
# the conversion result, exactly what the reference's Dot target returns).
# ---------------------------------------------------------------------------


def _dot_escape(col):
    """Escaping for DOT double-quoted string literals."""
    c = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    return F.replace(c, F.lit("\r"), F.lit("\\r"))


def _qname(col, prefixes):
    """Compact an IRI column to ``pfx:local`` under a left-biased prefix
    list (first matching prefix wins; the local part must not contain
    ``/`` or ``#``, mirroring the prefix-map compaction the reference
    gets from SRDF's PrefixMap.qualify).  Falls back to the full IRI."""
    out = col
    for pfx, iri in reversed(list(prefixes)):
        rest = F.substring(col, len(iri) + 1, 1 << 20)
        hit = col.startswith(iri) & (F.length(col) > len(iri)) & ~rest.rlike("[/#]")
        out = F.when(hit, F.concat(F.lit(pfx + ":"), rest)).otherwise(out)
    return out


def to_dot(df: DataFrame, prefixes) -> DataFrame:
    """DOT body statements for each per-document visual graph, one
    statement per row: ``(doc_sha256, line)``.

    Node identity is content-addressed (md5 of the term), so statement
    generation is embarrassingly parallel and set-semantics — no driver
    assembly, no collect; a document's full ``digraph { … }`` text is a
    KB-sized presentation concat (:func:`assemble_dot`).  IRI and bnode
    terms are shared nodes keyed by the term itself; a literal is keyed by
    its *occurrence* ``(subj, pred, literal)`` — literals are values, not
    identities, so two subjects with the same literal value draw two leaf
    boxes (the convention Graphviz RDF renderers use, and what keeps the
    node list a pure per-triple map stage).

    Shapes: IRI → ellipse, bnode → circle, literal → record.  Labels are
    prefix-compacted qnames (left-biased, :func:`_qname`); literal labels
    carry ``@lang`` / ``^^dtype-qname`` suffixes like Turtle.

    Reference: ``DataConvert.scala:83-120`` (sgraph.toDot with
    RDFDotPreferences.defaultRDFPrefs).
    """
    prefixes = list(prefixes)
    subj_is_bnode = F.col("subj").startswith("_:")
    subj_id = F.md5(F.concat(F.lit("r|"), F.col("subj")))

    lit_text = F.concat(
        _dot_escape(F.col("obj_value")),
        F.when(F.col("obj_lang").isNotNull(), F.concat(F.lit("@"), F.col("obj_lang")))
        .when(
            F.col("obj_datatype").isNotNull(),
            F.concat(F.lit("^^"), _qname(F.col("obj_datatype"), prefixes)),
        )
        .otherwise(F.lit("")),
    )
    obj_is_lit = F.col("obj_kind") == KIND_LITERAL
    obj_id = F.when(
        obj_is_lit,
        F.md5(F.concat_ws("|", F.lit("l"), F.col("subj"), F.col("pred"), lit_text)),
    ).otherwise(F.md5(F.concat(F.lit("r|"), F.col("obj_value"))))

    def node_line(node_id, shape, label):
        return F.concat(
            F.lit('"N'), node_id, F.lit('" [shape='), shape,
            F.lit(', label="'), label, F.lit('"];'),
        )

    subj_nodes = df.select(
        "doc_sha256",
        node_line(
            subj_id,
            F.when(subj_is_bnode, F.lit("circle")).otherwise(F.lit("ellipse")),
            F.when(subj_is_bnode, _dot_escape(F.col("subj"))).otherwise(
                _dot_escape(_qname(F.col("subj"), prefixes))
            ),
        ).alias("line"),
    )
    obj_nodes = df.select(
        "doc_sha256",
        node_line(
            obj_id,
            F.when(obj_is_lit, F.lit("record"))
            .when(F.col("obj_kind") == KIND_BNODE, F.lit("circle"))
            .otherwise(F.lit("ellipse")),
            F.when(obj_is_lit, lit_text)
            .when(
                F.col("obj_kind") == KIND_BNODE,
                F.when(
                    F.col("obj_value").startswith("_:"), _dot_escape(F.col("obj_value"))
                ).otherwise(_dot_escape(_qname(F.col("obj_value"), prefixes))),
            )
            .otherwise(_dot_escape(_qname(F.col("obj_value"), prefixes))),
        ).alias("line"),
    )
    edges = df.select(
        "doc_sha256",
        F.concat(
            F.lit('"N'), subj_id, F.lit('" -> "N'), obj_id,
            F.lit('" [label="'), _dot_escape(_qname(F.col("pred"), prefixes)),
            F.lit('"];'),
        ).alias("line"),
    )
    return subj_nodes.unionByName(obj_nodes).unionByName(edges).distinct()


def assemble_dot(lines_df: DataFrame, doc_sha256: str, name: str = "rdf") -> str:
    """Presentation-only: concatenate ONE document's statements into a
    complete ``digraph`` text (KB-sized collect, like the reference's
    per-request response body)."""
    rows = (
        lines_df.where(F.col("doc_sha256") == doc_sha256)
        .select("line").orderBy("line").collect()
    )
    body = "\n".join("  " + r["line"] for r in rows)
    return f'digraph "{name}" {{\n{body}\n}}'


def severity_by_reason(schema) -> dict[str, str]:
    """``reason text → sh:severity IRI`` for every constraint of a
    compiled SHACL schema carrying an explicit non-default ``sh:severity``
    (spec §2.3.2.2).  Keys are the exact strings
    :func:`plans.validate.reason_text` produces — the single shared
    definition — so the report renderer can recover per-result severities
    from the verdict's ``reasons`` column without re-running validation."""
    from rdfshape_api_spark.model import SH
    from rdfshape_api_spark.plans.validate import reason_text

    # conflict detection must consider EVERY constraint's effective
    # severity — including the default sh:Violation ones the returned map
    # omits — or a Warning constraint sharing its reason text with a
    # default-severity constraint would silently demote that constraint's
    # Violation results through the shared join key
    effective: dict[str, str] = {}
    out: dict[str, str] = {}
    for sh_ in schema.shapes.values():
        for tc in list(sh_.constraints) + [
            t for grp in (sh_.alternatives or []) for t in grp
        ]:
            sev = getattr(tc, "severity", None) or SH + "Violation"
            key = reason_text(tc)
            if key in effective and effective[key] != sev:
                # reason text is the ONLY join key between verdicts and
                # the schema — two constraints sharing a message but
                # carrying different severities cannot be told apart
                raise ValueError(
                    "severity_by_reason: reason text "
                    f"{key!r} maps to conflicting severities "
                    f"{effective[key]} and {sev}; give the constraints "
                    "distinct sh:message values"
                )
            effective[key] = sev
            if sev != SH + "Violation":
                out[key] = sev
    return out


def path_by_reason(schema) -> dict[str, str]:
    """``reason text → predicate IRI`` for constraints over a plain
    forward predicate — feeds ``sh:resultPath`` in the per-constraint
    report (spec §3.4).  Inverse / sequence / closure paths are omitted
    (their SHACL form is a blank-node path structure; resultPath is
    optional, so omission is valid)."""
    from rdfshape_api_spark.plans.validate import reason_text

    # like severity_by_reason: conflict detection ranges over EVERY
    # constraint (non-plain-path ones contribute path None), so a plain
    # predicate's path can never silently attach to a same-text
    # constraint whose real path is inverse/sequence/closure
    effective: dict[str, str | None] = {}
    out: dict[str, str] = {}
    for sh_ in schema.shapes.values():
        for tc in list(sh_.constraints) + [
            t for grp in (sh_.alternatives or []) for t in grp
        ]:
            plain = tc.path is None and not tc.inverse and tc.pred
            path = tc.pred if plain else None
            key = reason_text(tc)
            if key in effective and effective[key] != path:
                raise ValueError(
                    "path_by_reason: reason text "
                    f"{key!r} maps to conflicting paths "
                    f"{effective[key]} and {path}; give the constraints "
                    "distinct sh:message values"
                )
            effective[key] = path
            if plain:
                out[key] = tc.pred
    return out


def validation_report_triples(
    verdicts: DataFrame,
    include_messages: bool = True,
    severity_of: dict[str, str] | None = None,
    per_constraint: bool = False,
    result_path_of: dict[str, str] | None = None,
) -> DataFrame:
    """Render a verdict DataFrame ``(doc_sha256, node, shape_id, status[,
    reasons])`` as a standard SHACL **ValidationReport** graph (spec §3) in
    this engine's triple schema — per document: one ``sh:ValidationReport``
    node with ``sh:conforms``, plus one ``sh:ValidationResult`` per
    nonconformant focus (``sh:focusNode``, ``sh:sourceShape``,
    ``sh:resultSeverity sh:Violation`` and, when ``include_messages``,
    one ``sh:resultMessage`` per reason).  Reference parity: the
    rdfshape-api validate endpoints return shaclex's report graph
    (``SchemaService.scala:80-84``); here the report is itself a triples
    DataFrame, so every serializer (N-Triples/Turtle/JSON-LD/…) applies
    to it unchanged, distributed.

    Report/result IRIs are deterministic skolems (``urn:report:<doc>`` /
    ``urn:report:<doc>:<n>``) so the output is stable and oracle-hashable.
    ``per_constraint=True`` switches to the spec-shaped report — one
    ``sh:ValidationResult`` per violated constraint, with per-reason
    ``sh:resultMessage`` / ``sh:resultSeverity`` (``severity_of``, see
    :func:`severity_by_reason`) and ``sh:resultPath`` (``result_path_of``,
    see :func:`path_by_reason`).
    All Column logic — two map-side projections plus one per-doc
    aggregate for ``sh:conforms``; no Python, no driver loop.
    """
    from rdfshape_api_spark.model import SH, STATUS_CONFORMANT

    # An explicit sh:Violation entry in the caller's map must rank like the
    # unmapped default (highest), not like a custom IRI below Warning/Info —
    # strip such entries so those reasons take the unmapped short-circuit.
    if severity_of:
        severity_of = {
            t: s for t, s in severity_of.items() if s != SH + "Violation"
        }

    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    xsd_bool = "http://www.w3.org/2001/XMLSchema#boolean"
    report = F.concat(F.lit("urn:report:"), F.col("doc_sha256"))
    cols = ["doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"]

    def _row(subj, pred, kind, value, dt=None):
        return F.struct(
            subj.alias("subj"),
            F.lit(pred).alias("pred"),
            F.lit(kind).alias("obj_kind"),
            value.alias("obj_value"),
            F.lit(None).cast("string").alias("obj_lang"),
            (F.lit(dt) if dt else F.lit(None)).cast("string").alias("obj_datatype"),
        )

    # per-doc header: report node, type, conforms
    conforms = (
        verdicts.groupBy("doc_sha256")
        .agg(
            F.min(
                (F.col("status") == STATUS_CONFORMANT).cast("int")
            ).alias("_all_ok")
        )
        .select(
            "doc_sha256",
            F.explode(
                F.array(
                    _row(report, rdf_type, "iri", F.lit(SH + "ValidationReport")),
                    _row(
                        report,
                        SH + "conforms",
                        "literal",
                        F.when(F.col("_all_ok") == 1, F.lit("true")).otherwise(
                            F.lit("false")
                        ),
                        dt=xsd_bool,
                    ),
                )
            ).alias("t"),
        )
        .select("doc_sha256", "t.*")
    )
    bad = verdicts.filter(F.col("status") != STATUS_CONFORMANT)
    if per_constraint:
        # Spec-shaped report: ONE sh:ValidationResult per violated
        # constraint (what shaclex emits), with message / severity /
        # sh:resultPath resolved per reason.  The aggregate default keeps
        # one result per focus node — smaller at corpus scale and
        # hash-stable for the driver oracle (whose golden verdicts carry
        # no reasons) — so this mode is opt-in API surface.
        # distinct: a reason repeated for one (node, shape) would skolemize
        # to the SAME result IRI and emit duplicate triples, inflating
        # counts in downstream set-semantics tables
        reasons_arr = (
            F.array_distinct(F.col("reasons"))
            if "reasons" in verdicts.columns
            else F.array().cast("array<string>")
        )
        exploded = bad.withColumn(
            "_m",
            F.explode(
                F.when(F.size(reasons_arr) > 0, reasons_arr).otherwise(
                    F.array(F.lit("violation"))
                )
            ),
        )
        pres = F.concat(
            F.lit("urn:report:"),
            F.col("doc_sha256"),
            F.lit(":"),
            F.sha2(F.concat_ws("\x1f", "node", "shape_id", "_m"), 256).substr(1, 16),
        )
        sev_expr = F.lit(SH + "Violation")
        for txt, sev in sorted((severity_of or {}).items()):
            sev_expr = F.when(F.col("_m") == txt, F.lit(sev)).otherwise(sev_expr)
        rows = [
            _row(report, SH + "result", "iri", pres),
            _row(pres, rdf_type, "iri", F.lit(SH + "ValidationResult")),
            _row(pres, SH + "focusNode", "iri", F.col("node")),
            _row(pres, SH + "sourceShape", "iri", F.col("shape_id")),
            _row(pres, SH + "resultSeverity", "iri", sev_expr),
        ]
        if include_messages:
            rows.append(_row(pres, SH + "resultMessage", "literal", F.col("_m")))
        results = exploded.select(
            "doc_sha256", F.explode(F.array(*rows)).alias("t")
        ).select("doc_sha256", "t.*")
        out = conforms.unionByName(results)
        if result_path_of:
            path_expr = F.lit(None).cast("string")
            for txt, p in sorted(result_path_of.items()):
                path_expr = F.when(F.col("_m") == txt, F.lit(p)).otherwise(path_expr)
            paths = exploded.select(
                "doc_sha256",
                pres.alias("subj"),
                F.lit(SH + "resultPath").alias("pred"),
                F.lit("iri").alias("obj_kind"),
                path_expr.alias("obj_value"),
                F.lit(None).cast("string").alias("obj_lang"),
                F.lit(None).cast("string").alias("obj_datatype"),
            ).filter(F.col("obj_value").isNotNull())
            out = out.unionByName(paths)
        return out.select(*cols)
    res = F.concat(
        F.lit("urn:report:"),
        F.col("doc_sha256"),
        F.lit(":"),
        F.sha2(F.concat_ws("\x1f", "node", "shape_id"), 256).substr(1, 16),
    )
    # per-result severity: a result's severity is the highest-ranked among
    # its violated constraints' (Violation > Warning > Info > custom IRIs,
    # spec §2.3.2.2); any reason NOT in the map is a default-severity
    # (Violation) constraint — including reasons from evaluators that do
    # not flow through reason_text — so unknowns always rank highest
    sev_col = F.lit(SH + "Violation")
    if severity_of and "reasons" in verdicts.columns:
        mapped = sorted(severity_of)
        arr_mapped = F.array(*[F.lit(t) for t in mapped])
        has_unmapped = F.exists(
            F.col("reasons"), lambda r: ~F.array_contains(arr_mapped, r)
        )
        ranked = [SH + "Warning", SH + "Info"] + sorted(
            {s for s in severity_of.values()} - {SH + "Warning", SH + "Info"}
        )
        sev_col = F.when(has_unmapped, F.lit(SH + "Violation"))
        for sev in ranked:
            texts = [t for t, s in severity_of.items() if s == sev]
            if texts:
                arr = F.array(*[F.lit(t) for t in texts])
                sev_col = sev_col.when(
                    F.exists(F.col("reasons"), lambda r: F.array_contains(arr, r)),
                    F.lit(sev),
                )
        sev_col = sev_col.otherwise(F.lit(SH + "Violation"))
    body_rows = [
        _row(report, SH + "result", "iri", res),
        _row(res, rdf_type, "iri", F.lit(SH + "ValidationResult")),
        _row(res, SH + "focusNode", "iri", F.col("node")),
        _row(res, SH + "sourceShape", "iri", F.col("shape_id")),
        _row(res, SH + "resultSeverity", "iri", sev_col),
    ]
    results = bad.select(
        "doc_sha256", F.explode(F.array(*body_rows)).alias("t")
    ).select("doc_sha256", "t.*")
    out = conforms.unionByName(results)
    if include_messages and "reasons" in verdicts.columns:
        msgs = (
            bad.select("doc_sha256", res.alias("subj"), F.explode("reasons").alias("m"))
            .select(
                "doc_sha256",
                "subj",
                F.lit(SH + "resultMessage").alias("pred"),
                F.lit("literal").alias("obj_kind"),
                F.col("m").alias("obj_value"),
                F.lit(None).cast("string").alias("obj_lang"),
                F.lit(None).cast("string").alias("obj_datatype"),
            )
        )
        out = out.unionByName(msgs)
    return out.select(*cols)
