"""The validation evaluator: constraint IR + triples DF → verdict DF.

Reference flagship (`SchemaValidate.schemaValidate`,
``modules/server/.../schema/logic/operations/SchemaValidate.scala:83-124``):
dispatches on trigger (ShapeMap for ShEx, TargetDecls for SHACL) and returns
per-(node, shape) verdicts.  Spark re-expression — **compile, don't
interpret** (SURVEY §2.7):

1. focus work-list F(doc, node, shape) — shapemap join J1 or target
   resolution J2;
2. per shape, ONE hash aggregation over the focus neighbourhood:
   ``groupBy(doc, node).agg(matched_i, total_i …)`` where each
   ``matched_i`` is a pure Column predicate (datatype validity, value set,
   numeric/string facets, node kind) — partial aggregation (map-side
   combine) is automatic, no per-row Python anywhere;
3. verdict: ∀i matched_i == total_i ∧ min_i ≤ matched_i ≤ max_i
   (ShEx closed-per-predicate matching without EXTRA ≡ SHACL value
   components + minCount/maxCount — see plans/ir.py); CLOSED adds
   "no unmentioned predicates"; EXTRA relaxes matched==total;
4. shape references (ShEx ``@ref`` / SHACL ``sh:node``, SURVEY §2.5 J3):
   referenced shapes evaluate first (DAG order) over *all* subjects, and
   the conformant set left-joins onto the referring constraint's value
   rows; cyclic references resolve via a greatest-fixpoint loop.

Scale: the only shuffles are (a) the groupBy(doc, node) aggregation and
(b) the focus join — both on the same key, so AQE can reuse the exchange;
value predicates are codegen'd; per-constraint reasons are built with
array functions, not UDFs.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import Column, DataFrame, functions as F

from rdfshape_api_spark.model import (
    KIND_LITERAL,
    STATUS_CONFORMANT,
    STATUS_NONCONFORMANT,
    XSD,
    XSD_STRING,
)
from rdfshape_api_spark.plans.ir import CompiledSchema, Shape, TripleConstraint
from rdfshape_api_spark.plans.shapemap import (
    Association,
    parse_shapemap,
    resolve_focus,
    resolve_targets,
)

# Lexical-form validity by datatype (checkDatatype operator, SURVEY §2.3 P5,
# MergedModels.scala:96-97). Unknown datatypes get no lexical check.
_LEXICAL = {
    XSD + "integer": r"^[+-]?\d+$",
    XSD + "decimal": r"^[+-]?(\d+\.?\d*|\.\d+)$",
    XSD + "dateTime": (
        r"^-?\d{4,}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?"
        r"(Z|[+-]\d{2}:\d{2})?$"
    ),
    XSD + "date": r"^-?\d{4,}-\d{2}-\d{2}(Z|[+-]\d{2}:\d{2})?$",
    XSD + "boolean": r"^(true|false|0|1)$",
}


def datatype_ok(datatype: str) -> Column:
    """Column predicate: value is a literal of `datatype` with a valid
    lexical form (plain literals count as xsd:string per RDF 1.1)."""
    is_lit = F.col("obj_kind") == KIND_LITERAL
    if datatype == XSD_STRING:
        dt_match = F.col("obj_datatype").isNull() | (F.col("obj_datatype") == XSD_STRING)
    else:
        dt_match = F.col("obj_datatype") == datatype
    ok = is_lit & dt_match & F.col("obj_lang").isNull()
    if datatype in (XSD + "double", XSD + "float"):
        ok = ok & F.col("obj_value").try_cast("double").isNotNull()
    elif datatype in _LEXICAL:
        ok = ok & F.col("obj_value").rlike(_LEXICAL[datatype])
    return ok


def reason_text(tc: TripleConstraint) -> str:
    """The violation reason string a per-constraint failure produces —
    ONE definition shared by the evaluators and by the report renderer's
    severity map (:func:`operators.serialize.severity_by_reason`), so the
    reason → sh:severity association can never drift from the text the
    verdict actually carries."""
    card = f"{{{tc.min_count},{tc.max_count if tc.max_count is not None else '*'}}}"
    kind = "qualified constraint" if tc.qualified else "constraint"
    pred_disp = tc.pred if tc.path is not None else f"<{tc.pred}>"
    return tc.message or f"{kind} on {pred_disp} {card} violated"


def _walk_value_nodes(tc: TripleConstraint, path: tuple = ()):
    """DFS over a constraint's value-expression tree.  Yields
    ``(path, node)`` where ``path`` is the node's address — a tuple of
    ``("d", j)`` (disjunct j) / ``("c", k)`` (conjunct k) steps from the
    constraint root.  This is the single traversal order shared by the
    column-assignment pass (``_ref_reqs``) and the compiled expression
    (``_value_ok``), so shape-reference / sh:class conformance columns
    resolve at ANY nesting depth — refs under nested ORs, under sh:xone
    members, inside mixed-polarity conjunctions, under NOT."""
    yield path, tc
    for j, d in enumerate(tc.disjuncts or []):
        yield from _walk_value_nodes(d, path + (("d", j),))
    for k, m in enumerate(tc.conjuncts or []):
        yield from _walk_value_nodes(m, path + (("c", k),))


def _value_ok(
    tc: TripleConstraint,
    colmap: dict[tuple, tuple[str | None, str | None]] | None = None,
    path: tuple = (),
) -> Column:
    """The compiled value expression: conjunction of the constraint's
    primitives (OR-of-disjuncts / NOT when present), all pure Column
    logic.  ``colmap`` maps a ``_walk_value_nodes`` path → the pair of
    boolean column names carrying that node's shape-reference / sh:class
    conformance (attached by ``_attach_refs`` joins); ``path`` is this
    node's own address in that tree."""
    if tc.conjuncts:
        # mixed-polarity value conjunction (`xsd:string AND NOT (…)`):
        # AND of the members' predicates; members may carry (possibly
        # negated) disjunctions and shape refs at any depth
        allok = F.lit(True)
        for k, m in enumerate(tc.conjuncts):
            allok = allok & F.coalesce(
                _value_ok(m, colmap, path + (("c", k),)), F.lit(False)
            )
        return ~allok if tc.negated else allok
    if tc.disjuncts:
        if tc.xone:
            # sh:xone: exactly one member holds for the value
            cnt = F.lit(0)
            for j, d in enumerate(tc.disjuncts):
                cnt = cnt + F.when(
                    F.coalesce(
                        _value_ok(d, colmap, path + (("d", j),)),
                        F.lit(False),
                    ),
                    1,
                ).otherwise(0)
            member = cnt == 1
            return ~member if tc.negated else member
        member = F.lit(False)
        for j, d in enumerate(tc.disjuncts):
            # coalesce: SQL three-valued logic would poison the OR with
            # nulls from e.g. `obj_datatype == X` on a null datatype
            member = member | F.coalesce(
                _value_ok(d, colmap, path + (("d", j),)),
                F.lit(False),
            )
        return ~member if tc.negated else member
    ok = F.lit(True)
    if tc.datatype:
        ok = ok & datatype_ok(tc.datatype)
    if tc.node_kind:
        k = F.col("obj_kind")
        ok = ok & {
            "iri": k == "iri",
            "bnode": k == "bnode",
            "literal": k == "literal",
            "nonliteral": k != "literal",
        }[tc.node_kind]
    if tc.value_set is not None:
        def _vs_match(kind: str, val: str):
            if kind == "literal":
                return (
                    (F.col("obj_kind") == KIND_LITERAL)
                    & (F.col("obj_value") == val)
                    & F.col("obj_lang").isNull()
                    & (F.col("obj_datatype").isNull() | (F.col("obj_datatype") == XSD_STRING)
                       | (F.col("obj_datatype") == XSD + "integer")
                       | (F.col("obj_datatype") == XSD + "decimal"))
                )
            if kind == "literal_stem":
                # ShEx literal stem `"pfx"~`: lexical-form prefix match
                return (F.col("obj_kind") == KIND_LITERAL) & F.col("obj_value").startswith(val)
            if kind == "lang":
                # language member `@en`: tag match, case-insensitive (BCP47)
                return (F.col("obj_kind") == KIND_LITERAL) & (F.lower("obj_lang") == val)
            if kind == "lang_stem":
                # language stem `@en~`: tag itself or any extended subtag
                lang = F.lower("obj_lang")
                return (F.col("obj_kind") == KIND_LITERAL) & (
                    (lang == val) | lang.startswith(val + "-")
                )
            if kind == "iri_stem":
                # ShEx IRI stem `<pfx>~` / `pn:~`
                return (F.col("obj_kind") != KIND_LITERAL) & F.col("obj_value").startswith(val)
            return (F.col("obj_kind") != KIND_LITERAL) & (F.col("obj_value") == val)

        # wildcard `.` admits every node (modulo exclusions below)
        member = F.lit(True) if tc.value_set_has_wildcard else F.lit(False)
        for kind, val in tc.value_set:
            member = member | _vs_match(kind, val)
        if tc.value_set_excl:
            excluded = F.lit(False)
            for kind, val in tc.value_set_excl:
                excluded = excluded | _vs_match(kind, val)
            member = member & ~F.coalesce(excluded, F.lit(False))
        ok = ok & member
    num = F.col("obj_value").try_cast("double")
    if tc.min_inclusive is not None:
        ok = ok & num.isNotNull() & (num >= tc.min_inclusive)
    if tc.max_inclusive is not None:
        ok = ok & num.isNotNull() & (num <= tc.max_inclusive)
    if tc.min_exclusive is not None:
        ok = ok & num.isNotNull() & (num > tc.min_exclusive)
    if tc.max_exclusive is not None:
        ok = ok & num.isNotNull() & (num < tc.max_exclusive)
    if tc.pattern is not None:
        ok = ok & F.col("obj_value").rlike(tc.pattern)
    if tc.min_length is not None:
        ok = ok & (F.length("obj_value") >= tc.min_length)
    if tc.max_length is not None:
        ok = ok & (F.length("obj_value") <= tc.max_length)
    if tc.language_in is not None:
        lang = F.col("obj_lang")
        lmatch = F.lit(False)
        for tag in tc.language_in:
            t = tag.lower()
            # basic language range: exact tag or extended subtag (BCP47)
            lmatch = lmatch | (lang == t) | lang.startswith(t + "-")
        ok = ok & (F.col("obj_kind") == KIND_LITERAL) & F.coalesce(lmatch, F.lit(False))
    if tc.ref_shape is not None or tc.class_iri is not None:
        rc, cc = (colmap or {}).get(path, (None, None))
        if tc.ref_shape is not None:
            if rc is None:
                raise ValueError(
                    "internal: shape-reference conformance column missing "
                    f"for path {path!r} (colmap not threaded)"
                )
            ok = ok & F.col(rc)
        if tc.class_iri is not None:
            if cc is None:
                raise ValueError(
                    "internal: sh:class conformance column missing "
                    f"for path {path!r} (colmap not threaded)"
                )
            ok = ok & F.col(cc)
    # NOT under three-valued logic: null (e.g. datatype mismatch on a null
    # column) must negate to TRUE, so ground to false first
    return ~F.coalesce(ok, F.lit(False)) if tc.negated else ok


def _node_constraint_gate(nc: TripleConstraint) -> Column:
    """Shape-level node constraint over the FOCUS node term (always an IRI
    or a blank node — subjects can't be literals, so literal-only
    constraints like a datatype are unsatisfiable here, per ShEx
    semantics)."""
    from rdfshape_api_spark.model import SKOLEM_PREFIX

    node = F.col("node")
    is_bnode = node.startswith("_:") | node.startswith(SKOLEM_PREFIX)
    if nc.ref_shape is not None or nc.class_iri is not None:
        # shape/class references need conformance-set joins, which a pure
        # Column gate cannot express — the frontends must route such
        # members through conjunct_refs/disjunct_refs instead (never
        # silently true/false)
        raise ValueError(
            "internal: node-constraint gate cannot evaluate a shape or "
            "class reference — frontend routing bug"
        )
    if nc.conjuncts:
        ok = F.lit(True)
        for m in nc.conjuncts:
            ok = ok & F.coalesce(_node_constraint_gate(m), F.lit(False))
        return ~ok if nc.negated else ok
    if nc.disjuncts:
        if nc.xone:
            # exactly-one member holds (sh:xone at node-shape level)
            cnt = None
            for d in nc.disjuncts:
                c = F.coalesce(_node_constraint_gate(d), F.lit(False)).cast("int")
                cnt = c if cnt is None else cnt + c
            ok = cnt == 1
        else:
            ok = F.lit(False)
            for d in nc.disjuncts:
                ok = ok | F.coalesce(_node_constraint_gate(d), F.lit(False))
        return ~ok if nc.negated else ok
    ok = F.lit(True)
    if nc.node_kind:
        ok = ok & {
            "iri": ~is_bnode,
            "bnode": is_bnode,
            "literal": F.lit(False),
            "nonliteral": F.lit(True),
        }[nc.node_kind]
    if nc.datatype or nc.language_in:
        ok = ok & F.lit(False)  # focus nodes are never literals
    if nc.value_set is not None:
        member = F.lit(True) if nc.value_set_has_wildcard else F.lit(False)
        for kind, val in nc.value_set:
            if kind == "iri":
                member = member | (node == val)
            elif kind == "iri_stem":
                member = member | node.startswith(val)
            # literal / language members can't match an iri/bnode focus
        for kind, val in nc.value_set_excl or []:
            if kind == "iri":
                member = member & (node != val)
            elif kind == "iri_stem":
                member = member & ~node.startswith(val)
        ok = ok & member
    if nc.pattern is not None:
        ok = ok & node.rlike(nc.pattern)
    if nc.min_length is not None:
        ok = ok & (F.length(node) >= nc.min_length)
    if nc.max_length is not None:
        ok = ok & (F.length(node) <= nc.max_length)
    return ~F.coalesce(ok, F.lit(False)) if nc.negated else ok


def _count_ok(
    tc: TripleConstraint,
    colmap: dict[tuple, tuple[str | None, str | None]] | None = None,
    sib_colmaps: dict[int, dict] | None = None,
) -> Column:
    """Value predicate used for the m-count aggregation: ``_value_ok`` plus
    sh:qualifiedValueShapesDisjoint sibling exclusions — a value counts
    toward a disjoint qualified constraint only if it conforms to NO
    sibling qualified value shape.  ``sib_colmaps`` maps sibling position →
    that sibling's own path-keyed conformance colmap, so siblings carrying
    sh:node / sh:class at any nesting depth evaluate with their
    conformance joins."""
    ok = _value_ok(tc, colmap)
    for k, sib in enumerate(tc.disjoint_siblings or []):
        ok = ok & ~F.coalesce(
            _value_ok(sib, (sib_colmaps or {}).get(k)), F.lit(False)
        )
    return ok


def _refs_of(tc: TripleConstraint) -> list[str]:
    """Shape references this constraint evaluates: its own ``ref_shape``
    plus any ``sh:node`` nested at any depth of the value tree (ORs,
    sh:xone members, mixed-polarity conjuncts)."""
    return [n.ref_shape for _, n in _walk_value_nodes(tc) if n.ref_shape is not None]


def _ref_order(schema: CompiledSchema, roots: list[str]) -> tuple[list[str], set[str]]:
    """(topological-ish order of reachable shapes, shapes involved in
    reference cycles).  Cyclic shapes are evaluated by the fixpoint loop in
    :func:`validate` (greatest fixed point — standard for negation-free
    ShEx recursion; we reject NOT, so positivity holds)."""
    order: list[str] = []
    state: dict[str, int] = {}
    cyclic: set[str] = set()

    def visit(sid: str, stack: tuple[str, ...]):
        if sid in stack:
            cyclic.update(stack[stack.index(sid):])
            cyclic.add(sid)
            return
        if state.get(sid) == 2:
            return
        state[sid] = 1
        sh = schema.shapes[sid]
        all_tcs = list(sh.constraints) + [
            tc for grp in (sh.alternatives or []) for tc in grp
        ]
        shape_refs = [ref for tc in all_tcs for ref in _refs_of(tc)]
        shape_refs += sh.conjunct_refs + sh.disjunct_refs + sh.negated_refs
        for ref in shape_refs:
            if ref not in schema.shapes:
                raise ValueError(f"unknown shape reference {ref}")
            visit(ref, stack + (sid,))
        state[sid] = 2
        order.append(sid)

    for r in roots:
        visit(r, ())
    return order, cyclic


def evaluate_shape(
    triples: DataFrame,
    schema: CompiledSchema,
    shape_id: str,
    focus: DataFrame,
    conformant_refs: dict[str, DataFrame],
    broad_focus: bool = False,
) -> DataFrame:
    """Evaluate one shape over a focus work-list ``(doc_sha256, node)``.

    Returns ``(doc_sha256, node, status, reasons)``.

    ``broad_focus``: hint that the focus set scales with the data (query
    selectors, SHACL targets, fixpoint all-subjects) — skip the
    neighbourhood ⋈ focus pre-join and aggregate ALL subjects instead:
    map-side combine shrinks the shuffle to ~1 row/subject and the big
    side is never shuffled for the join; the focus work-list left-joins
    onto the (small) aggregate output.  For narrow focus sets (fixed-node
    shapemaps) the pre-join prunes the aggregation input and wins.
    """
    shape: Shape = schema.shapes[shape_id]
    # OneOf alternatives flatten into one constraint vector; the verdict
    # recombines them per alternative (at-least-one-satisfiable semantics)
    alt_of: list[int] = []
    flat_constraints: list[TripleConstraint] = []
    if shape.alternatives is not None:
        for a, group in enumerate(shape.alternatives):
            for tc in group:
                flat_constraints.append(tc)
                alt_of.append(a)
    else:
        flat_constraints = list(shape.constraints)
        alt_of = [0] * len(flat_constraints)
    # sh:closed and the forward neighbourhood consider OUTGOING arcs only;
    # inversePath constraints range over a separate inverse neighbourhood;
    # non-trivial sh:path constraints each get a focus-seeded reachability
    # neighbourhood of their own (plans/paths.py)
    mentioned = sorted(
        {tc.pred for tc in flat_constraints if not tc.inverse and tc.path is None}
    )
    inv_preds = sorted(
        {tc.pred for tc in flat_constraints if tc.inverse and tc.path is None}
    )
    # property-pair comparison predicates must reach the aggregation even
    # when not themselves constrained; they do NOT count as "mentioned"
    # for sh:closed (SHACL closed only allows sh:path predicates)
    pair_preds = sorted(
        {
            p
            for tc in flat_constraints
            for p in (
                tc.pair_equals,
                tc.pair_disjoint,
                tc.pair_less_than,
                tc.pair_less_than_eq,
            )
            if p is not None
        }
    )

    full = triples.select("doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype")
    tri = full
    if not shape.closed and mentioned:
        tri = tri.filter(F.col("pred").isin(*sorted({*mentioned, *pair_preds})))

    if broad_focus:
        # focus ≈ all subjects: aggregating everything map-side is cheaper
        # than shuffling the big side for a pre-join (see docstring)
        nbr = tri
    else:
        # focus neighbourhood: inner join on (doc, subj) — same key as the
        # downstream aggregation, so the exchange is reused.  Focus usually
        # derives from the same triples lineage (self-join): rename its join
        # keys so Catalyst can't collapse the condition to trivially-true.
        f = focus.select(
            F.col("doc_sha256").alias("_f_doc"), F.col("node").alias("_f_node")
        ).distinct()
        nbr = tri.join(
            f,
            on=[tri["doc_sha256"] == f["_f_doc"], tri["subj"] == f["_f_node"]],
            how="inner",
        ).select(tri["*"])

    # shape-reference columns: left-join the referenced shapes' conformant
    # sets onto the value rows (SURVEY §2.5 J3).  Works on any value-row
    # neighbourhood — forward, inverse, or path — since all expose
    # (doc_sha256, obj_value).
    def _attach_refs(rows: DataFrame, reqs: list[tuple[str, DataFrame]]) -> DataFrame:
        for col, conf_df in reqs:
            conf = conf_df.select(
                F.col("doc_sha256").alias("_r_doc"), F.col("node").alias("_r_node")
            )
            rows = (
                rows.join(
                    conf,
                    on=[
                        rows["doc_sha256"] == conf["_r_doc"],
                        rows["obj_value"] == conf["_r_node"],
                    ],
                    how="left",
                )
                .withColumn(col, F.col("_r_node").isNotNull())
                .drop("_r_doc", "_r_node")
            )
        return rows

    # sh:class: per-document SHACL instance sets (rdf:type through the
    # rdfs:subClassOf closure) — cached per class, evaluated exactly like a
    # shape reference with the instance set as the conformant side
    class_inst_cache: dict[str, DataFrame] = {}

    def _class_inst(class_iri: str) -> DataFrame:
        if class_iri not in class_inst_cache:
            from rdfshape_api_spark.model import RDF_TYPE
            from rdfshape_api_spark.operators.algebra import subclass_closure

            classes = subclass_closure(full, class_iri)
            class_inst_cache[class_iri] = (
                full.filter(
                    (F.col("pred") == RDF_TYPE) & F.col("obj_value").isin(*classes)
                )
                .select("doc_sha256", F.col("subj").alias("node"))
                .distinct()
            )
        return class_inst_cache[class_iri]

    def _path_sfx(path: tuple) -> str:
        return "".join(f"_{t}{idx}" for t, idx in path)

    def _ref_reqs(i: int, tc: TripleConstraint) -> list[tuple[str, DataFrame]]:
        """(column, conformant DF) requirements for constraint i, filling
        the path-keyed ``node_cols[i]`` colmap as a side effect — one
        dedicated boolean column per ref/class-carrying node of the value
        tree, at any nesting depth."""
        reqs = []
        cm = node_cols.setdefault(i, {})
        for path, n in _walk_value_nodes(tc):
            rc = cc = None
            if n.ref_shape is not None:
                rc = f"_ref_ok_{i}{_path_sfx(path)}"
                reqs.append((rc, conformant_refs[n.ref_shape]))
            if n.class_iri is not None:
                cc = f"_cls_ok_{i}{_path_sfx(path)}"
                reqs.append((cc, _class_inst(n.class_iri)))
            if rc or cc:
                cm[path] = (rc, cc)
        return reqs

    # per-constraint path-keyed conformance colmaps (see _walk_value_nodes)
    node_cols: dict[int, dict[tuple, tuple[str | None, str | None]]] = {}
    # sh:qualifiedValueShapesDisjoint sibling conformance: per
    # (constraint i, sibling k) DEDICATED columns, attached to constraint
    # i's OWN value neighbourhood — the sibling's value shape applies to
    # THIS constraint's values and the sibling's path is irrelevant to the
    # disjointness test (spec §4.7), so this is sound for forward, inverse,
    # and non-trivial-path aggregations alike.
    sib_cols_map: dict[int, dict[int, dict[tuple, tuple[str | None, str | None]]]] = {}

    def _sib_reqs(i: int, tc: TripleConstraint) -> list[tuple[str, DataFrame]]:
        reqs: list[tuple[str, DataFrame]] = []
        for k, sib in enumerate(tc.disjoint_siblings or []):
            cm: dict[tuple, tuple[str | None, str | None]] = {}
            for path, n in _walk_value_nodes(sib):
                rc = cc = None
                if n.ref_shape is not None:
                    rc = f"_sib_ref_{i}_{k}{_path_sfx(path)}"
                    reqs.append((rc, conformant_refs[n.ref_shape]))
                if n.class_iri is not None:
                    cc = f"_sib_cls_{i}_{k}{_path_sfx(path)}"
                    reqs.append((cc, _class_inst(n.class_iri)))
                if rc or cc:
                    cm[path] = (rc, cc)
            if cm:
                sib_cols_map.setdefault(i, {})[k] = cm
        return reqs

    fwd_reqs: list[tuple[str, DataFrame]] = []
    for i, tc in enumerate(flat_constraints):
        if not tc.inverse and tc.path is None:
            fwd_reqs.extend(_ref_reqs(i, tc))
            fwd_reqs.extend(_sib_reqs(i, tc))
    nbr = _attach_refs(nbr, fwd_reqs)

    # constraints sharing (alternative, predicate) form a repeated-property
    # EachOf group: ShEx partition-matching semantics (each triple matched
    # by exactly one constraint).  Per group we aggregate counts of each
    # "satisfaction profile" (the bitset of group constraints a triple's
    # value satisfies) and decide feasibility of the induced transportation
    # problem in the verdict expression — still one hash aggregation, all
    # Column logic.  (Reference semantics live behind the shexs engine call
    # at SchemaValidate.scala:97-99.)
    # group key: (alternative, predicate, inverse?) — forward groups
    # aggregate profiles over nbr, inverse groups over inv_nbr; the
    # transportation-feasibility verdict is neighbourhood-agnostic.
    # Partition matching is ShEx EachOf semantics ONLY: repeated SHACL
    # property shapes on one path CONJOIN (spec: every shape applies to
    # every value independently), so shacl-engine schemas never group —
    # each repeat keeps its own m/t aggregation.  (Inverse repeats reach
    # the shex engine via shacl_to_shex conversion.)
    partition_semantics = schema.engine == "shex"
    group_of: dict[tuple[int, str, bool], list[int]] = {}
    inv_indices: set[int] = set()
    path_indices: set[int] = set()
    for i, tc in enumerate(flat_constraints):
        if tc.path is not None:
            path_indices.add(i)
            continue  # own focus-seeded neighbourhood below
        if tc.qualified:
            if tc.inverse:
                inv_indices.add(i)
            continue  # qualified constraints evaluate independently —
            # they never join repeated-property partition matching
        if tc.inverse:
            inv_indices.add(i)
            if partition_semantics:
                group_of.setdefault((alt_of[i], tc.pred, True), []).append(i)
            continue  # inverse constraints aggregate over inv_nbr below
        if partition_semantics:
            group_of.setdefault((alt_of[i], tc.pred, False), []).append(i)
    rep_groups = {k: v for k, v in group_of.items() if len(v) > 1}
    rep_indices = {i for idxs in rep_groups.values() for i in idxs}
    rep_ids = {key: gi for gi, key in enumerate(sorted(rep_groups))}
    for i, tc in enumerate(flat_constraints):
        if (
            tc.pair_equals or tc.pair_disjoint or tc.pair_less_than or tc.pair_less_than_eq
        ) and (i in rep_indices or i in inv_indices or i in path_indices):
            raise ValueError(
                "SHACL property-pair constraints require a direct, "
                "non-repeated sh:path predicate"
            )

    aggs = []
    for i, tc in enumerate(flat_constraints):
        if i in rep_indices or i in inv_indices or i in path_indices:
            continue
        on_pred = F.col("pred") == tc.pred
        aggs.append(
            F.sum(
                F.when(
                    on_pred
                    & _count_ok(
                        tc,
                        node_cols.get(i),
                        sib_cols_map.get(i),
                    ),
                    1,
                ).otherwise(0)
            ).alias(f"m{i}")
        )
        aggs.append(F.sum(F.when(on_pred, 1).otherwise(0)).alias(f"t{i}"))
        if tc.unique_lang:
            # sh:uniqueLang: no two values share a language tag — distinct
            # tag count must equal the tagged-value count
            lang_on = on_pred & F.col("obj_lang").isNotNull()
            aggs.append(
                F.count_distinct(
                    F.when(lang_on, F.col("obj_lang"))
                ).alias(f"u{i}")
            )
            aggs.append(F.sum(F.when(lang_on, 1).otherwise(0)).alias(f"ul{i}"))
        # property-pair constraints: extra per-focus aggregates comparing
        # this path's values with another predicate's (one hash agg, no
        # extra shuffle; collect_set is bounded by per-node out-degree)
        if tc.pair_equals is not None or tc.pair_disjoint is not None:
            aggs.append(
                F.sort_array(
                    F.collect_set(F.when(on_pred, F.col("obj_value")))
                ).alias(f"pv{i}")
            )
        for other, tag in ((tc.pair_equals, "eq"), (tc.pair_disjoint, "dj")):
            if other is not None:
                aggs.append(
                    F.sort_array(
                        F.collect_set(
                            F.when(F.col("pred") == other, F.col("obj_value"))
                        )
                    ).alias(f"p{tag}{i}")
                )
        lt_other = tc.pair_less_than or tc.pair_less_than_eq
        if lt_other is not None:
            num = F.col("obj_value").try_cast("double")
            on_q = F.col("pred") == lt_other
            aggs.append(F.max(F.when(on_pred, num)).alias(f"pmax{i}"))
            aggs.append(
                F.sum(F.when(on_pred & num.isNull(), 1).otherwise(0)).alias(f"pnn{i}")
            )
            aggs.append(F.min(F.when(on_q, num)).alias(f"qmin{i}"))
            aggs.append(F.sum(F.when(on_q, 1).otherwise(0)).alias(f"qt{i}"))
            aggs.append(
                F.sum(F.when(on_q & num.isNull(), 1).otherwise(0)).alias(f"qnn{i}")
            )
    def _profile_aggs(key: tuple, idxs: list[int]) -> list[Column]:
        gi = rep_ids[key]
        on_pred = F.col("pred") == key[1]
        profile = F.lit(0)
        for pos, i in enumerate(idxs):
            ok = F.coalesce(
                _value_ok(
                    flat_constraints[i],
                    node_cols.get(i),
                ),
                F.lit(False),
            )
            profile = profile + F.when(ok, F.lit(1 << pos)).otherwise(F.lit(0))
        return [
            F.sum(F.when(on_pred & (profile == s), 1).otherwise(0)).alias(f"g{gi}_n{s}")
            for s in range(1 << len(idxs))
        ]

    for key, idxs in sorted(rep_groups.items()):
        if key[2]:
            continue  # inverse groups aggregate over inv_nbr below
        aggs.extend(_profile_aggs(key, idxs))
    if shape.closed:
        # sh:ignoredProperties (SHACL §4.8.1): permitted beyond the
        # sh:path set — commonly rdf:type
        allowed = sorted({*mentioned, *shape.ignored})
        aggs.append(
            F.sum(F.when(~F.col("pred").isin(*allowed), 1).otherwise(0)).alias("unmentioned")
        )

    if aggs:
        grouped = nbr.groupBy("doc_sha256", F.col("subj").alias("node")).agg(*aggs)
        # left join so focus nodes with zero neighbourhood still get verdicts
        res = focus.select("doc_sha256", "node").distinct().join(
            grouped, on=["doc_sha256", "node"], how="left"
        )
    else:  # all constraints are inverse-path — no forward aggregation
        res = focus.select("doc_sha256", "node").distinct()

    if inv_indices:
        # inverse neighbourhood: triples whose OBJECT is the focus node;
        # the constraint's "value" is the pointing subject (iri/bnode —
        # literals can never be subjects).  Columns renamed so the same
        # compiled _value_ok expressions apply unchanged.
        from rdfshape_api_spark.model import SKOLEM_PREFIX

        inv = full.filter(F.col("pred").isin(*inv_preds))
        subj_kind = F.when(
            F.col("subj").startswith("_:") | F.col("subj").startswith(SKOLEM_PREFIX),
            F.lit("bnode"),
        ).otherwise(F.lit("iri"))
        if broad_focus:
            inv_nbr = inv.select(
                inv["doc_sha256"],
                inv["obj_value"].alias("_inode"),
                inv["pred"],
                subj_kind.alias("obj_kind"),
                inv["subj"].alias("obj_value"),
                F.lit(None).cast("string").alias("obj_lang"),
                F.lit(None).cast("string").alias("obj_datatype"),
            )
        else:
            f_i = focus.select(
                F.col("doc_sha256").alias("_f_doc"), F.col("node").alias("_f_node")
            ).distinct()
            inv_nbr = (
                inv.join(
                    f_i,
                    on=[inv["doc_sha256"] == f_i["_f_doc"], inv["obj_value"] == f_i["_f_node"]],
                )
                .select(
                    inv["doc_sha256"],
                    inv["obj_value"].alias("_inode"),
                    inv["pred"],
                    subj_kind.alias("obj_kind"),
                    inv["subj"].alias("obj_value"),
                    F.lit(None).cast("string").alias("obj_lang"),
                    F.lit(None).cast("string").alias("obj_datatype"),
                )
            )
        inv_reqs: list[tuple[str, str]] = []
        for i in sorted(inv_indices):
            inv_reqs.extend(_ref_reqs(i, flat_constraints[i]))
            inv_reqs.extend(_sib_reqs(i, flat_constraints[i]))
        inv_nbr = _attach_refs(inv_nbr, inv_reqs)
        inv_aggs = []
        for i in sorted(inv_indices):
            if i in rep_indices:
                continue  # repeated inverse constraints verdict via profiles
            tc = flat_constraints[i]
            on_pred = F.col("pred") == tc.pred
            inv_aggs.append(
                F.sum(
                    F.when(
                        on_pred
                        & _count_ok(
                            tc,
                            node_cols.get(i),
                            sib_cols_map.get(i),
                        ),
                        1,
                    ).otherwise(0)
                ).alias(f"m{i}")
            )
            inv_aggs.append(F.sum(F.when(on_pred, 1).otherwise(0)).alias(f"t{i}"))
        for key, idxs in sorted(rep_groups.items()):
            if key[2]:  # inverse repeated-property groups: same
                # satisfaction-profile bitset aggregation, over inv_nbr
                inv_aggs.extend(_profile_aggs(key, idxs))
        inv_grouped = inv_nbr.groupBy(
            "doc_sha256", F.col("_inode").alias("node")
        ).agg(*inv_aggs)
        res = res.join(inv_grouped, on=["doc_sha256", "node"], how="left")

    for i in sorted(path_indices):
        # non-trivial sh:path: value rows from the focus-seeded path
        # evaluator (plans/paths.py), then the same m/t aggregation; value
        # nodes are a set, the evaluator's bag rows are not
        from rdfshape_api_spark.plans.paths import path_rows

        tc = flat_constraints[i]
        rows = path_rows(
            full, tc.path, ["doc_sha256"], focus.select("doc_sha256", "node")
        ).distinct()
        rows = _attach_refs(rows, _ref_reqs(i, tc) + _sib_reqs(i, tc))
        p_grouped = rows.groupBy("doc_sha256", "node").agg(
            F.sum(
                F.when(
                    _count_ok(
                        tc,
                        node_cols.get(i),
                        sib_cols_map.get(i),
                    ),
                    1,
                ).otherwise(0)
            ).alias(f"m{i}"),
            F.count("*").alias(f"t{i}"),
        )
        res = res.join(p_grouped, on=["doc_sha256", "node"], how="left")

    n_alts = (max(alt_of) + 1) if alt_of else 1
    alt_ok = [F.lit(True) for _ in range(n_alts)]
    reasons = []
    for i, tc in enumerate(flat_constraints):
        if i in rep_indices:
            continue
        m = F.coalesce(F.col(f"m{i}"), F.lit(0))
        t = F.coalesce(F.col(f"t{i}"), F.lit(0))
        c_ok = m >= tc.min_count
        if tc.max_count is not None:
            c_ok = c_ok & (m <= tc.max_count)
        # qualified (sh:qualifiedValueShape): only the COUNT of satisfying
        # values is checked — non-satisfying values are not violations
        if not tc.extra and not tc.qualified:
            c_ok = c_ok & (m == t)
        if tc.unique_lang:
            c_ok = c_ok & (
                F.coalesce(F.col(f"u{i}"), F.lit(0))
                == F.coalesce(F.col(f"ul{i}"), F.lit(0))
            )
        _empty = F.array().cast("array<string>")
        if tc.pair_equals is not None:
            # sh:equals: value sets identical (sorted-set comparison)
            c_ok = c_ok & (
                F.coalesce(F.col(f"pv{i}"), _empty)
                == F.coalesce(F.col(f"peq{i}"), _empty)
            )
        if tc.pair_disjoint is not None:
            # sh:disjoint: no shared value
            c_ok = c_ok & ~F.arrays_overlap(
                F.coalesce(F.col(f"pv{i}"), _empty),
                F.coalesce(F.col(f"pdj{i}"), _empty),
            )
        if tc.pair_less_than is not None or tc.pair_less_than_eq is not None:
            # sh:lessThan[OrEquals]: every (path-value, other-value) pair
            # ordered ⇔ max(path) < min(other); non-numeric values are
            # incomparable → violation (numeric subset, documented)
            pairs = (t > 0) & (F.coalesce(F.col(f"qt{i}"), F.lit(0)) > 0)
            strict = tc.pair_less_than is not None
            cmp_bad = (
                F.col(f"pmax{i}") >= F.col(f"qmin{i}")
                if strict
                else F.col(f"pmax{i}") > F.col(f"qmin{i}")
            )
            bad = (
                (F.coalesce(F.col(f"pnn{i}"), F.lit(0)) > 0)
                | (F.coalesce(F.col(f"qnn{i}"), F.lit(0)) > 0)
                | F.coalesce(cmp_bad, F.lit(False))
            )
            c_ok = c_ok & ~(pairs & bad)
        alt_ok[alt_of[i]] = alt_ok[alt_of[i]] & c_ok
        if shape.alternatives is None:
            reasons.append(F.when(~c_ok, F.lit(reason_text(tc))))
    for key, idxs in sorted(rep_groups.items()):
        gi = rep_ids[key]
        alt, pred = key[0], key[1]
        k = len(idxs)
        tcs = [flat_constraints[i] for i in idxs]
        extra = tcs[0].extra  # per-predicate flag, shared across the group

        def n(s: int, gi=gi) -> Column:
            return F.coalesce(F.col(f"g{gi}_n{s}"), F.lit(0))

        # Hoffman circulation conditions for the bipartite transportation
        # problem: sources = satisfaction profiles S (supply n_S, arcs to
        # every constraint in S, plus a waste arc iff EXTRA), sinks =
        # constraints with demand in [min_i, max_i].  Over every subset T
        # of constraints:
        #   demand: Σ_{i∈T} min_i ≤ Σ_{S∩T≠∅} n_S  (reachable supply
        #           covers lower bounds)
        #   supply (no EXTRA): Σ_{S⊆T} n_S ≤ Σ_{i∈T} max_i  (values that
        #           can only go to T fit; T=∅ forces n_∅ = 0)
        feas = F.lit(True)
        full = (1 << k) - 1
        for t_mask in range(1, full + 1):
            min_sum = sum(tcs[pos].min_count for pos in range(k) if t_mask & (1 << pos))
            if min_sum > 0:
                reach = None
                for s in range(1, full + 1):
                    if s & t_mask:
                        reach = n(s) if reach is None else reach + n(s)
                feas = feas & (reach >= F.lit(min_sum))
        if not extra:
            for t_mask in range(0, full + 1):
                maxes = [tcs[pos].max_count for pos in range(k) if t_mask & (1 << pos)]
                if any(mx is None for mx in maxes):
                    continue  # infinite capacity — condition trivially holds
                only = None
                for s in range(0, full + 1):
                    if s & ~t_mask & full == 0:  # S ⊆ T (includes S = ∅)
                        only = n(s) if only is None else only + n(s)
                feas = feas & (only <= F.lit(sum(maxes)))
        alt_ok[alt] = alt_ok[alt] & feas
        if shape.alternatives is None:
            reasons.append(
                F.when(
                    ~feas,
                    F.lit(
                        f"no valid partition of <{pred}> triples among "
                        f"{k} repeated constraints"
                    ),
                )
            )
    if shape.alternatives is not None:
        # OneOf: conformant iff at least one alternative fully holds
        ok = alt_ok[0]
        for a in alt_ok[1:]:
            ok = ok | a
        reasons.append(F.when(~ok, F.lit("no OneOf alternative satisfied")))
    else:
        ok = alt_ok[0]
    if shape.closed:
        un = F.coalesce(F.col("unmentioned"), F.lit(0))
        ok = ok & (un == 0)
        reasons.append(F.when(un > 0, F.lit("closed shape: unmentioned predicates present")))
    if shape.node_constraint is not None:
        # shape-level node constraint (`ex:S IRI AND { … }` / a bare
        # node-constraint shape validated directly): evaluated on the focus
        # node's own term — focus nodes are subjects, hence iri or bnode
        gate = F.coalesce(_node_constraint_gate(shape.node_constraint), F.lit(False))
        ok = ok & gate
        reasons.append(
            F.when(~gate, F.lit("focus node fails the shape's node constraint"))
        )
    if shape.disjunct_refs:
        # shape-level ShapeOr of refs: at-least-one membership across the
        # referenced conformant sets (same join key as the aggregate);
        # sh:xone at node-shape level counts EXACTLY-one membership
        marks = []
        for j, dref in enumerate(shape.disjunct_refs):
            mark = f"_disj_ok_{j}"
            ddf = conformant_refs[dref].withColumn(mark, F.lit(True))
            res = res.join(ddf, on=["doc_sha256", "node"], how="left")
            marks.append(F.coalesce(F.col(mark), F.lit(False)))
        if shape.disjunct_refs_xone:
            cnt = marks[0].cast("int")
            for m in marks[1:]:
                cnt = cnt + m.cast("int")
            dis_ok = cnt == 1
            fail_msg = "focus node does not conform to exactly one of "
        else:
            dis_ok = F.lit(False)
            for m in marks:
                dis_ok = dis_ok | m
            fail_msg = "focus node conforms to none of "
        ok = ok & dis_ok
        reasons.append(
            F.when(
                ~dis_ok,
                F.lit(
                    fail_msg + ", ".join(f"<{r}>" for r in shape.disjunct_refs)
                ),
            )
        )
    for j, ciri in enumerate(shape.conjunct_classes):
        # node-shape-level sh:class: focus ∈ SHACL instances of the class
        # (same per-doc instance sets sh:class uses at value level)
        mark = f"_conj_cls_{j}"
        cdf = _class_inst(ciri).withColumn(mark, F.lit(True))
        res = res.join(cdf, on=["doc_sha256", "node"], how="left")
        cg = F.coalesce(F.col(mark), F.lit(False))
        ok = ok & cg
        reasons.append(
            F.when(~cg, F.lit(f"focus node is not a SHACL instance of <{ciri}>"))
        )
    for j, nref in enumerate(shape.negated_refs):
        # node-shape-level sh:not over a shape-ish member: focus must NOT
        # conform — anti-join semantics via left join + null check
        mark = f"_neg_ref_{j}"
        ndf = conformant_refs[nref].withColumn(mark, F.lit(True))
        res = res.join(ndf, on=["doc_sha256", "node"], how="left")
        ng = F.coalesce(F.col(mark), F.lit(False))
        ok = ok & ~ng
        reasons.append(
            F.when(ng, F.lit(f"focus node conforms to negated shape <{nref}>"))
        )
    for j, ciri in enumerate(shape.negated_classes):
        # node-shape-level sh:not [ sh:class C ]
        mark = f"_neg_cls_{j}"
        cdf = _class_inst(ciri).withColumn(mark, F.lit(True))
        res = res.join(cdf, on=["doc_sha256", "node"], how="left")
        ng = F.coalesce(F.col(mark), F.lit(False))
        ok = ok & ~ng
        reasons.append(
            F.when(
                ng,
                F.lit(f"focus node is a SHACL instance of negated class <{ciri}>"),
            )
        )
    for j, cref in enumerate(shape.conjunct_refs):
        # shape-level conjunct reference (`@<Base> AND { … }`): the focus
        # node must sit in the referenced shape's conformant set — a
        # left-join membership marker on the same (doc, node) key as the
        # aggregate, so AQE can reuse the exchange
        mark = f"_conj_ok_{j}"
        cdf = conformant_refs[cref].withColumn(mark, F.lit(True))
        res = res.join(cdf, on=["doc_sha256", "node"], how="left")
        cg = F.coalesce(F.col(mark), F.lit(False))
        ok = ok & cg
        reasons.append(
            F.when(~cg, F.lit(f"focus node does not conform to <{cref}>"))
        )

    return res.select(
        "doc_sha256",
        "node",
        F.when(ok, F.lit(STATUS_CONFORMANT)).otherwise(F.lit(STATUS_NONCONFORMANT)).alias("status"),
        F.array_compact(F.array(*reasons)).alias("reasons") if reasons else F.array().cast("array<string>").alias("reasons"),
    )


def _shapemap_assocs(
    schema: CompiledSchema, shapemap: str | list[Association]
) -> list[Association]:
    """The shapemap's associations against ``schema``: ``@start`` resolves
    to the schema's start shape, and a shape the schema does not declare
    raises ``ValueError``."""
    assocs = (
        parse_shapemap(shapemap, schema.prefixes) if isinstance(shapemap, str) else shapemap
    )
    out = []
    for a in assocs:
        shape = a.shape
        if shape == "@start":
            if schema.start is None:
                raise ValueError(
                    "shapemap references @start but the schema declares no start shape"
                )
            shape = schema.start
        if shape not in schema.shapes:
            raise ValueError(f"shapemap names shape {shape!r}, which the schema does not declare")
        out.append(replace(a, shape=shape))
    return out


def validate_batch(
    triples: DataFrame,
    jobs: list[tuple[CompiledSchema, "str | list[Association] | None", str]],
    focus_triples: DataFrame | None = None,
) -> DataFrame:
    """Validate several (schema, shapemap, label) jobs in ONE pass over the
    triples: the focus work-lists are unioned with a shape tag, joined once
    against the union of all mentioned predicates, and a single
    groupBy(doc, node, tag) computes every job's constraint aggregates —
    one scan + one shuffle for N schemas instead of N of each.  Used by the
    pipeline's validation stage; falls back to sequential :func:`validate`
    for jobs with shape references or CLOSED shapes (their evaluation needs
    per-shape neighbourhoods).

    Returns the same verdict schema as :func:`validate`.

    ``focus_triples``: subject-complete scan for focus/target resolution
    when ``triples`` is predicate-pruned (see :func:`validate`).
    """
    focus_src = focus_triples if focus_triples is not None else triples
    simple: list[tuple[int, CompiledSchema, Shape, DataFrame, str]] = []
    fallback_out: list[DataFrame] = []
    for schema, shapemap, label in jobs:
        complex_ = any(
            sh.closed
            or sh.alternatives is not None
            or sh.node_constraint is not None
            or sh.conjunct_refs
            or sh.disjunct_refs
            or sh.conjunct_classes
            or sh.negated_refs
            or sh.negated_classes
            or sh.sparql_selects
            or any(
                tc.ref_shape
                or tc.class_iri
                or tc.inverse
                or tc.unique_lang
                or tc.path is not None
                # property-pair and disjoint-qualified constraints compare
                # value SETS across predicates — the batched agg only
                # computes per-constraint m/t counts, so these must take
                # the full validate() path (they'd otherwise be silently
                # dropped: the verdict would read conformant regardless)
                or tc.pair_equals is not None
                or tc.pair_disjoint is not None
                or tc.pair_less_than is not None
                or tc.pair_less_than_eq is not None
                or tc.disjoint_siblings
                # refs/classes at ANY depth of the value tree (nested ORs,
                # xone members, mixed-polarity conjuncts) need conformance
                # joins the batched m/t agg does not attach
                or any(
                    n.ref_shape or n.class_iri
                    for _, n in _walk_value_nodes(tc)
                )
                for tc in sh.constraints
            )
            # repeated-property EachOf needs the partition-matching path
            or len({tc.pred for tc in sh.constraints}) != len(sh.constraints)
            for sh in schema.shapes.values()
        ) or len(schema.shapes) > 1
        if complex_:
            fallback_out.append(
                validate(
                    triples,
                    schema,
                    shapemap=shapemap,
                    shape_label=label,
                    focus_triples=focus_triples,
                )
            )
            continue
        sid, shape = next(iter(schema.shapes.items()))
        if shapemap is not None:
            assocs = _shapemap_assocs(schema, shapemap)
            focus = resolve_focus(focus_src, assocs).select("doc_sha256", "node")
        else:
            focus = resolve_targets(focus_src, shape)
        simple.append((len(simple), schema, shape, focus, label))

    outs = list(fallback_out)
    if simple:
        tagged_focus = None
        for i, _, _, focus, _ in simple:
            f = focus.distinct().withColumn("_tag", F.lit(i))
            tagged_focus = f if tagged_focus is None else tagged_focus.unionByName(f)
        all_preds = sorted({tc.pred for _, _, sh, _, _ in simple for tc in sh.constraints})

        tri = triples.select(
            "doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"
        ).filter(F.col("pred").isin(*all_preds))

        # No focus pre-join: aggregate constraint counters for ALL subjects
        # in one pass — map-side partial aggregation shrinks the shuffle to
        # one pre-aggregated row per (doc, subj) (~|subjects|, not
        # |triples|), and the big-table ⋈ focus join disappears entirely;
        # the focus work-list left-joins onto the (small) aggregate output.
        # (Wasted agg work for never-focused subjects is map-side-local and
        # cheaper than shuffling + sorting the full triple set for a
        # pre-join at every parallelism level.)
        aggs = []
        for i, _, shape, _, _ in simple:
            for j, tc in enumerate(shape.constraints):
                on = F.col("pred") == tc.pred
                aggs.append(
                    F.sum(F.when(on & _value_ok(tc, None), 1).otherwise(0)).alias(f"m_{i}_{j}")
                )
                aggs.append(F.sum(F.when(on, 1).otherwise(0)).alias(f"t_{i}_{j}"))
        grouped = tri.groupBy(
            "doc_sha256", F.col("subj").alias("node")
        ).agg(*aggs)
        res = tagged_focus.join(
            grouped, on=["doc_sha256", "node"], how="left"
        )

        # single projection dispatching on the tag — per-tag filter+union
        # branches would duplicate the whole aggregation subtree in the plan
        label_expr = F.lit(None).cast("string")
        status_expr = F.lit(None).cast("string")
        reasons_expr = F.array().cast("array<string>")
        for i, _, shape, _, label in simple:
            ok = F.lit(True)
            reasons = []
            for j, tc in enumerate(shape.constraints):
                m = F.coalesce(F.col(f"m_{i}_{j}"), F.lit(0))
                t = F.coalesce(F.col(f"t_{i}_{j}"), F.lit(0))
                c_ok = m >= tc.min_count
                if tc.max_count is not None:
                    c_ok = c_ok & (m <= tc.max_count)
                if not tc.extra and not tc.qualified:
                    c_ok = c_ok & (m == t)
                ok = ok & c_ok
                reasons.append(F.when(~c_ok, F.lit(reason_text(tc))))
            tag_is = F.col("_tag") == i
            label_expr = F.when(tag_is, F.lit(label)).otherwise(label_expr)
            status_expr = F.when(
                tag_is,
                F.when(ok, F.lit(STATUS_CONFORMANT)).otherwise(F.lit(STATUS_NONCONFORMANT)),
            ).otherwise(status_expr)
            reasons_expr = F.when(tag_is, F.array_compact(F.array(*reasons))).otherwise(
                reasons_expr
            )
        outs.append(
            res.select(
                "doc_sha256",
                "node",
                label_expr.alias("shape_id"),
                status_expr.alias("status"),
                reasons_expr.alias("reasons"),
            )
        )

    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select("doc_sha256", "node", "shape_id", "status", "reasons")


def _apply_sparql_constraints(v: DataFrame, sh: Shape, triples: DataFrame) -> DataFrame:
    """Overlay SHACL-SPARQL verdicts: a focus node with any solution from a
    ``sh:sparql`` constraint query flips to nonconformant, its messages
    appended to ``reasons``.  One distributed query + one (doc, node) join
    per constraint — the violator set is tiny relative to the store, so
    this joins on the same keys the verdict table already carries.
    Applied at the target/root level (referenced-shape conformance uses the
    core constraint semantics only, like the shaclex engine the reference
    wraps — SHACL-SPARQL is the TopBraid extension surface)."""
    from rdfshape_api_spark.plans.sparql import sparql_violators

    viol: DataFrame | None = None
    for qt, msg in sh.sparql_selects:
        d = sparql_violators(triples, qt).withColumn(
            "__smsg", F.lit(msg or "sh:sparql constraint violated")
        )
        viol = d if viol is None else viol.unionByName(d)
    agg = viol.groupBy("doc_sha256", "node").agg(
        F.array_sort(F.collect_set("__smsg")).alias("__smsgs")
    )
    hit = F.col("__smsgs").isNotNull()
    return (
        v.join(agg, ["doc_sha256", "node"], "left")
        .withColumn(
            "status",
            F.when(hit, F.lit(STATUS_NONCONFORMANT)).otherwise(F.col("status")),
        )
        .withColumn(
            "reasons",
            F.when(hit, F.concat(F.col("reasons"), F.col("__smsgs"))).otherwise(
                F.col("reasons")
            ),
        )
        .drop("__smsgs")
    )


def validate(
    triples: DataFrame,
    schema: CompiledSchema,
    shapemap: str | list[Association] | None = None,
    shape_label: str | None = None,
    focus_triples: DataFrame | None = None,
) -> DataFrame:
    """Validate — the `/api/schema/validate` equivalent (SURVEY §3.1).

    * ShEx engine: ``shapemap`` required (TriggerShapeMap);
    * SHACL engine: targets come from the shapes themselves
      (TriggerTargetDeclarations) when ``shapemap`` is None.

    Returns the verdict DataFrame ``(doc_sha256, node, shape_id, status,
    reasons)``. ``shape_label`` overrides the reported shape_id (e.g. a
    fixture id) when a single shape is validated.

    ``focus_triples``: when ``triples`` is a predicate-pruned store scan,
    pass the UNPRUNED (subject-complete) scan here — focus resolution,
    target resolution, and the all-subjects universe must see every
    predicate, or a node whose triples all use out-of-schema predicates
    (the archetypal nonconformant node) silently loses its verdict.
    Constraint aggregation still runs over the pruned ``triples``.
    """
    focus_src = focus_triples if focus_triples is not None else triples
    if shapemap is not None:
        assocs = _shapemap_assocs(schema, shapemap)
        work = [(s, None) for s in dict.fromkeys(a.shape for a in assocs)]
        focus_all = resolve_focus(focus_src, assocs)
    else:
        work = [
            (sid, resolve_targets(focus_src, sh))
            for sid, sh in schema.shapes.items()
            if sh.target_class or sh.target_node or sh.target_subjects_of or sh.target_objects_of
        ]
        focus_all = None
        if not work:
            raise ValueError("SHACL schema declares no targets and no shapemap was given")

    roots = [sid for sid, _ in work]
    order, cyclic = _ref_order(schema, roots)
    all_subjects = focus_src.select("doc_sha256", F.col("subj").alias("node")).distinct()

    def _tcs(sh: Shape) -> list[TripleConstraint]:
        return list(sh.constraints) + [tc for grp in (sh.alternatives or []) for tc in grp]

    # every shape that appears on the right side of a reference needs a
    # conformant set — including roots (a root may itself be referenced)
    referenced = {
        ref
        for sh in schema.shapes.values()
        for ref in (
            [r for tc in _tcs(sh) for r in _refs_of(tc)]
            + sh.conjunct_refs
            + sh.disjunct_refs
            + sh.negated_refs
        )
    }
    # shapes that transitively depend on a cycle member must evaluate AFTER
    # the fixpoint (their referenced conformant sets don't exist yet);
    # `order` is topological over non-cycle edges, so one forward pass works
    cycle_dep: set[str] = set(cyclic)
    for sid in order:
        if any(
            ref in cycle_dep
            for ref in (
                [r for tc in _tcs(schema.shapes[sid]) for r in _refs_of(tc)]
                + schema.shapes[sid].conjunct_refs
                + schema.shapes[sid].disjunct_refs
                + schema.shapes[sid].negated_refs
            )
        ):
            cycle_dep.add(sid)

    # evaluate referenced cycle-free shapes first, over all subjects (their
    # conformant sets feed the referring constraints)
    conformant_refs: dict[str, DataFrame] = {}
    for sid in order:
        if sid in cycle_dep or sid not in referenced:
            continue
        v = evaluate_shape(
            triples, schema, sid, all_subjects, conformant_refs, broad_focus=True
        )
        conformant_refs[sid] = v.filter(F.col("status") == STATUS_CONFORMANT).select(
            "doc_sha256", "node"
        )

    if cyclic:
        # Stratified negation: a negated reference whose BOTH ends sit in
        # the reference-cycle set breaks the greatest-fixpoint monotonicity
        # (not stratifiable) — reject with a clear error.  Negated refs TO
        # a cycle from outside are fine: the referring shape evaluates
        # post-fixpoint (cycle_dep ordering above), when the cycle's
        # conformant sets are final.
        def _nonmono_cyclic_ref(n: TripleConstraint, parity: bool, under_xone: bool) -> bool:
            """True if the value tree uses a cyclic shape's conformance
            set non-monotonically: under an odd number of negations
            (parity), or anywhere under sh:xone (exactly-one counting is
            non-monotone in each member)."""
            p = parity ^ bool(n.negated)
            if n.ref_shape is not None and n.ref_shape in cyclic and (p or under_xone):
                return True
            ux = under_xone or bool(n.xone)
            return any(
                _nonmono_cyclic_ref(d, p, ux) for d in (n.disjuncts or [])
            ) or any(_nonmono_cyclic_ref(m, p, ux) for m in (n.conjuncts or []))

        for sid in sorted(cyclic):
            for tc in _tcs(schema.shapes[sid]):
                if _nonmono_cyclic_ref(tc, False, False):
                    raise ValueError(
                        f"shape {sid!r}: negated (or xone-counted) reference "
                        "inside a reference cycle is not stratifiable (unsupported)"
                    )
                # a cap on the count of conforming values where other values
                # are allowed (ShEx EXTRA, sh:qualifiedMaxCount) fails when
                # MORE values conform, and a disjoint qualified sibling counts
                # the values that do NOT conform: both are non-monotone
                capped = tc.max_count is not None and (tc.extra or tc.qualified)
                if (capped and any(r in cyclic for r in _refs_of(tc))) or any(
                    r in cyclic for sib in tc.disjoint_siblings or [] for r in _refs_of(sib)
                ):
                    raise ValueError(
                        f"shape {sid!r}: count-capped (EXTRA / qualifiedMaxCount) "
                        "or disjoint-sibling reference inside a reference cycle "
                        "is not stratifiable (unsupported)"
                    )
            # shape-LEVEL negative / xone-counted references are the same
            # non-monotone hazard when both ends sit inside the cycle set
            sh_ = schema.shapes[sid]
            nonmono_shape_refs = list(sh_.negated_refs) + (
                list(sh_.disjunct_refs) if sh_.disjunct_refs_xone else []
            )
            if any(r in cyclic for r in nonmono_shape_refs):
                raise ValueError(
                    f"shape {sid!r}: negated (or xone-counted) reference "
                    "inside a reference cycle is not stratifiable (unsupported)"
                )
        # Recursive shape references (SURVEY §4 fixpoint row; the reference
        # recursion lives inside shexs at SchemaValidate.scala:97-99).
        # Greatest fixed point: start every cyclic shape optimistically
        # conformant over all subjects, re-evaluate the cycle set until no
        # conformant set shrinks. With the monotone references the check
        # above admits, the sets only shrink, so count-stability ⇔ fixpoint.
        # A set that grows means a non-monotone reference the check missed:
        # raise rather than oscillate. Counts never grow, so every round that
        # changes one lowers their total and the loop ends in ≤ that many.
        # localCheckpoint per round keeps plans flat (Catalyst can't recurse).
        all_ck = all_subjects.localCheckpoint()
        sizes: dict[str, int] = {}
        for sid in sorted(cyclic):
            conformant_refs[sid] = all_ck
            sizes[sid] = all_ck.count()
        changed = True
        while changed:
            changed = False
            for sid in sorted(cyclic):
                v = evaluate_shape(
                    triples, schema, sid, all_ck, conformant_refs, broad_focus=True
                )
                nxt = (
                    v.filter(F.col("status") == STATUS_CONFORMANT)
                    .select("doc_sha256", "node")
                    .localCheckpoint()
                )
                n = nxt.count()
                if n > sizes[sid]:
                    raise ValueError(
                        f"shape {sid!r}: conformant set grew between fixpoint "
                        "rounds; a reference inside the cycle is not monotone "
                        "(not stratifiable)"
                    )
                if n != sizes[sid]:
                    changed = True
                conformant_refs[sid] = nxt
                sizes[sid] = n

    # acyclic shapes that depend on cycle members evaluate now, with the
    # fixpoint's conformant sets available (still in topological order)
    for sid in order:
        if sid in cyclic or sid not in cycle_dep or sid not in referenced:
            continue
        v = evaluate_shape(
            triples, schema, sid, all_subjects, conformant_refs, broad_focus=True
        )
        conformant_refs[sid] = v.filter(F.col("status") == STATUS_CONFORMANT).select(
            "doc_sha256", "node"
        )

    outs = []
    for sid, targets in work:
        if targets is not None:
            focus, broad = targets, True  # SHACL targets scale with data
        else:
            focus = focus_all.filter(F.col("shape_id") == sid).select("doc_sha256", "node")
            # query selectors ({FOCUS p o}) scale with data → aggregate-all;
            # fixed-node shapemaps stay on the pruning pre-join
            broad = any(a.kind == "query" for a in assocs if a.shape == sid)
        v = evaluate_shape(triples, schema, sid, focus, conformant_refs, broad_focus=broad)
        sh = schema.shapes.get(sid)
        if sh is not None and sh.sparql_selects:
            v = _apply_sparql_constraints(v, sh, focus_src)
        label = shape_label if (shape_label and len(work) == 1) else sid
        outs.append(v.withColumn("shape_id", F.lit(label)))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select("doc_sha256", "node", "shape_id", "status", "reasons")
