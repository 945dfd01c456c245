"""SHACL property-path algebra: path AST → focus-seeded value rows.

The reference evaluates non-trivial ``sh:path`` objects (sequence lists,
``sh:alternativePath``, ``sh:zeroOrMorePath`` / ``sh:oneOrMorePath`` /
``sh:zeroOrOnePath``, ``sh:inversePath``) through shaclex / TopBraid
(``SchemaService.scala:80-84``; path machinery mirrored by the merged-model
helpers in ``MergedModels.scala:81-94``).  Spark re-expression: a path is a
tree of the node types below, compiled by :func:`path_value_rows` into a
DataFrame of ``(doc_sha256, node, obj_kind, obj_value, obj_lang,
obj_datatype)`` — one row per (focus node, path value), with the value's
literal metadata taken from the FINAL hop so SHACL value constraints
(datatype / nodeKind / facets) apply to path values unchanged.

Scale: evaluation is **focus-seeded** — the first step semi-joins the focus
work-list, so a path constraint over a 100 TB store touches only the focus
nodes' neighbourhoods (per-predicate directory pruning still applies to
every hop's scan: each hop filters ``pred ==``).  Closures are frontier
fixpoints run to convergence with ``localCheckpoint`` per round (Catalyst
cannot recurse), expanding from the focus frontier only — never the global
transitive closure.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

_VALUE_COLS = ("obj_kind", "obj_value", "obj_lang", "obj_datatype")


@dataclass(frozen=True)
class PathPred:
    """Direct predicate hop."""

    iri: str


@dataclass(frozen=True)
class PathInverse:
    """``sh:inversePath`` — traverse the predicate backwards."""

    inner: "PathNode"


@dataclass(frozen=True)
class PathSeq:
    """RDF-list path: hop through each step in order."""

    steps: tuple["PathNode", ...]


@dataclass(frozen=True)
class PathAlt:
    """``sh:alternativePath ( p1 p2 … )`` — union of member values."""

    alts: tuple["PathNode", ...]


@dataclass(frozen=True)
class PathClosure:
    """``sh:zeroOrMorePath`` (min_len 0) / ``sh:oneOrMorePath`` (1) /
    ``sh:zeroOrOnePath`` (0, max 1)."""

    inner: "PathNode"
    min_len: int  # 0 or 1
    max_len: int | None  # None = unbounded, 1 for zeroOrOne


PathNode = PathPred | PathInverse | PathSeq | PathAlt | PathClosure


def path_preds(path: PathNode) -> set[str]:
    """Every predicate IRI the path can touch — feeds the canonical store's
    predicate-directory pruning (a path validation job reads only these
    directories)."""
    if isinstance(path, PathPred):
        return {path.iri}
    if isinstance(path, PathInverse):
        return path_preds(path.inner)
    if isinstance(path, PathSeq):
        return set().union(*(path_preds(s) for s in path.steps))
    if isinstance(path, PathAlt):
        return set().union(*(path_preds(a) for a in path.alts))
    return path_preds(path.inner)


def path_display(path: PathNode) -> str:
    """SPARQL-ish rendering for verdict reasons / shape IR display."""
    if isinstance(path, PathPred):
        return f"<{path.iri}>"
    if isinstance(path, PathInverse):
        return f"^{path_display(path.inner)}"
    if isinstance(path, PathSeq):
        return "/".join(path_display(s) for s in path.steps)
    if isinstance(path, PathAlt):
        return "(" + "|".join(path_display(a) for a in path.alts) + ")"
    mod = {(0, None): "*", (1, None): "+", (0, 1): "?"}[(path.min_len, path.max_len)]
    return f"{path_display(path.inner)}{mod}"


def _node_kind_col(col: Column, skolem_prefix: str) -> Column:
    """Graph-node kind for a value that is itself a node (inverse hop
    subject / zero-length focus): bnode-labelled or skolemized → bnode,
    else iri.  Literals can never be subjects, so two kinds suffice."""
    return F.when(
        col.startswith("_:") | col.startswith(skolem_prefix), F.lit("bnode")
    ).otherwise(F.lit("iri"))


def _node_rows(nodes: DataFrame) -> DataFrame:
    """(doc, node) → value rows where the value IS the node (zero-length
    path semantics)."""
    from rdfshape_api_spark.model import SKOLEM_PREFIX

    return nodes.select(
        "doc_sha256",
        "node",
        _node_kind_col(F.col("node"), SKOLEM_PREFIX).alias("obj_kind"),
        F.col("node").alias("obj_value"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_datatype"),
    )


def _step(triples: DataFrame, frontier: DataFrame, path: PathNode) -> DataFrame:
    """One application of ``path`` from the (doc, node) ``frontier``:
    returns value rows (doc_sha256, node, obj_*) where ``node`` is the
    ORIGINATING frontier node and the value columns describe the reached
    term."""
    from rdfshape_api_spark.model import SKOLEM_PREFIX

    if isinstance(path, PathPred):
        hop = triples.filter(F.col("pred") == path.iri)
        f = frontier.select(
            F.col("doc_sha256").alias("_fd"), F.col("node").alias("_fn")
        ).distinct()
        return hop.join(
            f, on=[hop["doc_sha256"] == f["_fd"], hop["subj"] == f["_fn"]]
        ).select(
            hop["doc_sha256"], f["_fn"].alias("node"), *[hop[c] for c in _VALUE_COLS]
        )
    if isinstance(path, PathInverse):
        inner = path.inner
        if isinstance(inner, PathPred):
            hop = triples.filter(F.col("pred") == inner.iri)
            f = frontier.select(
                F.col("doc_sha256").alias("_fd"), F.col("node").alias("_fn")
            ).distinct()
            # backwards: frontier node is the OBJECT; value is the subject
            return hop.join(
                f, on=[hop["doc_sha256"] == f["_fd"], hop["obj_value"] == f["_fn"]]
            ).select(
                hop["doc_sha256"],
                f["_fn"].alias("node"),
                _node_kind_col(hop["subj"], SKOLEM_PREFIX).alias("obj_kind"),
                hop["subj"].alias("obj_value"),
                F.lit(None).cast("string").alias("obj_lang"),
                F.lit(None).cast("string").alias("obj_datatype"),
            )
        # ^(complex): push the inverse inward (SPARQL path algebra laws)
        return _step(triples, frontier, _invert(path.inner))
    if isinstance(path, PathSeq):
        rows = _step(triples, frontier, path.steps[0])
        for nxt in path.steps[1:]:
            # continue from node-valued results only (literals dead-end)
            mid = rows.filter(F.col("obj_kind") != "literal").select(
                F.col("doc_sha256"),
                F.col("node").alias("_orig"),
                F.col("obj_value").alias("node"),
            )
            hop = _step(triples, mid.select("doc_sha256", "node"), nxt)
            rows = (
                mid.join(
                    hop.select(
                        F.col("doc_sha256").alias("_hd"),
                        F.col("node").alias("_hn"),
                        *_VALUE_COLS,
                    ),
                    on=[mid["doc_sha256"] == F.col("_hd"), mid["node"] == F.col("_hn")],
                )
                .select("doc_sha256", F.col("_orig").alias("node"), *_VALUE_COLS)
                .distinct()
            )
        return rows
    if isinstance(path, PathAlt):
        out = _step(triples, frontier, path.alts[0])
        for alt in path.alts[1:]:
            out = out.unionByName(_step(triples, frontier, alt))
        return out.distinct()
    if isinstance(path, PathClosure):
        return _closure(triples, frontier, path)
    raise TypeError(f"unknown path node {path!r}")


def _invert(path: PathNode) -> PathNode:
    """Algebraic inverse: ^(a/b) = ^b/^a, ^(a|b) = ^a|^b, ^(p*) = (^p)*."""
    if isinstance(path, PathPred):
        return PathInverse(path)
    if isinstance(path, PathInverse):
        return path.inner
    if isinstance(path, PathSeq):
        return PathSeq(tuple(_invert(s) for s in reversed(path.steps)))
    if isinstance(path, PathAlt):
        return PathAlt(tuple(_invert(a) for a in path.alts))
    return PathClosure(_invert(path.inner), path.min_len, path.max_len)


def _closure(triples: DataFrame, frontier: DataFrame, path: PathClosure) -> DataFrame:
    """Frontier-based closure from the focus set: each round advances the
    NEW nodes only (incremental semi-naive expansion), accumulating value
    rows; zero-length contributes the focus node itself.  Runs until no
    new (focus, node) pair is reached, or ``path.max_len`` hops."""
    seed = frontier.select("doc_sha256", "node").distinct().localCheckpoint()
    acc_rows = _node_rows(seed) if path.min_len == 0 else None

    # visited (doc, origin, reached-node) pairs — dedups expansion
    visited = seed.select(
        "doc_sha256", F.col("node").alias("_orig"), F.col("node").alias("_cur")
    ).localCheckpoint()
    frontier_pairs = visited
    rounds = 0
    while True:
        if path.max_len is not None and rounds >= path.max_len:
            break
        cur = frontier_pairs.select(
            "doc_sha256", F.col("_cur").alias("node")
        ).distinct()
        step_rows = _step(triples, cur, path.inner)
        # attach originating focus nodes: (orig → cur) ⋈ (cur → value)
        reached = (
            frontier_pairs.join(
                step_rows.select(
                    F.col("doc_sha256").alias("_sd"),
                    F.col("node").alias("_sn"),
                    *_VALUE_COLS,
                ),
                on=[
                    frontier_pairs["doc_sha256"] == F.col("_sd"),
                    frontier_pairs["_cur"] == F.col("_sn"),
                ],
            )
            .select("doc_sha256", "_orig", *_VALUE_COLS)
            .distinct()
            .localCheckpoint()
        )
        if reached.isEmpty():
            break
        new_rows = reached.select(
            "doc_sha256", F.col("_orig").alias("node"), *_VALUE_COLS
        )
        acc_rows = new_rows if acc_rows is None else acc_rows.unionByName(new_rows).distinct()
        # next frontier: newly reached NODE values not seen before
        nxt = (
            reached.filter(F.col("obj_kind") != "literal")
            .select("doc_sha256", "_orig", F.col("obj_value").alias("_cur"))
            .distinct()
        )
        new_frontier = nxt.exceptAll(visited).localCheckpoint()
        if new_frontier.isEmpty():
            break
        visited = visited.unionByName(new_frontier).localCheckpoint()
        frontier_pairs = new_frontier
        rounds += 1
    if acc_rows is None:  # oneOrMore with no hops at all
        return _node_rows(seed).limit(0)
    return acc_rows.localCheckpoint()


def path_value_rows(
    triples: DataFrame, path: PathNode, focus: DataFrame
) -> DataFrame:
    """All (focus node, path value) rows for focus work-list ``focus``
    (doc_sha256, node).  Output columns: doc_sha256, node, obj_kind,
    obj_value, obj_lang, obj_datatype."""
    return _step(
        triples.select(
            "doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"
        ),
        focus.select("doc_sha256", "node"),
        path,
    )
