"""Property paths for SPARQL and SHACL: one path IR, one evaluator.

SHACL defines every ``sh:path`` by its equivalent SPARQL 1.1 property path
(https://www.w3.org/TR/shacl/#property-paths), so both languages share the
node types below: ``plans/shacl.py`` parses ``sh:path`` objects into them
and ``plans/sparql.py`` parses SPARQL path expressions into them.  Only
SPARQL has the negated property set (:class:`PathNeg`).  The reference
evaluates SPARQL paths through Jena ARQ and ``sh:path`` through shaclex
(``SchemaService.scala:80-84``; path machinery mirrored by the merged-model
helpers in ``MergedModels.scala:81-94``).

:func:`path_rows` evaluates a path to rows ``(*keys, node, obj_kind,
obj_value, obj_lang, obj_datatype)``: ``node`` is where a path starts and
the value columns describe the term it reaches, with the literal metadata
of the FINAL hop, so SHACL value constraints (datatype / nodeKind /
facets) and SPARQL ``LANG``/``DATATYPE`` apply to path values unchanged.
Hops compose only when their ``keys`` columns agree: ``doc_sha256`` for
SHACL, the ``_g_doc`` pseudo-variable for per-document SPARQL, none for
the merged model.

Semantics follow SPARQL 1.1 §18.4: a predicate, ``^``, ``/``, ``|`` and
the negated property set are bags (one row per matching path); ``*``,
``+`` and ``?`` are sets.  Literals are never subjects, so they end a
sequence.

* **Seeded** (``seed`` is a ``(*keys, node)`` frame: SHACL focus nodes, a
  SPARQL constant subject or object): every hop joins the current
  frontier, so the work touches only the seeds' neighbourhoods.  Closures
  are frontier fixpoints from their own start nodes, and zero length
  reaches the start itself, whether or not it occurs in the graph (§18.5).
* **Unseeded** (``seed=None``, a SPARQL path between two variables): the
  first step reads its whole predicate relation and later steps join from
  it.  A leading closure is :func:`algebra.transitive_closure` over the
  graph, and zero length reaches every term of the graph, per key.

Every hop filters ``pred``, so the canonical store's predicate directories
prune each scan.  Fixpoints run to convergence with ``localCheckpoint``
per round (Catalyst cannot recurse).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from rdfshape_api_spark.model import SKOLEM_PREFIX
from rdfshape_api_spark.operators.algebra import transitive_closure

_VALUE_COLS = ("obj_kind", "obj_value", "obj_lang", "obj_datatype")


@dataclass(frozen=True)
class PathPred:
    """Direct predicate hop."""

    iri: str


@dataclass(frozen=True)
class PathInverse:
    """``sh:inversePath`` / ``^`` — traverse the path backwards."""

    inner: "PathNode"


@dataclass(frozen=True)
class PathSeq:
    """RDF-list path / ``/``: hop through each step in order."""

    steps: tuple["PathNode", ...]


@dataclass(frozen=True)
class PathAlt:
    """``sh:alternativePath ( p1 p2 … )`` / ``|`` — union of member values."""

    alts: tuple["PathNode", ...]


@dataclass(frozen=True)
class PathClosure:
    """``sh:zeroOrMorePath`` / ``*`` (min_len 0), ``sh:oneOrMorePath`` /
    ``+`` (1), ``sh:zeroOrOnePath`` / ``?`` (0, max 1)."""

    inner: "PathNode"
    min_len: int  # 0 or 1
    max_len: int | None  # None = unbounded, 1 for zeroOrOne


@dataclass(frozen=True)
class PathNeg:
    """SPARQL negated property set ``!(p1|…|^q1|…)`` (§9.1): one hop along
    any predicate outside ``fwd``, or backwards along any predicate outside
    ``inv``.  A side with no members contributes no hops."""

    fwd: tuple[str, ...]
    inv: tuple[str, ...]


PathNode = PathPred | PathInverse | PathSeq | PathAlt | PathClosure | PathNeg


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
    if isinstance(path, PathNeg):
        members = [f"<{i}>" for i in path.fwd] + [f"^<{i}>" for i in path.inv]
        return "!(" + "|".join(members) + ")"
    mod = {(0, None): "*", (1, None): "+", (0, 1): "?"}[(path.min_len, path.max_len)]
    return f"{path_display(path.inner)}{mod}"


def invert_path(path: PathNode) -> PathNode:
    """Algebraic inverse: ^(a/b) = ^b/^a, ^(a|b) = ^a|^b, ^(p*) = (^p)*,
    ^!(a|^b) = !(b|^a)."""
    if isinstance(path, PathPred):
        return PathInverse(path)
    if isinstance(path, PathInverse):
        return path.inner
    if isinstance(path, PathSeq):
        return PathSeq(tuple(invert_path(s) for s in reversed(path.steps)))
    if isinstance(path, PathAlt):
        return PathAlt(tuple(invert_path(a) for a in path.alts))
    if isinstance(path, PathNeg):
        return PathNeg(path.inv, path.fwd)
    return PathClosure(invert_path(path.inner), path.min_len, path.max_len)


def _null(name: str) -> Column:
    return F.lit(None).cast("string").alias(name)


def _node_kind(col: Column) -> Column:
    """Graph-node kind of a value that is itself a node (inverse hop
    subject / zero-length start): bnode-labelled or skolemized → bnode,
    else iri.  Literals can never be subjects, so two kinds suffice."""
    return F.when(
        col.startswith("_:") | col.startswith(SKOLEM_PREFIX), F.lit("bnode")
    ).otherwise(F.lit("iri"))


def _node_rows(nodes: DataFrame, keys: list[str]) -> DataFrame:
    """Zero-length rows: each ``(*keys, node)`` reaches itself."""
    return nodes.select(
        *keys,
        "node",
        _node_kind(F.col("node")).alias("obj_kind"),
        F.col("node").alias("obj_value"),
        _null("obj_lang"),
        _null("obj_datatype"),
    )


def _union(parts: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, parts)


def _advance(rows: DataFrame, keys: list[str]) -> DataFrame:
    """Value rows → the frontier of the next step ``(*keys, node, _at)``:
    the start stays, a node-valued value becomes the position, and
    literal values dead-end."""
    return rows.filter(F.col("obj_kind") != "literal").select(
        *keys, "node", F.col("obj_value").alias("_at")
    )


def _hop(
    t: DataFrame,
    keys: list[str],
    frontier: DataFrame | None,
    preds: Column,
    inverse: bool,
) -> DataFrame:
    """One step along the triples whose predicate passes ``preds``,
    forwards (subject → object) or backwards (object → subject)."""
    t = t.filter(preds)
    if inverse:
        at = "obj_value"
        vals = [
            _node_kind(F.col("subj")).alias("obj_kind"),
            F.col("subj").alias("obj_value"),
            _null("obj_lang"),
            _null("obj_datatype"),
        ]
    else:
        at, vals = "subj", list(_VALUE_COLS)
    if frontier is None:
        return t.select(*keys, F.col(at).alias("node"), *vals)
    t = t.select(*keys, F.col(at).alias("_at"), *vals)
    return frontier.join(t, [*keys, "_at"]).select(*keys, "node", *_VALUE_COLS)


def _walk(
    t: DataFrame, path: PathNode, keys: list[str], frontier: DataFrame | None
) -> DataFrame:
    """Value rows of ``path`` from the ``(*keys, node, _at)`` frontier
    (``node`` the start, ``_at`` the current position), or from every
    start in the graph when ``frontier`` is None."""
    if isinstance(path, PathPred):
        return _hop(t, keys, frontier, F.col("pred") == path.iri, inverse=False)
    if isinstance(path, PathInverse):
        if isinstance(path.inner, PathPred):
            return _hop(t, keys, frontier, F.col("pred") == path.inner.iri, inverse=True)
        # ^(complex): push the inverse inward (SPARQL path algebra laws)
        return _walk(t, invert_path(path.inner), keys, frontier)
    if isinstance(path, PathNeg):
        return _union([
            _hop(t, keys, frontier, ~F.col("pred").isin(*preds), inverse)
            for preds, inverse in ((path.fwd, False), (path.inv, True))
            if preds
        ])
    if isinstance(path, PathSeq):
        rows = _walk(t, path.steps[0], keys, frontier)
        for nxt in path.steps[1:]:
            rows = _walk(t, nxt, keys, _advance(rows, keys))
        return rows
    if isinstance(path, PathAlt):
        return _union([_walk(t, a, keys, frontier) for a in path.alts])
    if isinstance(path, PathClosure):
        if frontier is None:
            return _closure_all(t, path, keys)
        starts = frontier.select(*keys, F.col("_at").alias("node")).distinct()
        reach = _closure(t, path, keys, starts).withColumnRenamed("node", "_at")
        return frontier.join(reach, [*keys, "_at"]).select(*keys, "node", *_VALUE_COLS)
    raise TypeError(f"unknown path node {path!r}")


def _closure(
    t: DataFrame, path: PathClosure, keys: list[str], starts: DataFrame
) -> DataFrame:
    """Closure rows from the ``(*keys, node)`` start set: a semi-naive
    frontier fixpoint over (start, position) pairs — each round advances
    the pairs not seen before — until no new pair is reached, or
    ``path.max_len`` rounds.  Zero length reaches the start itself."""
    starts = starts.localCheckpoint()
    acc = _node_rows(starts, keys) if path.min_len == 0 else None
    visited = frontier = starts.select(*keys, "node", F.col("node").alias("_at"))
    rounds = 0
    while True:
        reached = _walk(t, path.inner, keys, frontier).distinct().localCheckpoint()
        if reached.isEmpty():
            break
        acc = reached if acc is None else acc.unionByName(reached).distinct()
        rounds += 1
        if rounds == path.max_len:
            break
        frontier = _advance(reached, keys).distinct().exceptAll(visited).localCheckpoint()
        if frontier.isEmpty():
            break
        visited = visited.unionByName(frontier).localCheckpoint()
    if acc is None:  # oneOrMore with no hop at all
        return _node_rows(starts, keys).limit(0)
    return acc.localCheckpoint()


def _closure_all(t: DataFrame, path: PathClosure, keys: list[str]) -> DataFrame:
    """Unseeded closure rows.  A path of two or more inner steps is a
    node-to-node transitive closure of the inner step
    (:func:`algebra.transitive_closure`) followed by one more inner step,
    so every value keeps its final hop's metadata.  Zero length: every
    subject and object term of the graph reaches itself."""
    one = _walk(t, path.inner, keys, None)
    parts = [one]
    if path.max_len is None:
        longer = transitive_closure(_advance(one, keys), "node", "_at", keys)
        parts.append(_walk(t, path.inner, keys, longer))
    if path.min_len == 0:
        parts.append(_node_rows(t.select(*keys, F.col("subj").alias("node")), keys))
        parts.append(t.select(*keys, F.col("obj_value").alias("node"), *_VALUE_COLS))
    return _union(parts).distinct()


def path_rows(
    triples: DataFrame,
    path: PathNode,
    keys: Sequence[str],
    seed: DataFrame | None = None,
) -> DataFrame:
    """Rows ``(*keys, node, obj_kind, obj_value, obj_lang, obj_datatype)``
    of ``path`` over ``triples``: from the ``(*keys, node)`` ``seed``
    frame, or from every start in the graph when ``seed`` is None."""
    keys = list(keys)
    t = triples.select(*keys, "subj", "pred", *_VALUE_COLS)
    frontier = None
    if seed is not None:
        frontier = seed.select(*keys, "node", F.col("node").alias("_at"))
    return _walk(t, path, keys, frontier)
