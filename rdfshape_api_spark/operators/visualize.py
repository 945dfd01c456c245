"""DOT → SVG rendering without Graphviz (GraphicFormat parity, subset).

The reference rasterizes its DOT visual graphs to SVG/PNG/PS through
Graphviz (``GraphicFormat.scala:22``; DataConvert pipes sgraph.toDot into
``dot -Tsvg``).  Graphviz is absent from this container, but SVG is a text
format — this module renders the engine's own machine-generated DOT
statements (:func:`operators.serialize.to_dot`, ``Schema2UML``'s record
nodes) into standalone SVG with a deterministic layered layout
(Sugiyama-style: longest-path layering + one barycenter ordering pass).

Scope and cost model: presentation-only, driver-side, per document — the
same KB-sized collect as :func:`operators.serialize.assemble_dot` (the
reference renders per HTTP request; the distributed artifact is the DOT
statement table).  Only SVG is rendered; PNG and PS stay out of scope.

The parser reads the fixed grammar this package emits — quoted node ids
with ``[shape=…, label="…"]`` attribute lists and quoted ``->`` edges —
not arbitrary DOT.  Unknown statements raise (clean reject, never a
silent drop).
"""

from __future__ import annotations

import html
import re
from dataclasses import dataclass

__all__ = ["parse_dot", "layout_layers", "dot_to_svg", "render_svg"]


@dataclass
class _Node:
    node_id: str
    shape: str
    label: str


# the two statement forms to_dot / uml_to_dot emit (serialize.py:472,509)
_NODE_RE = re.compile(
    r'^\s*"(?P<id>(?:[^"\\]|\\.)*)"\s*\[shape=(?P<shape>\w+),\s*'
    r'label="(?P<label>(?:[^"\\]|\\.)*)"\s*\]\s*;?\s*$'
)
_EDGE_RE = re.compile(
    r'^\s*"(?P<src>(?:[^"\\]|\\.)*)"\s*->\s*"(?P<dst>(?:[^"\\]|\\.)*)"\s*'
    r'(?:\[label="(?P<label>(?:[^"\\]|\\.)*)"\s*\])?\s*;?\s*$'
)
_WRAPPER_RE = re.compile(r'^\s*(digraph\b.*\{|\}|//.*)?\s*$')


def _unescape(s: str) -> str:
    """Invert serialize._dot_escape (\\\\, \\", \\n, \\r)."""
    return (
        s.replace("\\n", "\n").replace("\\r", "\r")
        .replace('\\"', '"').replace("\\\\", "\\")
    )


def parse_dot(text: str) -> tuple[list[_Node], list[tuple[str, str, str]]]:
    """Parse this package's DOT statements → (nodes, edges).

    ``text`` may be a full ``digraph … { … }`` document or bare statement
    lines.  Node redefinitions keep the first occurrence (statements are
    set-semantics rows).  An edge endpoint with no node statement gets an
    implicit ellipse node labeled by its id (DOT's own default behavior).
    """
    nodes: dict[str, _Node] = {}
    edges: list[tuple[str, str, str]] = []
    for line in text.splitlines():
        if m := _NODE_RE.match(line):
            nid = _unescape(m["id"])
            nodes.setdefault(
                nid, _Node(nid, m["shape"], _unescape(m["label"]))
            )
        elif m := _EDGE_RE.match(line):
            edges.append(
                (
                    _unescape(m["src"]),
                    _unescape(m["dst"]),
                    _unescape(m["label"] or ""),
                )
            )
        elif not _WRAPPER_RE.match(line):
            raise ValueError(f"unsupported DOT statement: {line!r}")
    for src, dst, _ in edges:
        for endpoint in (src, dst):
            nodes.setdefault(endpoint, _Node(endpoint, "ellipse", endpoint))
    return list(nodes.values()), edges


def layout_layers(
    nodes: list[_Node], edges: list[tuple[str, str, str]]
) -> dict[str, tuple[int, int]]:
    """Deterministic layered layout: ``node_id → (layer, index)``.

    Layering is longest-path from the source set (nodes with no incoming
    edge; for a cycle with no source, the lexicographically-smallest
    member seeds its component).  Within a layer, one barycenter pass
    orders nodes by the mean index of their upper neighbours, ties broken
    by label then id — fully deterministic, no randomness.
    """
    ids = [n.node_id for n in nodes]
    by_id = {n.node_id: n for n in nodes}
    out: dict[str, set[str]] = {i: set() for i in ids}
    indeg: dict[str, int] = {i: 0 for i in ids}
    for src, dst, _ in edges:
        if src != dst and dst not in out[src]:
            out[src].add(dst)
            indeg[dst] += 1

    # longest-path layering via Kahn order; cycles resolved by seeding the
    # smallest unvisited node at the current frontier depth
    layer: dict[str, int] = {}
    remaining = dict(indeg)
    queue = sorted(i for i in ids if remaining[i] == 0)
    for i in queue:
        layer[i] = 0
    while len(layer) < len(ids):
        if not queue:  # cycle: seed deterministically
            seed = min(i for i in ids if i not in layer)
            layer[seed] = 0
            queue = [seed]
        nxt: list[str] = []
        for i in queue:
            for j in sorted(out[i]):
                layer[j] = max(layer.get(j, 0), layer[i] + 1)
                remaining[j] -= 1
                if remaining[j] == 0:
                    nxt.append(j)
        queue = sorted(set(nxt))
        if not queue and len(layer) < len(ids):
            queue = []  # fall through to cycle seeding

    layers: dict[int, list[str]] = {}
    for i in ids:
        layers.setdefault(layer[i], []).append(i)
    # initial order: label, id
    for members in layers.values():
        members.sort(key=lambda i: (by_id[i].label, i))
    # one barycenter pass, top-down
    pos: dict[str, int] = {}
    parents: dict[str, list[str]] = {i: [] for i in ids}
    for src, dst, _ in edges:
        if src != dst:
            parents[dst].append(src)
    for depth in sorted(layers):
        members = layers[depth]
        if depth > 0:
            def bary(i: str) -> float:
                ups = [pos[p] for p in parents[i] if layer.get(p, -1) < depth and p in pos]
                return sum(ups) / len(ups) if ups else float(len(members))

            members.sort(key=lambda i: (bary(i), by_id[i].label, i))
        for idx, i in enumerate(members):
            pos[i] = idx
    return {i: (layer[i], pos[i]) for i in ids}


_CHAR_W = 7.2  # monospace-ish estimate at font-size 12
_NODE_H = 36
_LAYER_GAP = 84
_X_GAP = 28
_PAD = 24


def _node_width(label: str) -> float:
    longest = max((len(line) for line in label.split("\n")), default=1)
    return max(60.0, longest * _CHAR_W + 24)


def _pixel_coords(
    nodes: list[_Node], edges: list[tuple[str, str, str]]
) -> tuple[dict[str, tuple[float, float]], float, float]:
    """Layered layout → pixel center per node + canvas (width, height)."""
    coords = layout_layers(nodes, edges)
    by_id = {n.node_id: n for n in nodes}

    # per-layer x placement with per-node widths, layers centered
    layers: dict[int, list[str]] = {}
    for nid, (ly, _ix) in coords.items():
        layers.setdefault(ly, []).append(nid)
    centers: dict[str, tuple[float, float]] = {}
    row_widths: dict[int, float] = {}
    for ly, members in layers.items():
        members.sort(key=lambda i: coords[i][1])
        x = 0.0
        for nid in members:
            w = _node_width(by_id[nid].label)
            centers[nid] = (x + w / 2, 0.0)
            x += w + _X_GAP
        row_widths[ly] = x - _X_GAP if members else 0.0
    total_w = max(row_widths.values(), default=0.0)
    for ly, members in layers.items():
        shift = (total_w - row_widths[ly]) / 2 + _PAD
        y = _PAD + _NODE_H / 2 + ly * _LAYER_GAP
        for nid in members:
            cx, _ = centers[nid]
            centers[nid] = (cx + shift, y)
    height = _PAD * 2 + _NODE_H + (max(layers, default=0)) * _LAYER_GAP
    width = total_w + 2 * _PAD
    return centers, width, height


def dot_to_svg(text: str, title: str = "rdf") -> str:
    """Render DOT statements (or a full digraph document) to standalone
    SVG: one ``<ellipse>``/``<circle>``/``<rect>`` + ``<text>`` per node,
    arrow-marked ``<line>`` + optional mid-point label per edge."""
    nodes, edges = parse_dot(text)
    by_id = {n.node_id: n for n in nodes}
    centers, width, height = _pixel_coords(nodes, edges)

    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width:.0f}" '
        f'height="{height:.0f}" viewBox="0 0 {width:.0f} {height:.0f}">',
        f"<title>{html.escape(title)}</title>",
        '<defs><marker id="arrow" viewBox="0 0 10 10" refX="10" refY="5" '
        'markerWidth="7" markerHeight="7" orient="auto-start-reverse">'
        '<path d="M 0 0 L 10 5 L 0 10 z" fill="#333"/></marker></defs>',
        '<g font-family="monospace" font-size="12">',
    ]
    for src, dst, label in edges:
        (x1, y1), (x2, y2) = centers[src], centers[dst]
        # trim the line at the node boundary so the arrowhead is visible
        dy = y2 - y1
        if dy:
            sign = 1 if dy > 0 else -1
            y1 += sign * _NODE_H / 2
            y2 -= sign * _NODE_H / 2
        parts.append(
            f'<line x1="{x1:.1f}" y1="{y1:.1f}" x2="{x2:.1f}" y2="{y2:.1f}" '
            'stroke="#333" marker-end="url(#arrow)"/>'
        )
        if label:
            mx, my = (x1 + x2) / 2, (y1 + y2) / 2 - 4
            parts.append(
                f'<text x="{mx:.1f}" y="{my:.1f}" text-anchor="middle" '
                f'fill="#555">{html.escape(label)}</text>'
            )
    for n in nodes:
        cx, cy = centers[n.node_id]
        w = _node_width(n.label)
        if n.shape in ("ellipse", "circle"):
            rx = w / 2 if n.shape == "ellipse" else _NODE_H / 2
            parts.append(
                f'<ellipse cx="{cx:.1f}" cy="{cy:.1f}" rx="{rx:.1f}" '
                f'ry="{_NODE_H / 2:.1f}" fill="#eef" stroke="#336"/>'
            )
        else:  # record / box
            parts.append(
                f'<rect x="{cx - w / 2:.1f}" y="{cy - _NODE_H / 2:.1f}" '
                f'width="{w:.1f}" height="{_NODE_H}" fill="#ffe" stroke="#663"/>'
            )
        for k, line in enumerate(n.label.split("\n")):
            ty = cy + 4 + (k - (n.label.count("\n")) / 2) * 14
            parts.append(
                f'<text x="{cx:.1f}" y="{ty:.1f}" '
                f'text-anchor="middle">{html.escape(line)}</text>'
            )
    parts.append("</g></svg>")
    return "\n".join(parts)


def render_svg(lines_df, doc_sha256: str, name: str = "rdf") -> str:
    """SVG for ONE document's visual graph from the distributed DOT
    statement table (:func:`operators.serialize.to_dot` output) — the
    per-request presentation step, same collect cost as
    :func:`assemble_dot`."""
    from rdfshape_api_spark.operators.serialize import assemble_dot

    return dot_to_svg(assemble_dot(lines_df, doc_sha256, name), title=name)

