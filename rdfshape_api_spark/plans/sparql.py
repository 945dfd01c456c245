"""SPARQL 1.1 query compiler: parse into the §18 algebra, evaluate to DataFrames.

Reference: ``DataQuery.dataQuery`` delegates query execution to Jena ARQ
(``modules/server/.../data/logic/operations/DataQuery.scala:51-63``;
``MergedModels.querySelect`` :131-132), which evaluates the W3C SPARQL 1.1
algebra (https://www.w3.org/TR/sparql11-query/#sparqlAlgebra).  The
reference query surface is "any SPARQL the request model can answer"; this
engine compiles the subset the fixtures and tests use — BGP + FILTER
(incl. [NOT] EXISTS) + MINUS + OPTIONAL + UNION + BIND + VALUES + GRAPH +
subqueries + property paths (``^ / | + * ? !``) + DISTINCT + GROUP BY /
aggregates + HAVING + ORDER BY + LIMIT/OFFSET, with the SELECT, CONSTRUCT,
ASK and DESCRIBE forms and the §17.4 builtins (string, numeric, hash and
datetime accessors; LANG/DATATYPE/LANGMATCHES over term-metadata sidecar
columns).

Compilation scheme:
* :func:`parse_sparql` translates each query once into an algebra tree
  (§18.2.2): the elements of a group fold left to right into ``Join``,
  ``LeftJoin``, ``Minus`` and ``Extend``, and the group's filters wrap the
  whole group (an OPTIONAL's filters become its ``LeftJoin`` condition).
  Solution modifiers wrap the pattern: ``Group``, ``Filter`` (HAVING),
  ``Project``, ``Distinct``, ``OrderBy``, ``Slice``.  ORDER BY sits above
  the projection, because a Spark sort does not survive a later distinct,
  so its keys must be projected.  A property path stays one triple pattern
  that holds its ``plans/paths.py`` IR.  FILTER, BIND, HAVING and ORDER BY
  expressions become a §17 expression tree.
* :func:`_eval` compiles the tree to DataFrame operations over the triples
  view (SURVEY §2.5 J6), leaning on Catalyst/AQE for join order and
  strategy.  A triple pattern is a filtered projection with one column per
  variable (a constant predicate is a partition-prunable ``pred =``
  filter).  A join whose shared variables are certainly bound on both sides
  (:func:`_certain`) is a hash equi-join, semi-join or anti-join; otherwise
  it is the §18.3 compatibility join, where an unbound value matches
  anything.

The model is the *merged* graph (all docs unioned), matching the reference's
request-scoped merged model semantics (``MergedModels.scala:182-191``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, functions as F

from rdfshape_api_spark.plans.paths import (
    PathAlt,
    PathClosure,
    PathInverse,
    PathNeg,
    PathNode,
    PathPred,
    PathSeq,
    invert_path,
    path_rows,
)
from rdfshape_api_spark.sources.parsers import unescape

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

_TOKEN_RE = re.compile(
    r"""
    (?P<comment>\#[^\n]*)
  | (?P<iri><[^>\s]*>)
  | (?P<var>[?$][A-Za-z_][A-Za-z0-9_]*)
  | (?P<string>"(?:[^"\\]|\\.)*")
  | (?P<langtag>@[A-Za-z][A-Za-z0-9-]*)
  | (?P<dtsep>\^\^)
  | (?P<number>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<pname>[A-Za-z_][A-Za-z0-9_.-]*:[A-Za-z0-9_.-]*)
  | (?P<keyword>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<op><=|>=|!=|&&|\|\||[{}().;,=<>*!+/^|?-])
  | (?P<space>\s+)
  | (?P<bad>\S)
    """,
    re.VERBOSE,
)


class SparqlParseError(ValueError):
    pass


def _tokenize(text: str) -> list[str]:
    """Query text → tokens.  ``$name`` is the variable ``?name`` (VAR2,
    §19.8); a character no token matches raises with its offset."""
    tokens = []
    for m in _TOKEN_RE.finditer(text):
        kind = m.lastgroup
        if kind == "bad":
            raise SparqlParseError(f"unexpected character {m.group(0)!r} at offset {m.start()}")
        if kind == "var":
            tokens.append("?" + m.group(0)[1:])
        elif kind not in ("comment", "space"):
            tokens.append(m.group(0))
    return tokens


# ---------------------------------------------------------------------------
# the algebra (§18.2) and expression (§17) trees
# ---------------------------------------------------------------------------


@dataclass
class TriplePattern:
    subj: str  # '?var' or absolute IRI
    pred: str  # '?var' or absolute IRI ('' when ``path`` is set)
    obj: str  # '?var' or term spec
    obj_is_literal: bool = False
    obj_lang: str | None = None
    obj_datatype: str | None = None
    path: PathNode | None = None  # non-None → pred position is a path expr


@dataclass
class BGP:
    """Basic graph pattern; no patterns is the identity Z (one empty solution)."""

    patterns: list[TriplePattern] = field(default_factory=list)


@dataclass
class Join:
    left: object
    right: object


@dataclass
class LeftJoin:
    left: object
    right: object
    exprs: list = field(default_factory=list)  # conjuncts of the condition


@dataclass
class Filter:
    exprs: list  # conjuncts; an ``Exists`` is a semi-join or anti-join
    child: object


@dataclass
class Union:
    branches: list


@dataclass
class Minus:
    left: object
    right: object


@dataclass
class Graph:
    """``GRAPH ?g|<iri> { … }``.  Engine extension over the reference's
    merged-model query surface (``MergedModels.scala:182-191``): each source
    DOCUMENT is a named graph ``urn:doc:<doc_sha256>``."""

    term: str  # '?var' or absolute IRI
    child: object


@dataclass
class Extend:
    child: object
    var: str
    expr: object


@dataclass
class Values:
    vars: list[str]
    rows: list[list[str | None]]  # None = UNDEF


@dataclass
class Aggregate:
    func: str  # COUNT SUM MIN MAX AVG GROUP_CONCAT SAMPLE
    arg: str  # variable name or '*'
    distinct: bool
    alias: str
    sep: str = " "  # GROUP_CONCAT separator (§18.5.1.7 default)


@dataclass
class Group:
    child: object
    keys: list[str]
    aggs: list[Aggregate]


@dataclass
class Project:
    child: object
    vars: list[str]


@dataclass
class Distinct:
    child: object


@dataclass
class OrderBy:
    child: object
    conds: list  # (expr, descending)


@dataclass
class Slice:
    child: object
    offset: int | None
    limit: int | None


@dataclass(frozen=True)
class Var:
    name: str


@dataclass(frozen=True)
class Const:
    value: object  # str (literal lexical form or IRI), int or float
    numeric: bool = False


@dataclass(frozen=True)
class Call:
    name: str  # upper-case builtin name
    args: tuple


@dataclass(frozen=True)
class Op:
    op: str  # '!', '||', '&&', a comparison, an arithmetic op, 'in', 'notin'
    args: tuple


@dataclass
class Exists:
    negated: bool
    pattern: object


@dataclass
class SparqlQuery:
    form: str  # 'select' | 'construct' | 'ask' | 'describe'
    algebra: object | None  # None: DESCRIBE without WHERE
    where: object | None  # the WHERE pattern, a subtree of ``algebra``
    template: list[TriplePattern] = field(default_factory=list)  # CONSTRUCT
    describe: list[str] = field(default_factory=list)  # '?var' or IRIs


def _children(node) -> list:
    if isinstance(node, (Join, LeftJoin, Minus)):
        return [node.left, node.right]
    if isinstance(node, Union):
        return node.branches
    if isinstance(node, (BGP, Values)):
        return []
    return [node.child]


def _node_exprs(node) -> list:
    if isinstance(node, (Filter, LeftJoin)):
        return node.exprs
    if isinstance(node, Extend):
        return [node.expr]
    return []


def _expr_walk(e):
    yield e
    for a in getattr(e, "args", ()):
        yield from _expr_walk(a)


def _dedup(names) -> list[str]:
    return list(dict.fromkeys(names))


def _pattern_vars(pat: TriplePattern) -> list[str]:
    return [t[1:] for t in (pat.subj, pat.pred, pat.obj) if t.startswith("?")]


def _scope(node) -> list[str]:
    """The in-scope variables of a pattern (§18.2.1), in order of first
    appearance — SELECT ``*`` projects these."""
    if isinstance(node, BGP):
        return _dedup(v for pat in node.patterns for v in _pattern_vars(pat))
    if isinstance(node, Values):
        return list(node.vars)
    if isinstance(node, Project):
        return list(node.vars)
    if isinstance(node, Extend):
        return _dedup(_scope(node.child) + [node.var])
    if isinstance(node, Graph):
        own = [node.term[1:]] if node.term.startswith("?") else []
        return _dedup(own + _scope(node.child))
    if isinstance(node, Minus):
        return _scope(node.left)
    return _dedup(v for c in _children(node) for v in _scope(c))


def _certain(node) -> set[str]:
    """The variables bound in every solution of a pattern.  A join on
    variables certainly bound on both sides is a plain hash equi-join; any
    other shared variable needs the §18.3 compatibility test."""
    if isinstance(node, BGP):
        return set(_scope(node))
    if isinstance(node, Values):
        return {v for i, v in enumerate(node.vars) if all(r[i] is not None for r in node.rows)}
    if isinstance(node, Join):
        return _certain(node.left) | _certain(node.right)
    if isinstance(node, (LeftJoin, Minus)):
        return _certain(node.left)
    if isinstance(node, Union):
        return set.intersection(*(_certain(b) for b in node.branches))
    if isinstance(node, Graph):
        return _certain(node.child) | ({node.term[1:]} if node.term.startswith("?") else set())
    if isinstance(node, Project):
        return _certain(node.child) & set(node.vars)
    if isinstance(node, Group):
        return _certain(node.child) & set(node.keys)
    return _certain(node.child)  # Filter, Extend, Distinct, OrderBy, Slice


# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------

_AGG_FUNCS = {"COUNT", "SUM", "MIN", "MAX", "AVG", "GROUP_CONCAT", "SAMPLE"}

#: SPARQL 1.1 builtin functions compiled to Column expressions (§17.4) —
#: each maps straight onto a JVM-side function, no UDFs
_EXPR_FUNCS = {
    "CONCAT", "STR", "STRLEN", "UCASE", "LCASE", "SUBSTR", "REPLACE",
    "STRBEFORE", "STRAFTER", "COALESCE", "IF", "ABS", "ROUND", "FLOOR",
    "CEIL", "REGEX", "CONTAINS", "STRSTARTS", "STRENDS", "BOUND",
    "ISIRI", "ISURI", "ISLITERAL", "ISBLANK",
    "LANG", "DATATYPE", "LANGMATCHES",
    "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
    "MD5", "SHA1", "SHA256", "SHA384", "SHA512",
    "ENCODE_FOR_URI", "ISNUMERIC", "SAMETERM", "IRI", "URI",
    "STRLANG", "STRDT",
    "NOW", "UUID", "STRUUID", "RAND", "TZ",
}
_CMP_OPS = {"=", "!=", "<", "<=", ">", ">="}
_OP_TOKENS = {"{", "}", "(", ")", ".", ";", ",", "=", "<", ">", "*", "!", "+", "/", "^",
              "|", "?", "-", "<=", ">=", "!=", "&&", "||", "^^"}
_NUM_RE = re.compile(r"[+-]?\d+(\.\d+)?([eE][+-]?\d+)?$")


def _expand(tok: str, prefixes: dict[str, str]) -> str:
    """Prefixed name / IRI-ref / 'a' keyword → absolute IRI string."""
    if tok == "a":
        return RDF_TYPE
    if tok.startswith("<") and tok.endswith(">"):
        return tok[1:-1]
    if ":" in tok:
        pfx, local = tok.split(":", 1)
        if pfx in prefixes:
            return prefixes[pfx] + local
    raise SparqlParseError(f"cannot resolve term {tok!r}")


def _unquote(tok: str) -> str:
    """String token → its value, escapes decoded as in N-Triples/Turtle."""
    try:
        return unescape(tok[1:-1])
    except ValueError as e:
        raise SparqlParseError(f"bad string literal {tok}: {e}") from None


class _Parser:
    def __init__(self, tokens: list[str]):
        self.tokens = tokens
        self.i = 0
        self.prefixes: dict[str, str] = {}

    def peek(self, k: int = 0) -> str | None:
        return self.tokens[self.i + k] if self.i + k < len(self.tokens) else None

    def at(self, *words: str) -> bool:
        """Is the next token one of ``words`` (case-insensitive)?"""
        t = self.peek()
        return t is not None and t.upper() in words

    def next(self) -> str:
        if self.i >= len(self.tokens):
            raise SparqlParseError("unexpected end of query")
        t = self.tokens[self.i]
        self.i += 1
        return t

    def expect(self, want: str) -> None:
        t = self.next()
        if t.upper() != want.upper():
            raise SparqlParseError(f"expected {want!r}, got {t!r}")

    def var(self, what: str) -> str:
        t = self.next()
        if not t.startswith("?"):
            raise SparqlParseError(f"{what} must be a ?var, got {t!r}")
        return t[1:]


def parse_sparql(text: str) -> SparqlQuery:
    p = _Parser(_tokenize(text))
    while p.at("PREFIX"):
        p.next()
        pname = p.next()
        if not pname.endswith(":"):
            raise SparqlParseError(f"bad prefix decl {pname!r}")
        p.prefixes[pname[:-1]] = p.next()[1:-1]

    form = p.next().upper()
    if form == "SELECT":
        algebra, where = _parse_select(p)
        q = SparqlQuery("select", algebra, where)
    elif form in ("CONSTRUCT", "ASK", "DESCRIBE"):
        q = SparqlQuery(form.lower(), None, None)
        if form == "CONSTRUCT":
            p.expect("{")
            while p.peek() != "}":
                _parse_triples_block(p, q.template)
            p.expect("}")
        if form == "DESCRIBE":
            # DESCRIBE (VarOrIRI)+ [WHERE { … }]
            while p.peek() and not p.at("WHERE", "{"):
                t = p.next()
                q.describe.append(t if t.startswith("?") else _expand(t, p.prefixes))
            if not q.describe:
                raise SparqlParseError("DESCRIBE needs at least one ?var or IRI")
        if p.peek() is not None or form != "DESCRIBE":
            # the WHERE keyword is optional for these forms
            if p.at("WHERE"):
                p.next()
            q.where = _parse_group(p)
            # CONSTRUCT/ASK/DESCRIBE share SELECT's solution modifiers, so
            # `CONSTRUCT … LIMIT 10` limits the solution sequence
            q.algebra = _solution_modifiers(p, q.where, None, form)
    else:
        raise SparqlParseError(f"unsupported query form {form!r}")
    if p.peek() is not None:
        raise SparqlParseError(f"unexpected {p.peek()!r} after the query")
    return q


def _parse_select(p: _Parser):
    """``SELECT [DISTINCT|REDUCED] projection [WHERE] { … } modifiers`` →
    (algebra, WHERE pattern); shared by the query and subqueries (§12)."""
    distinct = p.at("DISTINCT", "REDUCED")
    if distinct:
        # REDUCED permits (does not mandate) duplicate elimination
        # (§18.2.5.2) — eliminating them fully is a conforming and, unlike
        # a partial dedup, DETERMINISTIC choice, so REDUCED ≡ DISTINCT here
        p.next()
    vars_, aggs = _parse_projection(p)
    if p.at("WHERE"):
        p.next()
    where = _parse_group(p)
    return _solution_modifiers(p, where, (vars_, aggs, distinct), "SELECT"), where


def _parse_projection(p: _Parser) -> tuple[list[str], list[Aggregate]]:
    """The SELECT projection list: ``?var``s, ``*`` (an empty list), and
    ``( AGG ( [DISTINCT] ?v | * ) AS ?alias )`` expressions."""
    vars_: list[str] = []
    aggs: list[Aggregate] = []
    while p.peek() and (p.peek().startswith("?") or p.peek() in ("*", "(")):
        t = p.next()
        if t == "*":
            continue
        if t != "(":
            vars_.append(t[1:])
            continue
        func = p.next().upper()
        if func not in _AGG_FUNCS:
            raise SparqlParseError(f"unsupported select expression {func!r}")
        p.expect("(")
        agg_distinct = p.at("DISTINCT")
        if agg_distinct:
            p.next()
        arg = p.next()
        if arg != "*" and not arg.startswith("?"):
            raise SparqlParseError(f"aggregate argument must be ?var or *, got {arg!r}")
        agg = Aggregate(func, arg if arg == "*" else arg[1:], agg_distinct, "")
        if p.peek() == ";":
            p.next()
            p.expect("SEPARATOR")
            p.expect("=")
            stok = p.next()
            if not stok.startswith('"'):
                raise SparqlParseError("SEPARATOR expects a string literal")
            agg.sep = _unquote(stok)
        p.expect(")")
        p.expect("AS")
        agg.alias = p.var("aggregate alias")
        p.expect(")")
        aggs.append(agg)
    return vars_, aggs


def _solution_modifiers(p: _Parser, where, select, form: str):
    """GROUP BY, HAVING, ORDER BY and LIMIT/OFFSET after a WHERE clause,
    wrapped around ``where``.  ``select`` is (vars, aggregates, distinct)
    for a SELECT, None for the other forms."""
    node = where
    keys: list[str] = []
    if p.at("GROUP"):
        p.next()
        p.expect("BY")
        while p.peek() and p.peek().startswith("?"):
            keys.append(p.next()[1:])
    having = []
    while p.at("HAVING"):
        p.next()
        having.append(_parse_constraint(p))
    if select is None and (keys or having):
        # GROUP BY/HAVING need a projection to aggregate into
        raise SparqlParseError(f"GROUP BY/HAVING is unsupported on {form} queries")
    if select is not None:
        vars_, aggs, distinct = select
        if aggs or keys:
            node = Group(node, keys, aggs)
        if having:
            node = Filter(having, node)
        if aggs:
            proj = (vars_ or keys) + [a.alias for a in aggs]
        else:
            proj = vars_ or _scope(where)
        node = Project(node, proj)
        if distinct:
            node = Distinct(node)
    if p.at("ORDER"):
        p.next()
        p.expect("BY")
        conds = []
        while p.peek() and (
            p.peek().startswith("?") or p.peek() == "(" or p.at("ASC", "DESC", *_EXPR_FUNCS)
        ):
            desc = False
            if p.at("ASC", "DESC"):
                desc = p.next().upper() == "DESC"
                p.expect("(")
                e = _parse_expr(p)
                p.expect(")")
            elif p.peek().startswith("?"):
                e = Var(p.next()[1:])
            else:
                e = _parse_constraint(p)
            conds.append((e, desc))
        node = OrderBy(node, conds)
    offset = limit = None
    while p.at("LIMIT", "OFFSET"):
        kw = p.next().upper()
        n = int(p.next())
        if kw == "LIMIT":
            limit = n
        else:
            offset = n
    if offset is not None or limit is not None:
        node = Slice(node, offset, limit)
    return node


def _join_node(g, a):
    """``Join(g, a)`` with the §18.2.2.8 simplifications: the identity Z
    drops out, and adjacent basic graph patterns merge into one BGP."""
    if isinstance(g, BGP) and not g.patterns:
        return a
    if isinstance(a, BGP):
        if isinstance(g, BGP):
            return BGP(g.patterns + a.patterns)
        if isinstance(g, Join) and isinstance(g.right, BGP):
            return Join(g.left, BGP(g.right.patterns + a.patterns))
    return Join(g, a)


def _parse_group(p: _Parser):
    """``{ … }`` → its algebra (§18.2.2.6): elements fold left to right
    inside the group, and the group's filters wrap the whole group."""
    p.expect("{")
    if p.at("SELECT"):
        p.next()
        sub, _ = _parse_select(p)
        p.expect("}")
        return sub
    g = BGP()
    filters: list = []
    while True:
        t = p.peek()
        if t is None:
            raise SparqlParseError("unterminated group")
        up = t.upper()
        if t == "}":
            p.next()
            break
        if up == "FILTER":
            p.next()
            if p.at("EXISTS", "NOT"):
                # FILTER [NOT] EXISTS { … } — a pattern-valued filter
                neg = p.next().upper() == "NOT"
                if neg:
                    p.expect("EXISTS")
                filters.append(Exists(neg, _parse_group(p)))
            else:
                filters.append(_parse_constraint(p))
        elif up == "BIND":
            p.next()
            p.expect("(")
            e = _parse_expr(p)
            p.expect("AS")
            g = Extend(g, p.var("BIND alias"), e)
            p.expect(")")
        elif up == "VALUES":
            p.next()
            g = _join_node(g, _parse_values(p))
        elif up == "OPTIONAL":
            p.next()
            a = _parse_group(p)
            if isinstance(a, Filter):
                g = LeftJoin(g, a.child, a.exprs)
            else:
                g = LeftJoin(g, a)
        elif up == "MINUS":
            p.next()
            g = Minus(g, _parse_group(p))
        elif up == "GRAPH":
            p.next()
            gt = p.next()
            term = gt if gt.startswith("?") else _expand(gt, p.prefixes)
            g = _join_node(g, Graph(term, _parse_group(p)))
        elif t == "{":
            branches = [_parse_group(p)]
            while p.at("UNION"):
                p.next()
                branches.append(_parse_group(p))
            g = _join_node(g, branches[0] if len(branches) == 1 else Union(branches))
        else:
            pats: list[TriplePattern] = []
            _parse_triples_block(p, pats)
            g = _join_node(g, BGP(pats))
            continue
        if p.peek() == ".":
            p.next()
    return Filter(filters, g) if filters else g


def _parse_values(p: _Parser) -> Values:
    """``VALUES ?v { t... }`` or ``VALUES (?a ?b) { (ta tb)... }``.
    UNDEF → None. Terms resolve to their binding string (IRIs expanded,
    literals unquoted) — matching the string-typed binding columns."""
    vars_: list[str] = []
    rows: list[list[str | None]] = []

    def term() -> str | None:
        t = p.next()
        if t.upper() == "UNDEF":
            return None
        if t.startswith('"'):
            return _unquote(t)
        if re.fullmatch(r"[+-]?\d+(\.\d+)?", t):
            return t
        return _expand(t, p.prefixes)

    if p.peek() == "(":
        p.next()
        while p.peek() != ")":
            vars_.append(p.var("VALUES variable"))
        p.next()
        p.expect("{")
        while p.peek() != "}":
            p.expect("(")
            row = []
            while p.peek() != ")":
                row.append(term())
            p.next()
            if len(row) != len(vars_):
                raise SparqlParseError("VALUES row arity mismatch")
            rows.append(row)
        p.next()
    else:
        vars_.append(p.var("VALUES variable"))
        p.expect("{")
        while p.peek() != "}":
            rows.append([term()])
        p.next()
    return Values(vars_, rows)


def _parse_term(p: _Parser) -> tuple[str, bool, str | None, str | None]:
    """Returns (value_or_var, is_literal, lang, datatype)."""
    t = p.next()
    if t.startswith("?"):
        return t, False, None, None
    if t.startswith('"'):
        lang = dt = None
        if p.peek() and p.peek().startswith("@"):
            lang = p.next()[1:]
        elif p.peek() == "^^":
            p.next()
            dt = _expand(p.next(), p.prefixes)
        return _unquote(t), True, lang, dt
    if re.fullmatch(r"[+-]?\d+", t):
        return t, True, None, "http://www.w3.org/2001/XMLSchema#integer"
    if re.fullmatch(r"[+-]?\d+\.\d+", t):
        return t, True, None, "http://www.w3.org/2001/XMLSchema#decimal"
    return _expand(t, p.prefixes), False, None, None


#: SPARQL path modifiers → (min_len, max_len) of a PathClosure
_PATH_MODS = {"+": (1, None), "*": (0, None), "?": (0, 1)}


def _parse_path(p: _Parser) -> PathNode:
    """SPARQL 1.1 property-path subset: iri, 'a', ^inverse, /sequence,
    |alternative, +oneOrMore, *zeroOrMore, ?zeroOrOne, (grouping), and
    !negated property sets (§9.1: `!iri`, `!^iri`, `!(p1|^p2|…)` — forward
    and inverse member exclusions), parsed into the shared path IR
    (plans/paths.py)."""

    def nps_member(fwd: list[str], inv: list[str]) -> None:
        # PathOneInPropertySet ::= iri | 'a' | '^' (iri | 'a')
        target = fwd
        if p.peek() == "^":
            p.next()
            target = inv
        tok = p.next()
        if tok is None or tok in ("|", ")", "(", "!", "^"):
            raise SparqlParseError("negated property set: expected IRI member")
        target.append(RDF_TYPE if tok == "a" else _expand(tok, p.prefixes))

    def elt() -> PathNode:
        t = p.peek()
        if t == "^":
            p.next()
            return PathInverse(elt())
        if t == "!":
            p.next()
            fwd: list[str] = []
            inv: list[str] = []
            if p.peek() == "(":
                p.next()
                nps_member(fwd, inv)
                while p.peek() == "|":
                    p.next()
                    nps_member(fwd, inv)
                if p.next() != ")":
                    raise SparqlParseError("unclosed negated property set")
            else:
                nps_member(fwd, inv)
            node = PathNeg(tuple(fwd), tuple(inv))
        elif t == "(":
            p.next()
            node = alt()
            if p.next() != ")":
                raise SparqlParseError("unclosed path group")
        else:
            tok = p.next()
            node = PathPred(RDF_TYPE if tok == "a" else _expand(tok, p.prefixes))
        while p.peek() in _PATH_MODS:
            node = PathClosure(node, *_PATH_MODS[p.next()])
        return node

    def seq() -> PathNode:
        parts = [elt()]
        while p.peek() == "/":
            p.next()
            parts.append(elt())
        return parts[0] if len(parts) == 1 else PathSeq(tuple(parts))

    def alt() -> PathNode:
        parts = [seq()]
        while p.peek() == "|":
            p.next()
            parts.append(seq())
        return parts[0] if len(parts) == 1 else PathAlt(tuple(parts))

    return alt()


def _parse_triples_block(p: _Parser, into: list[TriplePattern]) -> None:
    subj, s_lit, _, _ = _parse_term(p)
    if s_lit:
        raise SparqlParseError("literal subject")
    while True:
        if p.peek() is not None and p.peek().startswith("?"):
            pred, path = p.next(), None
        else:
            path = _parse_path(p)
            if isinstance(path, PathPred):
                pred, path = path.iri, None  # plain predicate — old fast path
            else:
                pred = ""
        while True:
            obj, is_lit, lang, dt = _parse_term(p)
            into.append(TriplePattern(subj, pred, obj, is_lit, lang, dt, path=path))
            if p.peek() == ",":
                p.next()
                continue
            break
        if p.peek() == ";":
            p.next()
            if p.peek() in ("}", ".", None):  # trailing ;
                break
            continue
        break
    if p.peek() == ".":
        p.next()


def _parse_constraint(p: _Parser):
    """A FILTER/HAVING/ORDER BY constraint: ``( expr )`` or a builtin call."""
    if p.peek() != "(" and not p.at(*_EXPR_FUNCS):
        raise SparqlParseError(f"expected '(' or a function call, got {p.peek()!r}")
    return _parse_primary(p)


def _parse_expr(p: _Parser):
    """A §17 expression → its tree: || over && over a comparison / [NOT] IN
    over + - over * / over unary ! and primaries."""

    def binary(ops, operand):
        e = operand()
        while p.peek() in ops:
            op = p.next()
            e = Op(op, (e, operand()))
        return e

    def unary():
        if p.peek() == "!":
            p.next()
            return Op("!", (unary(),))
        return _parse_primary(p)

    def additive():
        return binary(("+", "-"), lambda: binary(("*", "/"), unary))

    def relational():
        left = additive()
        neg = p.at("NOT") and (p.peek(1) or "").upper() == "IN"
        if neg:
            p.next()
        if p.at("IN"):
            # IN / NOT IN (§17.4.1.9-10): an =-comparison disjunction
            p.next()
            p.expect("(")
            items = []
            while p.peek() != ")":
                items.append(additive())
                if p.peek() == ",":
                    p.next()
            p.next()
            return Op("notin" if neg else "in", (left, *items))
        if p.peek() in _CMP_OPS:
            op = p.next()
            return Op(op, (left, additive()))
        return left

    return binary(("||",), lambda: binary(("&&",), relational))


def _parse_primary(p: _Parser):
    t = p.next()
    up = t.upper()
    if t == "(":
        e = _parse_expr(p)
        p.expect(")")
        return e
    if up == "EXISTS" or (up == "NOT" and p.at("EXISTS")):
        raise SparqlParseError("[NOT] EXISTS is supported only as a whole FILTER")
    if up in _EXPR_FUNCS and p.peek() == "(":
        p.next()
        args = []
        while p.peek() != ")":
            args.append(_parse_expr(p))
            if p.peek() == ",":
                p.next()
        p.next()
        if up in ("LANG", "DATATYPE") and not (len(args) == 1 and isinstance(args[0], Var)):
            # the metadata lives in sidecar columns keyed by the variable
            # name, not in the string binding itself
            raise SparqlParseError(f"{up}() supports a variable argument only")
        return Call(up, tuple(args))
    if t.startswith("?"):
        return Var(t[1:])
    if t.startswith('"'):
        return Const(_unquote(t))
    if t.startswith("<") and t.endswith(">") and len(t) > 1:
        # IRI operand (e.g. DATATYPE(?v) = <…#integer>): the bracket-free
        # IRI string, matching the binding representation
        return Const(t[1:-1])
    if _NUM_RE.match(t):
        return Const(float(t) if ("." in t or "E" in up) else int(t), True)
    if ":" in t:
        return Const(_expand(t, p.prefixes))
    if t in _OP_TOKENS or t.startswith("@"):
        raise SparqlParseError(f"unexpected {t!r} in expression")
    return Const(t)  # any other bare word (true, false): its string form


# ---------------------------------------------------------------------------
# expressions → Columns
# ---------------------------------------------------------------------------

#: builtins that need the term-metadata sidecar columns (§17.4.2) — their
#: presence in a filter/BIND expression switches the BGP scans into
#: metadata-carrying mode (``_pattern_df`` with ``with_meta=True``)
_META_FUNCS = {"LANG", "DATATYPE"}

_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
_RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"


def _meta_cols(v: str) -> tuple[str, str, str]:
    """Sidecar column names carrying the RDF term metadata of binding
    ``?v`` (kind / language tag / datatype IRI).  The ``__`` prefix keeps
    them out of join keys and final projections."""
    return f"__kind_{v}", f"__lang_{v}", f"__dt_{v}"


def _col(e, var=F.col) -> tuple[F.Column, bool]:
    """Compile an expression tree to ``(Column, is_numeric)``.  A
    comparison casts both sides numeric when either side is numeric-valued
    (numeric literal, arithmetic result, or numeric builtin) and compares
    strings otherwise — SPARQL operator dispatch over the string-typed
    binding columns.  ``var`` maps a variable name to its Column."""
    if isinstance(e, Var):
        return var(e.name), False
    if isinstance(e, Const):
        return F.lit(e.value), e.numeric
    if isinstance(e, Call):
        return _call(e, var)
    if e.op == "!":
        c, _ = _col(e.args[0], var)
        return ~F.coalesce(c, F.lit(False)), False
    (left, ln), *rest = [_col(a, var) for a in e.args]
    if e.op in ("in", "notin"):
        member = F.lit(False)
        for r, rn in rest:
            le, re_ = (left.try_cast("double"), r.try_cast("double")) if ln or rn else (left, r)
            member = member | F.coalesce(le == re_, F.lit(False))
        return (~member if e.op == "notin" else member), False
    ((r, rn),) = rest
    if e.op == "||":
        return left | r, False
    if e.op == "&&":
        return left & r, False
    if e.op in ("+", "-", "*", "/"):
        le, re_ = left.try_cast("double"), r.try_cast("double")
        return {"+": le + re_, "-": le - re_, "*": le * re_, "/": le / re_}[e.op], True
    if ln or rn:
        left, r = left.try_cast("double"), r.try_cast("double")
    cmp = {
        "=": left == r, "!=": left != r, "<": left < r,
        "<=": left <= r, ">": left > r, ">=": left >= r,
    }
    return cmp[e.op], False


def _call(e: Call, var) -> tuple[F.Column, bool]:
    """The §17.4 builtin subset in ``_EXPR_FUNCS``."""
    up = e.name
    if up in _META_FUNCS:
        # ARQ evaluates these over full RDF terms; this subset carries
        # terms as value + sidecar columns
        kind_c, lang_c, dt_c = (F.col(c) for c in _meta_cols(e.args[0].name))
        if up == "LANG":
            # literal → its tag or "" (plain); non-literal → error (null)
            return F.when(kind_c == "literal", F.coalesce(lang_c, F.lit(""))), False
        # DATATYPE: lang-tagged → rdf:langString, plain → xsd:string
        return (
            F.when(
                kind_c == "literal",
                F.when(lang_c.isNotNull(), F.lit(_RDF_LANGSTRING)).otherwise(
                    F.coalesce(dt_c, F.lit(_XSD_STRING))
                ),
            ),
            False,
        )
    args = [_col(a, var) for a in e.args]
    cols = [c for c, _ in args]
    s = lambda c: c.cast("string")  # noqa: E731
    d = lambda c: c.try_cast("double")  # noqa: E731
    if up == "CONCAT":
        return F.concat(*[s(c) for c in cols]), False
    if up == "STR":
        return s(cols[0]), False
    if up == "STRLEN":
        return F.length(s(cols[0])), True
    if up == "UCASE":
        return F.upper(s(cols[0])), False
    if up == "LCASE":
        return F.lower(s(cols[0])), False
    if up == "SUBSTR":
        ln = cols[2].cast("int") if len(cols) > 2 else F.lit(2147483647)
        return F.substring(s(cols[0]), cols[1].cast("int"), ln), False
    if up == "REPLACE":
        return F.regexp_replace(s(cols[0]), cols[1], s(cols[2])), False
    if up in ("STRBEFORE", "STRAFTER"):
        a, b = s(cols[0]), s(cols[1])
        at = F.position(b, a)
        if up == "STRBEFORE":
            return F.when(at > 0, F.substring(a, F.lit(1), at - 1)).otherwise(""), False
        return (
            F.when(at > 0, F.substring(a, at + F.length(b), F.lit(2147483647)))
            .otherwise(""),
            False,
        )
    if up == "COALESCE":
        return F.coalesce(*cols), any(n for _, n in args)
    if up == "IF":
        return F.when(F.coalesce(cols[0], F.lit(False)), cols[1]).otherwise(cols[2]), False
    if up in ("ABS", "ROUND", "FLOOR", "CEIL"):
        fn = {"ABS": F.abs, "ROUND": F.round, "FLOOR": F.floor, "CEIL": F.ceil}[up]
        return fn(d(cols[0])), True
    if up == "REGEX":
        pat = cols[1]
        if len(cols) > 2:  # flags, e.g. "i" → inline (?i)
            pat = F.concat(F.lit("(?"), s(cols[2]), F.lit(")"), s(pat))
        return F.regexp_like(s(cols[0]), s(pat)), False
    if up == "CONTAINS":
        return F.contains(s(cols[0]), s(cols[1])), False
    if up == "STRSTARTS":
        return F.startswith(s(cols[0]), s(cols[1])), False
    if up == "STRENDS":
        return F.endswith(s(cols[0]), s(cols[1])), False
    if up == "BOUND":
        return cols[0].isNotNull(), False
    if up in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"):
        # §17.4.5 date/time accessors over xsd:dateTime lexical forms —
        # try_cast keeps malformed values null (error semantics)
        ts = s(cols[0]).try_cast("timestamp")
        fn = {
            "YEAR": F.year, "MONTH": F.month, "DAY": F.dayofmonth,
            "HOURS": F.hour, "MINUTES": F.minute, "SECONDS": F.second,
        }[up]
        return fn(ts), True
    if up == "MD5":
        return F.md5(s(cols[0])), False
    if up == "SHA1":
        return F.sha1(s(cols[0])), False
    if up in ("SHA256", "SHA384", "SHA512"):
        return F.sha2(s(cols[0]), int(up[3:])), False
    if up == "ENCODE_FOR_URI":
        # url_encode is form-encoding (space → '+'); SPARQL §17.4.3.4
        # percent-encodes
        return F.regexp_replace(F.url_encode(s(cols[0])), r"\+", "%20"), False
    if up == "ISNUMERIC":
        return d(cols[0]).isNotNull(), False
    if up == "SAMETERM":
        # string bindings: term identity collapses to value equality
        # (the documented subset representation)
        return s(cols[0]).eqNullSafe(s(cols[1])), False
    if up in ("IRI", "URI"):
        # bindings carry IRIs as plain strings — IRI() is the identity
        # on the lexical form (relative resolution needs a base; none
        # in the merged-model subset)
        return s(cols[0]), False
    if up == "NOW":
        # xsd:dateTime lexical form; constant within one query
        # execution per §17.4.5.1 (current_timestamp is plan-constant)
        return F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSS"), False
    if up == "UUID":
        return F.concat(F.lit("urn:uuid:"), F.expr("uuid()")), False
    if up == "STRUUID":
        return F.expr("uuid()"), False
    if up == "RAND":
        return F.rand(), True
    if up == "TZ":
        # timezone designator of an xsd:dateTime lexical form:
        # trailing 'Z' or ±HH:MM, "" when absent (§17.4.5.8)
        return F.regexp_extract(s(cols[0]), r"(Z|[+-]\d{2}:\d{2})$", 1), False
    if up in ("STRLANG", "STRDT"):
        # the VALUE is the lexical form; the constructed term's
        # lang/datatype lives in sidecar columns when this call is the
        # whole BIND expression (see _extend) — nested uses keep the
        # plain string
        return s(cols[0]), False
    if up == "LANGMATCHES":
        # RFC 4647 basic filtering: "*" matches any non-empty tag;
        # otherwise exact tag or extended-subtag prefix, case-insensitive
        tag, rng = F.lower(s(cols[0])), F.lower(s(cols[1]))
        return (
            F.when(rng == "*", tag != "").otherwise(
                (tag == rng) | tag.startswith(F.concat(rng, F.lit("-")))
            ),
            False,
        )
    if up in ("ISIRI", "ISURI"):
        return _term_kind(s(cols[0])) == "iri", False
    if up == "ISLITERAL":
        return _term_kind(s(cols[0])) == "literal", False
    if up == "ISBLANK":
        return _term_kind(s(cols[0])) == "bnode", False
    raise SparqlParseError(f"unsupported function {up!r}")  # pragma: no cover


def _expr_vars(e) -> set[str]:
    """The variables an expression reads (an EXISTS: its pattern's)."""
    if isinstance(e, Exists):
        return set(_scope(e.pattern))
    return {x.name for x in _expr_walk(e) if isinstance(x, Var)}


def _uses_meta(node) -> bool:
    """True when a filter/BIND of this query (subqueries scan their own)
    uses a metadata builtin — only then do BGP scans carry the sidecar
    columns, keeping every other query's plan unchanged."""
    if isinstance(node, Project):
        return False
    for e in _node_exprs(node):
        if isinstance(e, Exists):
            if _uses_meta(e.pattern):
                return True
        elif any(isinstance(x, Call) and x.name in _META_FUNCS for x in _expr_walk(e)):
            return True
    return any(_uses_meta(c) for c in _children(node))


def _ensure_meta(df: DataFrame, e) -> DataFrame:
    """Null-fill sidecar metadata for LANG/DATATYPE arguments whose
    variable was bound outside a metadata-carrying pattern scan (VALUES,
    BIND, subquery projection): kind falls back to the string heuristic,
    lang/datatype stay unknown."""
    for x in _expr_walk(e):
        if isinstance(x, Call) and x.name in _META_FUNCS:
            v = x.args[0].name
            kc, lc, dc = _meta_cols(v)
            if kc not in df.columns:
                src = F.col(v) if v in df.columns else F.lit(None).cast("string")
                df = (
                    df.withColumn(kc, F.when(src.isNotNull(), _term_kind(src)))
                    .withColumn(lc, F.lit(None).cast("string"))
                    .withColumn(dc, F.lit(None).cast("string"))
                )
    return df


# ---------------------------------------------------------------------------
# triple patterns
# ---------------------------------------------------------------------------


def _obj_match(obj: str, is_literal: bool, lang: str | None, dt: str | None) -> F.Column:
    """A constant object term against the ``obj_*`` columns: value, kind,
    and a literal's language tag or datatype."""
    cond = F.col("obj_value") == obj
    if not is_literal:
        return cond & (F.col("obj_kind") != "literal")
    cond = cond & (F.col("obj_kind") == "literal")
    if lang:
        return cond & (F.col("obj_lang") == lang)
    if dt:
        # numeric datatypes compare by value class in SPARQL; exact
        # datatype match is what the fixture profile needs
        return cond & (F.col("obj_datatype") == dt)
    return cond


def _bind_cols(
    v: str, value: F.Column, kind: F.Column | None, with_meta: bool
) -> list[F.Column]:
    """Columns binding ``?v`` to ``value``, plus its term-metadata sidecars
    in metadata-carrying mode: ``kind`` and no lang/datatype for a node,
    or the ``obj_*`` columns when ``kind`` is None."""
    cols = [value.alias(v)]
    if with_meta:
        kc, lc, dc = _meta_cols(v)
        if kind is None:
            cols += [
                F.col("obj_kind").alias(kc),
                F.col("obj_lang").alias(lc),
                F.col("obj_datatype").alias(dc),
            ]
        else:
            null = F.lit(None).cast("string")
            cols += [kind.alias(kc), null.alias(lc), null.alias(dc)]
    return cols


def _const_seed(df: DataFrame, keys: list[str], term: str) -> DataFrame:
    """A constant path end as the evaluator's seed: one row, or one row
    per document graph under per-document scoping."""
    if keys:
        return df.select(*keys).distinct().withColumn("node", F.lit(term))
    # a one-row range, not createDataFrame: its size is known to the
    # planner, so the seed is broadcast and the hop's scan streams
    return df.sparkSession.range(1, numPartitions=1).select(F.lit(term).alias("node"))


def _path_pattern_df(
    df: DataFrame, pat: TriplePattern, with_meta: bool = False
) -> DataFrame:
    """A path pattern through the shared evaluator (plans/paths.py).  A
    constant subject seeds the path; else a constant IRI object seeds the
    inverted path; else the path runs unseeded.  A seeded zero-length path
    reaches its constant even when the graph lacks it (§18.5)."""
    # per-document scoping (sh:sparql, GRAPH): the doc id is the key every
    # hop joins on, and rides along as a pseudo-variable (as in _pattern_df)
    keys = ["_g_doc"] if "_g_doc" in df.columns else []
    path, start = pat.path, pat.subj
    end = (pat.obj, pat.obj_is_literal, pat.obj_lang, pat.obj_datatype)
    if start.startswith("?") and not pat.obj.startswith("?") and not pat.obj_is_literal:
        path, start, end = invert_path(path), pat.obj, (pat.subj, False, None, None)
    seed = None if start.startswith("?") else _const_seed(df, keys, start)
    rows = path_rows(df, path, keys, seed)
    out_cols: list[F.Column] = [F.col(k) for k in keys]
    vars_ = list(keys)
    cond = F.lit(True)
    if start.startswith("?"):
        vars_.append(start[1:])
        out_cols += _bind_cols(start[1:], F.col("node"), _term_kind(F.col("node")), with_meta)
    if end[0] == start and start.startswith("?"):
        # same var both ends (?x p* ?x): constrain node == value, bind once
        cond = F.col("obj_value") == F.col("node")
    elif end[0].startswith("?"):
        vars_.append(end[0][1:])
        out_cols += _bind_cols(end[0][1:], F.col("obj_value"), None, with_meta)
    else:
        cond = _obj_match(*end)
    if not vars_:
        out_cols.append(F.lit(1).alias("__exists"))
    return rows.filter(cond).select(*out_cols)


def _pattern_df(df: DataFrame, pat: TriplePattern, with_meta: bool = False) -> DataFrame:
    if pat.path is not None:
        return _path_pattern_df(df, pat, with_meta=with_meta)
    out_cols: list[F.Column] = []
    vars_: list[str] = []
    cond = F.lit(True)
    if "_g_doc" in df.columns:
        # per-document dataset scoping (sh:sparql evaluation): the doc id
        # rides along as a pseudo-variable, so every BGP join — including
        # EXISTS/MINUS sub-joins — stays inside one document's graph
        vars_.append("_g_doc")
        out_cols.append(F.col("_g_doc"))
    if pat.subj.startswith("?"):
        vars_.append(pat.subj[1:])
        out_cols += _bind_cols(pat.subj[1:], F.col("subj"), _term_kind(F.col("subj")), with_meta)
    else:
        cond = cond & (F.col("subj") == pat.subj)
    if pat.pred.startswith("?"):
        vars_.append(pat.pred[1:])
        out_cols += _bind_cols(pat.pred[1:], F.col("pred"), F.lit("iri"), with_meta)
    else:
        cond = cond & (F.col("pred") == pat.pred)
    if pat.obj.startswith("?"):
        vars_.append(pat.obj[1:])
        out_cols += _bind_cols(pat.obj[1:], F.col("obj_value"), None, with_meta)
    else:
        cond = cond & _obj_match(pat.obj, pat.obj_is_literal, pat.obj_lang, pat.obj_datatype)
    if not vars_:
        out_cols.append(F.lit(1).alias("__exists"))
    return df.filter(cond).select(*out_cols)


def _join_patterns(
    df: DataFrame, pats: list[TriplePattern], with_meta: bool = False
) -> DataFrame:
    # NOTE: no per-pattern distinct — SPARQL BGP matching is bag-semantics
    # over the (set-valued) merged model; deduping projected columns here
    # would undercount aggregates when triples differ only in obj_kind /
    # obj_lang / obj_datatype.
    if not pats:
        # the identity Z: one solution that binds nothing
        return df.sparkSession.range(1, numPartitions=1).drop("id")
    acc = None
    for pat in pats:
        pdf = _pattern_df(df, pat, with_meta=with_meta)
        # every variable of a BGP is bound, so each join is an equi-join
        acc = pdf if acc is None else _join(acc, pdf, set(acc.columns), set(pdf.columns))
    return acc.drop("__exists") if "__exists" in acc.columns else acc


def _merged_model(triples: DataFrame) -> DataFrame:
    if "doc_sha256" in triples.columns:
        # per-doc triples → merged-model SET (MergedModels.scala:182-191);
        # pre-merged views (no doc column) skip the extra shuffle.  BGP
        # matching below is bag-semantics over this set — no per-pattern
        # distinct, so aggregates count each model triple exactly once.
        triples = triples.select(
            "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"
        ).distinct()
    return triples


def _doc_model(triples: DataFrame) -> DataFrame:
    """The per-document triple SET, with the doc id as the ``_g_doc``
    pseudo-variable every BGP join carries."""
    return triples.select(
        F.col("doc_sha256").alias("_g_doc"),
        "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype",
    ).distinct()


# ---------------------------------------------------------------------------
# joins: one helper per operator kind
# ---------------------------------------------------------------------------


def _shared_vars(a: DataFrame, b: DataFrame) -> list[str]:
    """Join keys between two solution tables: shared *variable* columns —
    sidecar metadata never participates in join compatibility."""
    return sorted(c for c in set(a.columns) & set(b.columns) if not c.startswith("__"))


def _drop_dup_meta(keep: DataFrame, incoming: DataFrame) -> DataFrame:
    dup = [
        c
        for c in incoming.columns
        if c.startswith(("__kind_", "__lang_", "__dt_")) and c in keep.columns
    ]
    return incoming.drop(*dup) if dup else incoming


def _bound_both(lc: set[str], rc: set[str]) -> set[str]:
    """The variables certainly bound on both sides of a join (the doc id of
    per-document scoping always is)."""
    return (lc & rc) | {"_g_doc"}


def _compat(shared: list[str], safe: set[str], prefix: str) -> F.Column:
    """§18.3 compatibility of a left row with a right row whose shared
    columns carry ``prefix``: equal, or unbound on either side."""
    cond = F.lit(True)
    for v in shared:
        lv, rv = F.col(v), F.col(prefix + v)
        cond = cond & ((lv == rv) if v in safe else (lv.isNull() | rv.isNull() | (lv == rv)))
    return cond


def _compat_join(
    left: DataFrame, right: DataFrame, shared: list[str], safe: set[str], how: str,
    exprs: list | None = None,
) -> DataFrame:
    """Inner or left outer join under §18.3 compatibility; a merged
    variable takes the bound side's value (and its metadata sidecars).
    ``exprs`` join the condition, reading a merged variable's value."""
    both = [c for c in right.columns if c in left.columns]
    r = right.select(*[F.col(c).alias("_r_" + c) if c in both else F.col(c) for c in right.columns])
    cond = _compat(shared, safe, "_r_")

    def var(v):
        return F.coalesce(F.col(v), F.col("_r_" + v)) if v in shared else F.col(v)

    for e in exprs or ():
        cond = cond & _col(e, var)[0]
    out = left.join(r, on=cond, how=how)

    def merged(c):
        owner = c.split("_", 3)[3] if c.startswith("__") else c
        bound = F.col(owner if owner in left.columns else c).isNotNull()
        return F.when(bound, F.col(c)).otherwise(F.col("_r_" + c)).alias(c)

    return out.select(
        *[merged(c) if c in both else F.col(c) for c in left.columns],
        *[c for c in right.columns if c not in both],
    )


def _join(left: DataFrame, right: DataFrame, lc: set[str], rc: set[str]) -> DataFrame:
    shared, safe = _shared_vars(left, right), _bound_both(lc, rc)
    if not shared:
        return left.crossJoin(right)
    if set(shared) <= safe:
        return left.join(_drop_dup_meta(left, right), on=shared, how="inner")
    return _compat_join(left, right, shared, safe, "inner")


def _left_join(
    left: DataFrame, right: DataFrame, lc: set[str], rc: set[str], exprs: list
) -> DataFrame:
    shared, safe = _shared_vars(left, right), _bound_both(lc, rc)
    if not exprs and set(shared) <= safe:
        right = _drop_dup_meta(left, right)
        return left.join(right, on=shared if shared else F.lit(True), how="left")
    return _compat_join(left, right, shared, safe, "left", exprs)


def _minus(left: DataFrame, right: DataFrame, lc: set[str], rc: set[str]) -> DataFrame:
    """§18.5 Minus: drop μ iff some μ' is compatible with μ and shares a
    bound variable with it; disjoint domains remove nothing.  The doc id of
    per-document scoping is a join key but not a variable of the domains."""
    shared, safe = _shared_vars(left, right), _bound_both(lc, rc)
    real = [v for v in shared if v != "_g_doc"]
    if not real:
        return left
    if set(shared) <= safe:
        # hash anti-join — the scalable plan for the common case
        return left.join(right.select(*shared).distinct(), on=shared, how="left_anti")
    r = right.select(*[F.col(v).alias("_m_" + v) for v in shared]).distinct()
    overlap = F.lit(False)
    for v in real:
        overlap = overlap | (F.col(v).isNotNull() & F.col("_m_" + v).isNotNull())
    return left.join(r, on=_compat(shared, safe, "_m_") & overlap, how="left_anti")


# ---------------------------------------------------------------------------
# the evaluator
# ---------------------------------------------------------------------------

# Named-graph extension: the reference's query surface is the merged model
# (graph labels dropped, MergedModels.scala:182-191); this engine keeps
# doc_sha256 on every row, so each source DOCUMENT doubles as a named graph
# with IRI `urn:doc:<doc_sha256>`.  GRAPH blocks evaluate over the per-doc
# triple set; the default graph stays the merged model.
DOC_GRAPH_PREFIX = "urn:doc:"


@dataclass(frozen=True)
class _Ctx:
    model: DataFrame  # the triples BGPs match: merged, or per-document (``_g_doc``)
    docs: DataFrame | None  # the per-document source behind GRAPH; None: none
    meta: bool = False  # BGP scans carry the term-metadata sidecars


def _eval(node, ctx: _Ctx) -> DataFrame:
    """One algebra node → its solution DataFrame (string-typed bindings,
    one column per variable)."""
    if isinstance(node, BGP):
        return _join_patterns(ctx.model, node.patterns, with_meta=ctx.meta)
    if isinstance(node, Join):
        return _join(
            _eval(node.left, ctx), _eval(node.right, ctx),
            _certain(node.left), _certain(node.right),
        )
    if isinstance(node, LeftJoin):
        return _optional(node, ctx)
    if isinstance(node, Minus):
        return _minus(
            _eval(node.left, ctx), _eval(node.right, ctx),
            _certain(node.left), _certain(node.right),
        )
    if isinstance(node, Filter):
        df = _eval(node.child, ctx)
        for e in node.exprs:
            df = _apply_filter(df, e, ctx)
        return df
    if isinstance(node, Union):
        return _union([_eval(b, ctx) for b in node.branches])
    if isinstance(node, Graph):
        return _graph(node, ctx)
    if isinstance(node, Extend):
        return _extend(_eval(node.child, ctx), node.var, node.expr)
    if isinstance(node, Values):
        spark = ctx.model.sparkSession
        return F.broadcast(
            spark.createDataFrame(
                [tuple(r) for r in node.rows], ", ".join(f"{v} string" for v in node.vars)
            )
        )
    if isinstance(node, Group):
        return _group(_eval(node.child, ctx), node)
    if isinstance(node, Project):
        # a (sub)query's own filters decide whether its scans carry metadata
        df = _eval(node.child, replace(ctx, meta=_uses_meta(node.child)))
        gdoc = ["_g_doc"] if "_g_doc" in df.columns else []
        return df.select(*gdoc, *node.vars)
    if isinstance(node, Distinct):
        return _eval(node.child, ctx).distinct()
    if isinstance(node, OrderBy):
        keys = []
        for e, desc in node.conds:
            c = _col(e)[0]
            keys.append(c.desc() if desc else c.asc())
        return _eval(node.child, ctx).orderBy(*keys)
    if isinstance(node, Slice):
        df = _eval(node.child, ctx)
        if "_g_doc" in df.columns:
            raise SparqlParseError(
                "sh:sparql subset: LIMIT/OFFSET inside a doc-scoped subquery "
                "is unsupported (would need per-document application)"
            )
        if node.offset is not None:
            df = df.offset(node.offset)
        return df if node.limit is None else df.limit(node.limit)
    raise TypeError(f"not an algebra node: {node!r}")  # pragma: no cover


def _apply_filter(df: DataFrame, e, ctx: _Ctx) -> DataFrame:
    if not isinstance(e, Exists):
        return _ensure_meta(df, e).filter(_col(e)[0])
    # FILTER [NOT] EXISTS { … } → semi/anti join on the shared vars
    # (substitution semantics for BOUND correlated variables; a row with a
    # null shared binding never matches a semi join)
    sub = _eval(e.pattern, ctx)
    shared = _shared_vars(df, sub)
    if shared:
        return df.join(
            sub.select(*shared).distinct(), on=shared,
            how="left_anti" if e.negated else "left_semi",
        )
    # uncorrelated EXISTS: a global boolean gate
    nonempty = not sub.limit(1).isEmpty()
    return df.limit(0) if e.negated == nonempty else df


def _optional(node: LeftJoin, ctx: _Ctx) -> DataFrame:
    """LeftJoin(P1, P2, F).  A filter that reads only the optional side's
    variables runs on that side before the join, so unmatched rows keep
    null bindings; a filter that reads the left side joins the condition."""
    left, right = _eval(node.left, ctx), _eval(node.right, ctx)
    outer_only = set(left.columns) - set(right.columns)
    cond = []
    for e in node.exprs:
        if not _expr_vars(e) & outer_only:
            right = _apply_filter(right, e, ctx)
        elif isinstance(e, Exists):
            raise SparqlParseError(
                "FILTER [NOT] EXISTS in an OPTIONAL may not read variables bound outside it"
            )
        else:
            cond.append(e)
    return _left_join(left, right, _certain(node.left), _certain(node.right), cond)


def _union(dfs: list[DataFrame]) -> DataFrame:
    """Align the branches on the union of their columns: a variable absent
    from a branch is unbound there (SPARQL UNION semantics)."""
    all_vars = sorted({c for b in dfs for c in b.columns})
    out = None
    for b in dfs:
        b = b.select(
            *[(F.col(v) if v in b.columns else F.lit(None).cast("string")).alias(v) for v in all_vars]
        )
        out = b if out is None else out.unionByName(b)
    return out


def _extend(df: DataFrame, v: str, e) -> DataFrame:
    """BIND(e AS ?v).  A whole-expression STRLANG/STRDT also fills ``?v``'s
    sidecars, so a later LANG()/DATATYPE() sees the constructed term."""
    df = _ensure_meta(df, e).withColumn(v, _col(e)[0])
    if isinstance(e, Call) and e.name in ("STRLANG", "STRDT") and len(e.args) == 2:
        arg2 = _col(e.args[1])[0].cast("string")
        null = F.lit(None).cast("string")
        lang, dt = (F.lower(arg2), null) if e.name == "STRLANG" else (null, arg2)
        kc, lc, dc = _meta_cols(v)
        df = df.withColumn(kc, F.lit("literal")).withColumn(lc, lang).withColumn(dc, dt)
    return df


def _graph(node: Graph, ctx: _Ctx) -> DataFrame:
    """GRAPH: the inner pattern evaluates over the per-document triple SET
    with the doc id threaded through every BGP join as the ``_g_doc``
    pseudo-variable (same mechanism as sh:sparql evaluation) — patterns
    match within ONE document's graph; ``?g`` binds the graph name / a
    graph IRI filters to one document."""
    docs = ctx.docs
    if docs is None or "doc_sha256" not in docs.columns:
        raise SparqlParseError(
            "GRAPH requires a per-document triple source (merged or "
            "doc-scoped inputs carry no graph labels)"
        )
    if isinstance(node.child, BGP) and not node.child.patterns:
        # `GRAPH ?g {}` — SPARQL §13.3: the empty group matches every
        # named graph with the empty solution μ{}, so the block enumerates
        # the graph names (one row per document graph).  The IRI form
        # would yield a zero-column solution — still a clean reject.
        if not node.term.startswith("?"):
            raise SparqlParseError("GRAPH <iri> {} has no bindings — use a triple pattern")
        return docs.select(
            F.concat(F.lit(DOC_GRAPH_PREFIX), F.col("doc_sha256")).alias(node.term[1:])
        ).distinct()
    b = _eval(node.child, replace(ctx, model=_doc_model(docs)))
    if "_g_doc" not in b.columns:
        # e.g. `GRAPH ?g1 { GRAPH ?g2 { … } }` with no patterns of its
        # own: the outer block binds nothing in its graph, so there is no
        # document to name — reject instead of guessing
        raise SparqlParseError("a GRAPH block needs at least one triple pattern of its own")
    gname = F.concat(F.lit(DOC_GRAPH_PREFIX), F.col("_g_doc"))
    if node.term.startswith("?"):
        b = b.withColumn(node.term[1:], gname)
    else:
        b = b.filter(gname == node.term)
    return b.drop("_g_doc")


def _group(df: DataFrame, node: Group) -> DataFrame:
    """GROUP BY + aggregates.  In per-document mode (sh:sparql) the doc id
    is an implicit grouping key, matching the spec's per-focus-graph
    evaluation."""
    aggs = []
    for a in node.aggs:
        if a.func == "COUNT":
            if a.arg == "*":
                c = F.count(F.lit(1))
            else:
                c = F.count_distinct(F.col(a.arg)) if a.distinct else F.count(F.col(a.arg))
            aggs.append(c.cast("bigint").alias(a.alias))
        elif a.func == "GROUP_CONCAT":
            # SPARQL leaves element order implementation-defined; sort
            # lexically so results are deterministic across partitions
            # (and hash-comparable to a string_agg(… ORDER BY) oracle)
            vals = F.collect_set(F.col(a.arg)) if a.distinct else F.collect_list(F.col(a.arg))
            aggs.append(F.array_join(F.sort_array(vals), a.sep).alias(a.alias))
        elif a.func == "SAMPLE":
            # any value is a valid SAMPLE; min() is a deterministic one
            aggs.append(F.min(F.col(a.arg)).alias(a.alias))
        else:
            col = F.col(a.arg).try_cast("double")
            if a.distinct:
                # MIN/MAX are insensitive to DISTINCT; SUM/AVG aggregate
                # the distinct value set (Catalyst plans these as a
                # two-phase distinct aggregate)
                if a.func == "SUM":
                    agg_col = F.sum_distinct(col)
                elif a.func == "AVG":
                    # no avg_distinct builtin in this pyspark; the
                    # distinct-set ratio is equivalent and stays JVM-side
                    agg_col = F.sum_distinct(col) / F.count_distinct(col)
                else:
                    agg_col = {"MIN": F.min, "MAX": F.max}[a.func](col)
            else:
                agg_col = {"SUM": F.sum, "MIN": F.min, "MAX": F.max, "AVG": F.avg}[a.func](col)
            aggs.append(agg_col.alias(a.alias))
    keys = (["_g_doc"] if "_g_doc" in df.columns else []) + node.keys
    if not aggs:
        return df.select(*keys).distinct()
    return df.groupBy(*keys).agg(*aggs)


def _run(triples: DataFrame, node) -> DataFrame:
    """Evaluate a query's algebra over the merged model, with ``triples``
    itself as the per-document source behind GRAPH."""
    return _eval(node, _Ctx(_merged_model(triples), triples, _uses_meta(node)))


def _parse_form(query_text: str, form: str) -> SparqlQuery:
    q = parse_sparql(query_text)
    if q.form != form:
        raise SparqlParseError(f"sparql_{form} requires a {form.upper()} query")
    return q


def sparql_select(triples: DataFrame, query_text: str) -> DataFrame:
    """Execute a SPARQL-SELECT subset query over the triples DataFrame.
    Returns one column per selected variable (string-typed bindings, the
    JSON-bindings contract of ``DataQuery.scala:51-63``)."""
    return _run(triples, _parse_form(query_text, "select").algebra)


def sparql_violators(triples: DataFrame, query_text: str) -> DataFrame:
    """SHACL-SPARQL constraint evaluation (``sh:select`` with ``$this``):
    the violator set ``(doc_sha256, node)`` from ONE distributed query.

    ``$this`` is the free variable ``?this`` (VAR2 syntax) and the query runs
    over every document's graph at once; per-document scoping comes from
    threading the doc id through every BGP join as the ``_g_doc``
    pseudo-variable — the set-based equivalent of the spec's per-focus-node
    evaluation, with no driver-side loop.  Property paths run per
    document (``path_rows`` keyed on ``_g_doc``);
    subqueries group implicitly by document (``_group``), so
    aggregates are scoped to one graph as the spec's per-focus evaluation
    requires — LIMIT/OFFSET inside a subquery stays rejected."""
    q = parse_sparql(query_text)
    node = q.algebra
    while node is not q.where:
        if isinstance(node, (Group, Filter, Slice)):
            # the violator set is ?this bindings only; top-level solution
            # modifiers would be silently dropped — reject instead (push the
            # aggregation into a subquery, which groups per document)
            raise SparqlParseError(
                "sh:sparql subset: top-level GROUP BY/HAVING/LIMIT/OFFSET in a "
                "constraint query is unsupported — use a subquery"
            )
        node = node.child
    sol = _eval(q.where, _Ctx(_doc_model(triples), None, _uses_meta(q.where)))
    if "this" not in sol.columns:
        raise SparqlParseError("sh:sparql constraint query must bind $this")
    return sol.select(
        F.col("_g_doc").alias("doc_sha256"), F.col("this").alias("node")
    ).distinct()


def _term_kind(col: F.Column) -> F.Column:
    """Graph-term kind of a string binding (CONSTRUCT subset heuristic —
    the solution table carries string values only): bnode label / skolem
    IRI → bnode, scheme-shaped → iri, else literal.  A literal whose
    lexical form is itself scheme-shaped ("http://…" as TEXT) is
    misclassified as an IRI; acceptable for the subset and documented."""
    from rdfshape_api_spark.model import SKOLEM_PREFIX

    return (
        F.when(col.startswith("_:") | col.startswith(SKOLEM_PREFIX), F.lit("bnode"))
        .when(col.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), F.lit("iri"))
        .otherwise(F.lit("literal"))
    )


def sparql_construct(triples: DataFrame, query_text: str) -> DataFrame:
    """SPARQL CONSTRUCT: instantiate the template once per solution and
    union into a triple SET (a graph).  Returns the engine's flat triple
    schema ``(subj, pred, obj_kind, obj_value, obj_lang, obj_datatype)``
    — ready for :mod:`operators.serialize` or a store write.  Reference:
    ARQ behind ``DataQuery.scala:51-63`` executes any query form."""
    q = _parse_form(query_text, "construct")
    sols = _run(triples, q.algebra)
    outs = []
    for pat in q.template:
        subj = F.col(pat.subj[1:]) if pat.subj.startswith("?") else F.lit(pat.subj)
        pred = F.col(pat.pred[1:]) if pat.pred.startswith("?") else F.lit(pat.pred)
        if pat.obj.startswith("?"):
            oc = F.col(pat.obj[1:])
            okind = _term_kind(oc)
            olang = F.lit(None).cast("string")
            odt = F.lit(None).cast("string")
        else:
            oc = F.lit(pat.obj)
            okind = F.lit("literal" if pat.obj_is_literal else "iri")
            olang = F.lit(pat.obj_lang).cast("string")
            odt = F.lit(pat.obj_datatype).cast("string")
        rows = sols.select(
            subj.alias("subj"),
            pred.alias("pred"),
            okind.alias("obj_kind"),
            oc.alias("obj_value"),
            olang.alias("obj_lang"),
            odt.alias("obj_datatype"),
        ).filter(
            F.col("subj").isNotNull()
            & F.col("pred").isNotNull()
            & F.col("obj_value").isNotNull()
        )
        if pat.subj.startswith("?"):
            # CONSTRUCT drops invalid triples: a literal can never be a subject
            rows = rows.filter(_term_kind(F.col("subj")) != "literal")
        outs.append(rows)
    if not outs:
        raise SparqlParseError("empty CONSTRUCT template")
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.distinct()


def sparql_ask(triples: DataFrame, query_text: str) -> bool:
    """SPARQL ASK: does the WHERE clause have at least one solution?"""
    q = _parse_form(query_text, "ask")
    return not _run(triples, q.algebra).limit(1).isEmpty()


def sparql_describe(triples: DataFrame, query_text: str) -> DataFrame:
    """SPARQL DESCRIBE: the description is implementation-defined
    (SPARQL 1.1 §16.4); this engine returns every triple whose SUBJECT is
    a described resource (one-hop outgoing description, the common
    choice).  Resources = constant IRIs plus the bindings of each
    described variable across the WHERE solutions.  The resource set is
    a distinct projection — small relative to the model — joined back as
    a semi-join, so the model scan stays a single pass."""
    q = _parse_form(query_text, "describe")
    model = _merged_model(triples)
    spark = triples.sparkSession
    parts = []
    consts = [t for t in q.describe if not t.startswith("?")]
    if consts:
        parts.append(spark.createDataFrame([(c,) for c in consts], "subj string"))
    vars_ = [t[1:] for t in q.describe if t.startswith("?")]
    if vars_:
        sols = _run(triples, q.algebra)
        for v in vars_:
            parts.append(
                sols.select(F.col(v).alias("subj")).filter(F.col("subj").isNotNull())
            )
    res = parts[0]
    for pdf in parts[1:]:
        res = res.unionByName(pdf)
    return model.join(res.distinct(), on="subj", how="left_semi")


def sparql_select_json(triples: DataFrame, query_text: str, limit: int = 10_000) -> dict:
    """SPARQL-results-JSON (the DataQuery JSON-bindings contract,
    ``DataQuery.scala:51-63`` — Jena ARQ's output shape): ``{head: {vars},
    results: {bindings: [{var: {type, value}}…]}}``.

    Driver-side materialization — use only for API-response-sized results
    (``limit`` guards against accidentally collecting a data-sized set)."""
    df = sparql_select(triples, query_text).limit(limit)
    vars_ = df.columns
    bindings = []
    for row in df.collect():
        b = {}
        for v in vars_:
            val = row[v]
            if val is None:
                continue
            kind = "uri" if isinstance(val, str) and val.startswith(("http://", "https://", "urn:")) else "literal"
            b[v] = {"type": kind, "value": str(val)}
        bindings.append(b)
    return {"head": {"vars": vars_}, "results": {"bindings": bindings}}
