"""SPARQL-SELECT subset compiler (SURVEY §2.9 Q1).

Reference: ``DataQuery.dataQuery`` delegates SELECT execution to Jena ARQ
(``modules/server/.../data/logic/operations/DataQuery.scala:51-63``;
``MergedModels.querySelect`` :131-132).  The reference query surface at the
API is "any SPARQL the request model can answer"; our engine compiles the
subset the fixtures/test queries use — BGP + FILTER (group-scoped, incl.
[NOT] EXISTS) + MINUS + OPTIONAL + UNION + BIND + VALUES + subqueries +
property paths (``^ / | + * ?``) + DISTINCT + GROUP BY/aggregates +
HAVING + ORDER BY + LIMIT/OFFSET, with SELECT/CONSTRUCT/ASK/DESCRIBE
forms and the §17.4 builtins (string/numeric/hash/datetime accessors,
LANG/DATATYPE/LANGMATCHES over term-metadata sidecar columns) — into
DataFrame self-joins over the triples view (SURVEY §2.5 J6), leaning on
Catalyst/AQE for join order and strategy.

Compilation scheme:
* each triple pattern → a filtered projection of the triples DF with one
  column per variable position (predicate constants become partition-prunable
  ``pred =`` filters on the canonical store);
* shared variables between patterns → equi-joins (Catalyst picks
  broadcast/sort-merge; AQE handles skew);
* FILTER → a Column predicate (numeric comparisons via ``try_cast`` double,
  matching SPARQL's numeric value comparison over typed literals);
* OPTIONAL { … } → left outer join on the shared variables;
* SELECT/DISTINCT/ORDER BY/LIMIT → select/distinct/orderBy/limit.

The model is the *merged* graph (all docs unioned), matching the reference's
request-scoped merged model semantics (``MergedModels.scala:182-191``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

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
  | (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
  | (?P<string>"(?:[^"\\]|\\.)*")
  | (?P<langtag>@[A-Za-z][A-Za-z0-9-]*)
  | (?P<dtsep>\^\^)
  | (?P<number>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<pname>[A-Za-z_][A-Za-z0-9_.-]*:[A-Za-z0-9_.-]*)
  | (?P<keyword>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<op><=|>=|!=|&&|\|\||[{}().;,=<>*!+/^|?-])
    """,
    re.VERBOSE,
)


def _tokenize(text: str) -> list[str]:
    toks = []
    for m in _TOKEN_RE.finditer(text):
        if m.lastgroup == "comment":
            continue
        toks.append(m.group(0))
    return toks


@dataclass
class _Pattern:
    subj: str  # '?var' or absolute IRI
    pred: str  # '?var' or absolute IRI
    obj: str  # '?var' or term spec
    obj_is_literal: bool = False
    obj_lang: str | None = None
    obj_datatype: str | None = None
    path: PathNode | None = None  # non-None → pred position is a path expr


@dataclass
class _Group:
    """A braced pattern group with its own FILTER scope (SPARQL filters
    apply within their group — an OPTIONAL-scoped filter must run before
    the left join, not after it)."""

    patterns: list[_Pattern] = field(default_factory=list)
    filters: list[list[str]] = field(default_factory=list)  # token lists
    # group-scoped FILTER [NOT] EXISTS / MINUS: an EXISTS written inside an
    # OPTIONAL or UNION branch restricts THAT branch's solutions before the
    # branch joins outward (SPARQL 1.1 §8 group semantics), not the final
    # solution set
    exists_groups: list[tuple[bool, "_Group"]] = field(default_factory=list)
    minus_groups: list["_Group"] = field(default_factory=list)
    # GRAPH ?g { … } / GRAPH <iri> { … } blocks — only meaningful at the
    # top level (the evaluator rejects them inside OPTIONAL/UNION/EXISTS)
    graph_groups: list[tuple[str, "_Group"]] = field(default_factory=list)


@dataclass
class SparqlQuery:
    select_vars: list[str]
    distinct: bool
    patterns: list[_Pattern]
    optionals: list[_Group] = field(default_factory=list)
    filters: list[list[str]] = field(default_factory=list)  # top-level scope
    # (var-name | expression token list, desc)
    order_by: list[tuple[str | list[str], bool]] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None
    # UNION blocks: each block is a list of alternative branches (each a
    # _Group); block solutions = union of branch solutions, joined with
    # the rest of the WHERE clause on shared variables
    union_groups: list[list[_Group]] = field(default_factory=list)
    # aggregate projections: (func, var_or_'*', distinct, alias)
    # (func, var_or_'*', distinct, alias, separator-for-GROUP_CONCAT)
    aggregates: list[tuple[str, str, bool, str, str]] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    # BIND(expr AS ?var): evaluated on the joined solution before filters
    binds: list[tuple[list[str], str]] = field(default_factory=list)
    having: list[list[str]] = field(default_factory=list)  # post-agg filters
    # VALUES ?v1 ?v2 { (t1 t2) ... }: inline solution sequence
    values_blocks: list[tuple[list[str], list[list[str | None]]]] = field(
        default_factory=list
    )
    # FILTER (NOT) EXISTS { … }: (negated, group) — semi/anti joins on the
    # shared variables
    exists_groups: list[tuple[bool, "_Group"]] = field(default_factory=list)
    # MINUS { … }: set difference under SPARQL compatibility (§8.3) —
    # removes solutions compatible with the subtrahend on ≥1 shared
    # bound variable; disjoint domains remove nothing
    minus_groups: list["_Group"] = field(default_factory=list)
    # GRAPH blocks (engine extension over the reference's merged-model
    # query surface, MergedModels.scala:182-191): each source DOCUMENT is
    # a named graph `urn:doc:<doc_sha256>`; patterns inside the block match
    # within ONE document and ?g binds the document graph name
    graph_groups: list[tuple[str, "_Group"]] = field(default_factory=list)
    # DESCRIBE targets: '?var' or absolute IRIs
    describe_terms: list[str] = field(default_factory=list)
    # query form: 'select' | 'construct' | 'ask' | 'describe'
    query_form: str = "select"
    # CONSTRUCT template triples (vars and constants)
    template: list[_Pattern] = field(default_factory=list)
    # subqueries `{ SELECT … }` (SPARQL 1.1 §12): each evaluates
    # independently (innermost-first) and joins the outer solutions on its
    # PROJECTED variables only
    subqueries: list["SparqlQuery"] = field(default_factory=list)


class SparqlParseError(ValueError):
    pass


_AGG_FUNCS = {"COUNT", "SUM", "MIN", "MAX", "AVG", "GROUP_CONCAT", "SAMPLE"}


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


def _expr_token(tok: str, prefixes: dict[str, str]) -> str:
    """An expression token, with a prefixed name expanded to ``<iri>`` (an
    undeclared prefix raises, as in a triple pattern)."""
    if ":" in tok and not tok.startswith(("<", '"')):
        return f"<{_expand(tok, prefixes)}>"
    return tok


class _Parser:
    def __init__(self, toks: list[str]):
        self.toks = toks
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        if self.i >= len(self.toks):
            raise SparqlParseError("unexpected end of query")
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, want: str) -> None:
        t = self.next()
        if t.upper() != want.upper():
            raise SparqlParseError(f"expected {want!r}, got {t!r}")


def parse_sparql(text: str) -> SparqlQuery:
    p = _Parser(_tokenize(text))
    prefixes: dict[str, str] = {}
    while p.peek() and p.peek().upper() == "PREFIX":
        p.next()
        pname = p.next()
        if not pname.endswith(":"):
            raise SparqlParseError(f"bad prefix decl {pname!r}")
        iri = p.next()
        prefixes[pname[:-1]] = iri[1:-1]

    form = p.next().upper()
    if form not in ("SELECT", "CONSTRUCT", "ASK", "DESCRIBE"):
        raise SparqlParseError(f"unsupported query form {form!r}")
    distinct = False
    template: list[_Pattern] = []
    select_vars: list[str] = []
    describe_terms: list[str] = []
    aggregates: list[tuple[str, str, bool, str, str]] = []
    if form == "CONSTRUCT":
        p.expect("{")
        while p.peek() != "}":
            _parse_triples_block(p, prefixes, template)
        p.expect("}")
    if form == "DESCRIBE":
        # DESCRIBE (VarOrIRI)+ [WHERE { … }]
        while p.peek() and p.peek().upper() not in ("WHERE", "{"):
            t = p.next()
            describe_terms.append(t if t.startswith("?") else _expand(t, prefixes))
        if not describe_terms:
            raise SparqlParseError("DESCRIBE needs at least one ?var or IRI")
        if p.peek() is None:
            # no WHERE clause — constant-IRI description
            return SparqlQuery(
                select_vars=[], distinct=False, patterns=[],
                query_form="describe", describe_terms=describe_terms,
            )
    if form == "SELECT" and p.peek() and p.peek().upper() in ("DISTINCT", "REDUCED"):
        # REDUCED permits (does not mandate) duplicate elimination
        # (§18.2.5.2) — eliminating them fully is a conforming and, unlike
        # a partial dedup, DETERMINISTIC choice, so REDUCED ≡ DISTINCT here
        distinct = True
        p.next()
    if form != "SELECT":
        # skip the SELECT-projection loop; WHERE group follows (the WHERE
        # keyword itself is optional for ASK per the grammar)
        if p.peek() and p.peek().upper() == "WHERE":
            p.next()
        q = SparqlQuery(
            select_vars=[], distinct=False, patterns=[],
            query_form=form.lower(), template=template,
            describe_terms=describe_terms,
        )
        top = _Group()
        _parse_group(p, prefixes, top, q)
        q.patterns = top.patterns
        q.filters = top.filters
        q.exists_groups = top.exists_groups
        q.minus_groups = top.minus_groups
        q.graph_groups = top.graph_groups
        # variables the solution must carry: every template var
        seen: list[str] = []
        for pat in q.patterns + [x for grp in q.optionals for x in grp.patterns]:
            for t in (pat.subj, pat.pred, pat.obj):
                if t.startswith("?") and t[1:] not in seen:
                    seen.append(t[1:])
        q.select_vars = seen
        # trailing solution modifiers (SPARQL 1.1 grammar gives CONSTRUCT/
        # ASK/DESCRIBE the same SolutionModifier as SELECT) — parse them so
        # `CONSTRUCT … LIMIT 10` limits instead of silently returning the
        # unlimited result; GROUP BY/HAVING need a projection to aggregate
        # into, so they stay a clean reject on these forms
        _parse_modifiers(p, prefixes, q)
        if q.group_by or q.having:
            raise SparqlParseError(
                f"GROUP BY/HAVING is unsupported on {form} queries"
            )
        return q
    select_vars, aggregates = _parse_projection(p)
    p.expect("WHERE")

    q = SparqlQuery(
        select_vars=select_vars, distinct=distinct, patterns=[], aggregates=aggregates
    )
    top = _Group()
    _parse_group(p, prefixes, top, q)
    q.patterns = top.patterns
    q.filters = top.filters
    q.exists_groups = top.exists_groups
    q.minus_groups = top.minus_groups
    q.graph_groups = top.graph_groups
    _parse_modifiers(p, prefixes, q)
    _resolve_select_star(q)
    return q


def _parse_projection(p: _Parser) -> tuple[list[str], list[tuple[str, str, bool, str, str]]]:
    """The SELECT projection list: ``?var``s, ``*``, and
    ``( AGG ( [DISTINCT] ?v | * ) AS ?alias )`` expressions."""
    select_vars: list[str] = []
    aggregates: list[tuple[str, str, bool, str, str]] = []
    while p.peek() and (p.peek().startswith("?") or p.peek() in ("*", "(")):
        t = p.next()
        if t == "(":
            func = p.next().upper()
            if func not in _AGG_FUNCS:
                raise SparqlParseError(f"unsupported select expression {func!r}")
            p.expect("(")
            agg_distinct = False
            if p.peek() and p.peek().upper() == "DISTINCT":
                agg_distinct = True
                p.next()
            arg = p.next()
            if arg != "*" and not arg.startswith("?"):
                raise SparqlParseError(f"aggregate argument must be ?var or *, got {arg!r}")
            sep = " "  # GROUP_CONCAT default separator (SPARQL 1.1 §18.5.1.7)
            if p.peek() == ";":
                p.next()
                kw = p.next().upper()
                if kw != "SEPARATOR":
                    raise SparqlParseError(f"expected SEPARATOR, got {kw!r}")
                p.expect("=")
                stok = p.next()
                if not stok.startswith('"'):
                    raise SparqlParseError("SEPARATOR expects a string literal")
                sep = _unquote(stok)
            p.expect(")")
            p.expect("AS")
            alias = p.next()
            if not alias.startswith("?"):
                raise SparqlParseError("aggregate alias must be a ?var")
            p.expect(")")
            aggregates.append(
                (func, arg if arg == "*" else arg[1:], agg_distinct, alias[1:], sep)
            )
        elif t == "*":
            select_vars = []  # resolved after parsing patterns
        else:
            select_vars.append(t[1:])
    return select_vars, aggregates


def _parse_modifiers(p: _Parser, prefixes: dict[str, str], q: SparqlQuery) -> None:
    """Solution modifiers (GROUP BY / HAVING / ORDER BY / LIMIT / OFFSET)
    up to end-of-input — or up to the enclosing ``}`` for a subquery."""
    while p.peek() and p.peek() != "}":
        kw = p.next().upper()
        if kw == "GROUP":
            p.expect("BY")
            while p.peek() and p.peek().startswith("?"):
                q.group_by.append(p.next()[1:])
        elif kw == "HAVING":
            q.having.append(_parse_filter_tokens(p, prefixes))
        elif kw == "ORDER":
            p.expect("BY")
            while p.peek() and (
                p.peek().startswith("?")
                or p.peek().upper() in ("ASC", "DESC")
                or p.peek() == "("
            ):
                desc = False
                if p.peek().upper() in ("ASC", "DESC") or p.peek() == "(":
                    # ASC(expr) / DESC(expr) / bare (expr): capture the
                    # balanced token run, compiled by _compile_expr at
                    # sort time (numeric when arithmetic is involved)
                    if p.peek() != "(":
                        desc = p.next().upper() == "DESC"
                    toks = _parse_filter_tokens(p, prefixes)
                    if len(toks) == 1 and toks[0].startswith("?"):
                        q.order_by.append((toks[0][1:], desc))
                    else:
                        q.order_by.append((toks, desc))
                else:
                    q.order_by.append((p.next()[1:], desc))
        elif kw == "LIMIT":
            q.limit = int(p.next())
        elif kw == "OFFSET":
            q.offset = int(p.next())
        else:
            raise SparqlParseError(f"unsupported clause {kw!r}")


def _out_vars(q: SparqlQuery) -> list[str]:
    """The column names a SELECT query projects."""
    if q.aggregates:
        return (q.select_vars or q.group_by) + [t[3] for t in q.aggregates]
    return q.select_vars


def _all_graph_groups(grp) -> list[tuple[str, "_Group"]]:
    """Every GRAPH block reachable from a group (or the query top level),
    including nested ones."""
    out = list(grp.graph_groups)
    for _, gg in grp.graph_groups:
        out.extend(_all_graph_groups(gg))
    return out


def _resolve_select_star(q: SparqlQuery) -> None:
    if q.select_vars or q.aggregates:  # explicit projection
        return
    seen: list[str] = []
    union_pats = [pat for blk in q.union_groups for br in blk for pat in br.patterns]
    graph_blocks = [
        g
        for grp in (
            [q] + q.optionals + [br for blk in q.union_groups for br in blk]
        )
        for g in _all_graph_groups(grp)
    ]
    graph_pats = [pat for _, gg in graph_blocks for pat in gg.patterns]
    for gterm, _gg in graph_blocks:
        if gterm.startswith("?") and gterm[1:] not in seen:
            seen.append(gterm[1:])
    for pat in q.patterns + [x for grp in q.optionals for x in grp.patterns] + union_pats + graph_pats:
        for t in (pat.subj, pat.pred, pat.obj):
            if t.startswith("?") and t[1:] not in seen:
                seen.append(t[1:])
    for _toks, alias in q.binds:
        if alias not in seen:
            seen.append(alias)
    for vars_, _rows in q.values_blocks:
        for v in vars_:
            if v not in seen:
                seen.append(v)
    for sq in q.subqueries:
        for v in _out_vars(sq):
            if v not in seen:
                seen.append(v)
    q.select_vars = seen


def _parse_subselect(p: _Parser, prefixes: dict[str, str]) -> SparqlQuery:
    """A subquery ``{ SELECT … WHERE { … } modifiers }`` — the caller has
    consumed the opening ``{`` after detecting SELECT (SPARQL 1.1 §12:
    subqueries evaluate innermost-first; only projected variables join
    outward)."""
    p.expect("SELECT")
    distinct = False
    if p.peek() and p.peek().upper() in ("DISTINCT", "REDUCED"):
        distinct = True
        p.next()
    select_vars, aggregates = _parse_projection(p)
    p.expect("WHERE")
    sq = SparqlQuery(
        select_vars=select_vars, distinct=distinct, patterns=[], aggregates=aggregates
    )
    top = _Group()
    _parse_group(p, prefixes, top, sq)
    sq.patterns = top.patterns
    sq.filters = top.filters
    sq.exists_groups = top.exists_groups
    sq.minus_groups = top.minus_groups
    sq.graph_groups = top.graph_groups
    _parse_modifiers(p, prefixes, sq)
    _resolve_select_star(sq)
    p.expect("}")
    return sq


def _parse_group(p: _Parser, prefixes: dict[str, str], grp: _Group, q: SparqlQuery) -> None:
    p.expect("{")
    while True:
        t = p.peek()
        if t is None:
            raise SparqlParseError("unterminated group")
        if t == "}":
            p.next()
            return
        if t.upper() == "FILTER":
            p.next()
            nxt = p.peek()
            if nxt is not None and nxt.upper() in ("EXISTS", "NOT"):
                # FILTER [NOT] EXISTS { … } — pattern-valued filter
                neg = nxt.upper() == "NOT"
                p.next()
                if neg:
                    p.expect("EXISTS")
                eg = _Group()
                _parse_group(p, prefixes, eg, q)
                grp.exists_groups.append((neg, eg))
                continue
            # group-scoped: an OPTIONAL's filter applies to its branch
            # BEFORE the left join (null-binding rows survive)
            grp.filters.append(_parse_filter_tokens(p, prefixes))
            continue
        if t.upper() == "BIND":
            p.next()
            q.binds.append(_parse_bind(p, prefixes))
            continue
        if t.upper() == "VALUES":
            p.next()
            q.values_blocks.append(_parse_values(p, prefixes))
            continue
        if t.upper() == "OPTIONAL":
            p.next()
            opt = _Group()
            _parse_group(p, prefixes, opt, q)
            q.optionals.append(opt)
            continue
        if t.upper() == "MINUS":
            p.next()
            mg = _Group()
            _parse_group(p, prefixes, mg, q)
            grp.minus_groups.append(mg)
            continue
        if t.upper() == "GRAPH":
            p.next()
            gt = p.next()
            if gt.startswith("?"):
                gterm = gt
            elif gt.startswith("<"):
                gterm = gt[1:-1]
            else:
                gterm = _expand(gt, prefixes)
            gg = _Group()
            _parse_group(p, prefixes, gg, q)
            grp.graph_groups.append((gterm, gg))
            continue
        if t == "{":
            nxt = p.toks[p.i + 1] if p.i + 1 < len(p.toks) else None
            if nxt is not None and nxt.upper() == "SELECT":
                # subquery `{ SELECT … }`
                p.next()  # consume '{'
                q.subqueries.append(_parse_subselect(p, prefixes))
                continue
            # nested group — `{ A } UNION { B } (UNION { C })*`
            branches: list[_Group] = []
            first = _Group()
            _parse_group(p, prefixes, first, q)
            branches.append(first)
            while p.peek() and p.peek().upper() == "UNION":
                p.next()
                alt = _Group()
                _parse_group(p, prefixes, alt, q)
                branches.append(alt)
            if len(branches) == 1:
                grp.patterns.extend(first.patterns)  # plain grouping braces
                grp.filters.extend(first.filters)
                grp.exists_groups.extend(first.exists_groups)
                grp.minus_groups.extend(first.minus_groups)
                grp.graph_groups.extend(first.graph_groups)
            else:
                q.union_groups.append(branches)
            if p.peek() == ".":
                p.next()
            continue
        _parse_triples_block(p, prefixes, grp.patterns)


def _parse_bind(p: _Parser, prefixes: dict[str, str]) -> tuple[list[str], str]:
    """``BIND ( expr AS ?var )`` → (expr tokens, alias)."""
    p.expect("(")
    depth = 1
    toks: list[str] = []
    while True:
        t = p.next()
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
            if depth == 0:
                raise SparqlParseError("BIND missing AS ?var")
        elif t.upper() == "AS" and depth == 1:
            break
        toks.append(_expr_token(t, prefixes))
    alias = p.next()
    if not alias.startswith("?"):
        raise SparqlParseError("BIND alias must be a ?var")
    p.expect(")")
    return toks, alias[1:]


def _parse_values(
    p: _Parser, prefixes: dict[str, str]
) -> tuple[list[str], list[list[str | None]]]:
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
        return _expand(t, prefixes)

    if p.peek() == "(":
        p.next()
        while p.peek() != ")":
            v = p.next()
            if not v.startswith("?"):
                raise SparqlParseError("VALUES var list expects ?vars")
            vars_.append(v[1:])
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
        v = p.next()
        if not v.startswith("?"):
            raise SparqlParseError("VALUES expects a ?var")
        vars_.append(v[1:])
        p.expect("{")
        while p.peek() != "}":
            rows.append([term()])
        p.next()
    return vars_, rows


def _parse_term(p: _Parser, prefixes: dict[str, str]) -> tuple[str, bool, str | None, str | None]:
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
            dt = _expand(p.next(), prefixes)
        return _unquote(t), True, lang, dt
    if re.fullmatch(r"[+-]?\d+", t):
        return t, True, None, "http://www.w3.org/2001/XMLSchema#integer"
    if re.fullmatch(r"[+-]?\d+\.\d+", t):
        return t, True, None, "http://www.w3.org/2001/XMLSchema#decimal"
    return _expand(t, prefixes), False, None, None


#: SPARQL path modifiers → (min_len, max_len) of a PathClosure
_PATH_MODS = {"+": (1, None), "*": (0, None), "?": (0, 1)}


def _parse_path(p: _Parser, prefixes: dict[str, str]) -> PathNode:
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
        target.append(RDF_TYPE if tok == "a" else _expand(tok, prefixes))

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
            node = PathPred(RDF_TYPE if tok == "a" else _expand(tok, prefixes))
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


def _parse_triples_block(p: _Parser, prefixes: dict[str, str], into: list[_Pattern]) -> None:
    subj, s_lit, _, _ = _parse_term(p, prefixes)
    if s_lit:
        raise SparqlParseError("literal subject")
    while True:
        if p.peek() is not None and p.peek().startswith("?"):
            pred, path = p.next(), None
        else:
            path = _parse_path(p, prefixes)
            if isinstance(path, PathPred):
                pred, path = path.iri, None  # plain predicate — old fast path
            else:
                pred = ""
        while True:
            obj, is_lit, lang, dt = _parse_term(p, prefixes)
            into.append(_Pattern(subj, pred, obj, is_lit, lang, dt, path=path))
            if p.peek() == ",":
                p.next()
                continue
            break
        nxt = p.peek()
        if nxt == ";":
            p.next()
            if p.peek() in ("}", ".", None):  # trailing ;
                break
            continue
        break
    if p.peek() == ".":
        p.next()


def _parse_filter_tokens(p: _Parser, prefixes: dict[str, str]) -> list[str]:
    """``( expr )`` → the expression's tokens, prefixed names expanded."""
    p.expect("(")
    depth = 1
    toks: list[str] = []
    while depth:
        t = p.next()
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
            if depth == 0:
                break
        toks.append(_expr_token(t, prefixes))
    return toks


# ---------------------------------------------------------------------------
# compilation
# ---------------------------------------------------------------------------

_NUM_RE = re.compile(r"[+-]?\d+(\.\d+)?([eE][+-]?\d+)?$")


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

#: builtins that need the term-metadata sidecar columns (§17.4.2) — their
#: presence in any filter/BIND token list switches the BGP scan into
#: metadata-carrying mode (``_pattern_df`` with ``with_meta=True``)
_META_FUNCS = {"LANG", "DATATYPE"}

_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
_RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"


def _meta_cols(v: str) -> tuple[str, str, str]:
    """Sidecar column names carrying the RDF term metadata of binding
    ``?v`` (kind / language tag / datatype IRI).  The ``__`` prefix keeps
    them out of join keys and final projections."""
    return f"__kind_{v}", f"__lang_{v}", f"__dt_{v}"


def _compile_expr(toks: list[str]) -> F.Column:
    """Unified SPARQL expression compiler shared by FILTER (boolean
    context) and BIND (value context): || / && / ! , comparisons with
    numeric-literal inference, + - * / on try_cast-double, and the §17.4
    builtin subset in ``_EXPR_FUNCS``.  Every node returns
    ``(Column, is_numeric)``; a comparison casts both sides numeric when
    either side is numeric-valued (numeric literal, arithmetic result, or
    numeric builtin) and compares strings otherwise — SPARQL operator
    dispatch over the string-typed binding columns."""
    pos = {"i": 0}

    def peek():
        return toks[pos["i"]] if pos["i"] < len(toks) else None

    def nxt():
        if pos["i"] >= len(toks):
            raise SparqlParseError("unexpected end of expression")
        t = toks[pos["i"]]
        pos["i"] += 1
        return t

    def expect(want: str) -> None:
        t = nxt()
        if t != want:
            raise SparqlParseError(f"expected {want!r} in expression, got {t!r}")

    def func(up: str) -> tuple[F.Column, bool]:
        if up in ("LANG", "DATATYPE"):
            # token-level: the argument must be a plain variable — the
            # metadata lives in sidecar columns keyed by the var name, not
            # in the string binding itself (ARQ evaluates these over full
            # RDF terms; our subset carries terms as value + sidecar)
            expect("(")
            t = nxt()
            if not t.startswith("?"):
                raise SparqlParseError(f"{up}() supports a variable argument only")
            expect(")")
            kind_c, lang_c, dt_c = (F.col(c) for c in _meta_cols(t[1:]))
            if up == "LANG":
                # literal → its tag or "" (plain); non-literal → error (null)
                return (
                    F.when(kind_c == "literal", F.coalesce(lang_c, F.lit(""))),
                    False,
                )
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
        expect("(")
        args: list[tuple[F.Column, bool]] = []
        if peek() != ")":
            args.append(or_())
            while peek() == ",":
                nxt()
                args.append(or_())
        expect(")")
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
        if up in ("MD5", "SHA1", "SHA256", "SHA384", "SHA512"):
            if up == "MD5":
                return F.md5(s(cols[0])), False
            if up == "SHA1":
                return F.sha1(s(cols[0])), False
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
            return F.date_format(
                F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSS"
            ), False
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
            # whole BIND expression (see _solutions) — nested uses keep the
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

    def atom() -> tuple[F.Column, bool]:
        t = nxt()
        if t == "(":
            e = or_()
            expect(")")
            return e
        if t == "!":
            c, _ = atom()
            return ~F.coalesce(c, F.lit(False)), False
        up = t.upper()
        if up in _EXPR_FUNCS and peek() == "(":
            return func(up)
        if t.startswith("?"):
            return F.col(t[1:]), False
        if t.startswith('"'):
            return F.lit(_unquote(t)), False
        if t.startswith("<") and t.endswith(">"):
            # IRI operand (e.g. DATATYPE(?v) = <…#integer>): compare on the
            # bracket-free IRI string, matching the binding representation
            return F.lit(t[1:-1]), False
        if _NUM_RE.match(t):
            return F.lit(float(t) if ("." in t or "e" in t.lower()) else int(t)), True
        # any other bare token (prefixed names arrive expanded to <iri>):
        # its string form
        return F.lit(t), False

    def multiplicative() -> tuple[F.Column, bool]:
        e, n = atom()
        while peek() in ("*", "/"):
            op = nxt()
            r, _ = atom()
            le, re_ = e.try_cast("double"), r.try_cast("double")
            e, n = (le * re_ if op == "*" else le / re_), True
        return e, n

    def additive() -> tuple[F.Column, bool]:
        e, n = multiplicative()
        while peek() in ("+", "-"):
            op = nxt()
            r, _ = multiplicative()
            le, re_ = e.try_cast("double"), r.try_cast("double")
            e, n = (le + re_ if op == "+" else le - re_), True
        return e, n

    def cmp_level() -> tuple[F.Column, bool]:
        l, ln = additive()
        # IN / NOT IN (§17.4.1.9-10): sugar for an =-comparison disjunction
        up = peek().upper() if isinstance(peek(), str) else None
        neg_in = False
        if up == "NOT" and pos["i"] + 1 < len(toks) and toks[pos["i"] + 1].upper() == "IN":
            nxt()
            up, neg_in = "IN", True
        if up == "IN":
            nxt()
            expect("(")
            member = F.lit(False)
            if peek() != ")":
                while True:
                    r, rn = additive()
                    if ln or rn:
                        le, re_ = l.try_cast("double"), r.try_cast("double")
                    else:
                        le, re_ = l, r
                    member = member | F.coalesce(le == re_, F.lit(False))
                    if peek() == ",":
                        nxt()
                        continue
                    break
            expect(")")
            return (~member if neg_in else member), False
        if peek() in _CMP_OPS:
            op = nxt()
            r, rn = additive()
            if ln or rn:
                l, r = l.try_cast("double"), r.try_cast("double")
            e = {
                "=": l == r, "!=": l != r, "<": l < r,
                "<=": l <= r, ">": l > r, ">=": l >= r,
            }[op]
            return e, False
        return l, ln

    def and_() -> tuple[F.Column, bool]:
        e, n = cmp_level()
        while peek() == "&&":
            nxt()
            r, _ = cmp_level()
            e, n = e & r, False
        return e, n

    def or_() -> tuple[F.Column, bool]:
        e, n = and_()
        while peek() == "||":
            nxt()
            r, _ = and_()
            e, n = e | r, False
        return e, n

    out, _ = or_()
    if peek() is not None:
        raise SparqlParseError(f"trailing expression tokens at {peek()!r}")
    return out


def _filter_expr(toks: list[str]) -> F.Column:
    """Compile a FILTER token list (boolean context)."""
    return _compile_expr(toks)


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
    df: DataFrame, pat: _Pattern, with_meta: bool = False
) -> tuple[DataFrame, list[str]]:
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
    return rows.filter(cond).select(*out_cols), vars_


def _pattern_df(
    df: DataFrame, pat: _Pattern, with_meta: bool = False
) -> tuple[DataFrame, list[str]]:
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
    return df.filter(cond).select(*out_cols), vars_


def _bind_expr(toks: list[str]) -> F.Column:
    """Compile a BIND expression (value context) — same grammar as FILTER
    (``_compile_expr``): arithmetic, comparisons, and the §17.4 builtin
    subset."""
    return _compile_expr(toks)


def _values_df(
    spark, vars_: list[str], rows: list[list[str | None]]
) -> DataFrame:
    return spark.createDataFrame(
        [tuple(r) for r in rows], ", ".join(f"{v} string" for v in vars_)
    )


def _join_patterns(
    df: DataFrame, pats: list[_Pattern], with_meta: bool = False
) -> DataFrame:
    # NOTE: no per-pattern distinct — SPARQL BGP matching is bag-semantics
    # over the (set-valued) merged model; deduping projected columns here
    # would undercount aggregates when triples differ only in obj_kind /
    # obj_lang / obj_datatype.
    acc: DataFrame | None = None
    acc_vars: set[str] = set()
    for pat in pats:
        pdf, pvars = _pattern_df(df, pat, with_meta=with_meta)
        if acc is None:
            acc, acc_vars = pdf, set(pvars)
            continue
        # left-biased term metadata: drop the new pattern's sidecar copy
        # when the var's metadata is already bound (join is on value only)
        dup_meta = [
            c
            for c in pdf.columns
            if c.startswith(("__kind_", "__lang_", "__dt_")) and c in acc.columns
        ]
        if dup_meta:
            pdf = pdf.drop(*dup_meta)
        shared = sorted(acc_vars & set(pvars))
        if shared:
            acc = acc.join(pdf, on=shared, how="inner")
        else:
            acc = acc.crossJoin(pdf)
        acc_vars |= set(pvars)
    if acc is None:
        raise SparqlParseError("empty WHERE clause")
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


def _group_toklists(grp: _Group, out: list[list[str]]) -> None:
    out.extend(grp.filters)
    for _, eg in grp.exists_groups:
        _group_toklists(eg, out)
    for mg in grp.minus_groups:
        _group_toklists(mg, out)
    for _, gg in grp.graph_groups:
        _group_toklists(gg, out)


def _toklists(q: SparqlQuery) -> list[list[str]]:
    out = list(q.filters) + [toks for toks, _ in q.binds] + list(q.having)
    for blk in q.union_groups:
        for br in blk:
            _group_toklists(br, out)
    for grp in q.optionals:
        _group_toklists(grp, out)
    for _, eg in q.exists_groups:
        _group_toklists(eg, out)
    for mg in q.minus_groups:
        _group_toklists(mg, out)
    for _, gg in q.graph_groups:
        _group_toklists(gg, out)
    return out


def _wants_term_meta(q: SparqlQuery) -> bool:
    """True when any filter/BIND in this query (subqueries scan their own)
    uses a metadata builtin — only then do BGP scans carry the sidecar
    columns, keeping every other query's plan unchanged."""
    return any(t.upper() in _META_FUNCS for toks in _toklists(q) for t in toks)


def _ensure_meta(df: DataFrame, toks: list[str]) -> DataFrame:
    """Null-fill sidecar metadata for LANG/DATATYPE arguments whose
    variable was bound outside a metadata-carrying pattern scan (VALUES,
    BIND, subquery projection): kind falls back to the string heuristic,
    lang/datatype stay unknown."""
    for i, t in enumerate(toks):
        if (
            t.upper() in _META_FUNCS
            and i + 2 < len(toks)
            and toks[i + 1] == "("
            and toks[i + 2].startswith("?")
        ):
            kc, lc, dc = _meta_cols(toks[i + 2][1:])
            if kc not in df.columns:
                v = toks[i + 2][1:]
                src = F.col(v) if v in df.columns else F.lit(None).cast("string")
                df = (
                    df.withColumn(kc, F.when(src.isNotNull(), _term_kind(src)))
                    .withColumn(lc, F.lit(None).cast("string"))
                    .withColumn(dc, F.lit(None).cast("string"))
                )
    return df


def _apply_filter(df: DataFrame, ftoks: list[str]) -> DataFrame:
    return _ensure_meta(df, ftoks).filter(_filter_expr(ftoks))


def _constructed_term_meta(toks: list[str]) -> tuple[str, F.Column, F.Column] | None:
    """When a BIND expression is a single top-level STRLANG/STRDT call,
    return (kind, lang_expr, dt_expr) for the alias's sidecar columns so
    downstream LANG()/DATATYPE() see the constructed term's metadata."""
    if len(toks) < 4 or toks[0].upper() not in ("STRLANG", "STRDT"):
        return None
    if toks[1] != "(" or toks[-1] != ")":
        return None
    depth, split = 0, None
    for i, t in enumerate(toks[2:-1], start=2):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif t == "," and depth == 0:
            split = i
    if split is None:
        return None
    arg2 = _compile_expr(toks[split + 1 : -1])
    if toks[0].upper() == "STRLANG":
        return "literal", F.lower(arg2.cast("string")), F.lit(None).cast("string")
    return "literal", F.lit(None).cast("string"), arg2.cast("string")


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


# Named-graph extension: the reference's query surface is the merged model
# (graph labels dropped, MergedModels.scala:182-191); this engine keeps
# doc_sha256 on every row, so each source DOCUMENT doubles as a named graph
# with IRI `urn:doc:<doc_sha256>`.  GRAPH blocks evaluate over the per-doc
# triple set; the default graph stays the merged model.
DOC_GRAPH_PREFIX = "urn:doc:"


def _graph_block_df(
    doc_triples: DataFrame | None, gterm: str, gg: "_Group", meta: bool
) -> DataFrame:
    """One GRAPH block → its solution DataFrame: the inner group evaluates
    over the per-document triple SET with the doc id threaded through
    every BGP join as the ``_g_doc`` pseudo-variable (same mechanism as
    sh:sparql evaluation) — patterns match within ONE document's graph;
    ``?g`` binds the graph name / a graph IRI filters to one document."""
    if doc_triples is None or "doc_sha256" not in doc_triples.columns:
        raise SparqlParseError(
            "GRAPH requires a per-document triple source (merged or "
            "doc-scoped inputs carry no graph labels)"
        )
    if (
        not gg.patterns
        and not gg.graph_groups
        and not gg.exists_groups
        and not gg.minus_groups
        and not gg.filters
    ):
        # `GRAPH ?g {}` — SPARQL §13.3: the empty group matches every
        # named graph with the empty solution μ{}, so the block enumerates
        # the graph names (one row per document graph).  The IRI form
        # would yield a zero-column solution — still a clean reject.
        if not gterm.startswith("?"):
            raise SparqlParseError(
                "GRAPH <iri> {} has no bindings — use a triple pattern"
            )
        return doc_triples.select(
            F.concat(F.lit(DOC_GRAPH_PREFIX), F.col("doc_sha256")).alias(
                gterm[1:]
            )
        ).distinct()
    docm = doc_triples.select(
        F.col("doc_sha256").alias("_g_doc"),
        "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype",
    ).distinct()
    b = _group_df(docm, gg, meta, doc_triples=doc_triples)
    if "_g_doc" not in b.columns:
        # e.g. `GRAPH ?g1 { GRAPH ?g2 { … } }` with no patterns of its
        # own: the outer block binds nothing in its graph, so there is no
        # document to name — reject instead of guessing
        raise SparqlParseError(
            "a GRAPH block needs at least one triple pattern of its own"
        )
    gname = F.concat(F.lit(DOC_GRAPH_PREFIX), F.col("_g_doc"))
    if gterm.startswith("?"):
        b = b.withColumn(gterm[1:], gname)
    else:
        b = b.filter(gname == gterm)
    return b.drop("_g_doc")


def _group_df(
    triples: DataFrame,
    grp: _Group,
    meta: bool,
    doc_triples: DataFrame | None = None,
) -> DataFrame:
    """One group pattern → its solution DataFrame: BGP joins, GRAPH
    blocks, then the group-scoped filters, then the group-scoped
    [NOT] EXISTS / MINUS — recursion handles arbitrary nesting, so an
    EXISTS or GRAPH written inside an OPTIONAL or UNION branch restricts
    that branch only."""
    b = _join_patterns(triples, grp.patterns, with_meta=meta) if grp.patterns else None
    for gterm, gg in grp.graph_groups:
        gb = _graph_block_df(doc_triples, gterm, gg, meta)
        if b is None:
            b = gb
        else:
            gb = _drop_dup_meta(b, gb)
            shared = _shared_vars(b, gb)
            b = b.join(gb, on=shared, how="inner") if shared else b.crossJoin(gb)
    if b is None:
        raise SparqlParseError("empty group pattern")
    for ftoks in grp.filters:
        b = _apply_filter(b, ftoks)
    return _apply_exists_minus(
        triples, b, grp.exists_groups, grp.minus_groups, grp.patterns, meta,
        doc_triples=doc_triples,
    )


def _apply_exists_minus(
    triples: DataFrame,
    acc: DataFrame,
    exists_groups: list[tuple[bool, _Group]],
    minus_groups: list[_Group],
    patterns: list[_Pattern],
    meta: bool,
    doc_triples: DataFrame | None = None,
) -> DataFrame:
    """Apply [NOT] EXISTS and MINUS groups to a solution set.  ``patterns``
    is the enclosing group's own BGP — the variables guaranteed bound in
    every solution (the cheap anti-join is only sound for those)."""
    for neg, eg in exists_groups:
        # FILTER [NOT] EXISTS { … } → semi/anti join on the shared vars
        # (SPARQL substitution semantics for BOUND correlated variables;
        # rows with a null shared binding never match a semi join, which
        # matches EXISTS over solutions where the variable is bound)
        sub = _group_df(triples, eg, meta, doc_triples=doc_triples)
        shared = _shared_vars(acc, sub)
        if shared:
            acc = acc.join(
                sub.select(*shared).distinct(),
                on=shared,
                how="left_anti" if neg else "left_semi",
            )
        else:
            # uncorrelated EXISTS: a global boolean gate
            nonempty = not sub.limit(1).isEmpty()
            if neg == nonempty:
                acc = acc.limit(0)
    if minus_groups:
        # vars guaranteed bound in every solution: the enclosing BGP's —
        # OPTIONAL / UNION-padded / BIND / VALUES-UNDEF vars may be null
        bound = {
            t[1:]
            for pat in patterns
            for t in (pat.subj, pat.pred, pat.obj)
            if t.startswith("?")
        }
    for mg in minus_groups:
        # MINUS { … } — SPARQL 1.1 §8.3: drop μ iff ∃μ' compatible with μ
        # and dom(μ)∩dom(μ') ≠ ∅.  The subtrahend group is a plain BGP (+
        # filters), so its vars are always bound; nulls can only occur on
        # the accumulator side.
        sub = _group_df(triples, mg, meta, doc_triples=doc_triples)
        shared = _shared_vars(acc, sub)
        if not shared:
            continue  # disjoint domains: MINUS removes nothing
        if all(v in bound for v in shared):
            # hash anti-join — the scalable plan for the common case
            acc = acc.join(sub.select(*shared).distinct(), on=shared, how="left_anti")
            continue
        sub2 = sub.select(*[F.col(v).alias(f"_m_{v}") for v in shared]).distinct()
        compat = F.lit(True)
        overlap = F.lit(False)
        for v in shared:
            compat = compat & (F.col(v).isNull() | (F.col(f"_m_{v}") == F.col(v)))
            overlap = overlap | F.col(v).isNotNull()
        acc = acc.join(sub2, on=compat & overlap, how="left_anti")
    return acc


def _solutions(
    triples: DataFrame, q: SparqlQuery, doc_triples: DataFrame | None = None
) -> DataFrame:
    """The WHERE-clause solution multiset: BGP joins, UNION, GRAPH, VALUES,
    OPTIONAL, BIND, EXISTS, filters — shared by SELECT/CONSTRUCT/ASK.
    ``doc_triples``: the per-document (unmerged) triple source backing
    GRAPH blocks; None when the caller has no document scope (sh:sparql)."""
    meta = _wants_term_meta(q)
    acc = _join_patterns(triples, q.patterns, with_meta=meta) if q.patterns else None
    for blk in q.union_groups:
        branch_dfs = []
        for br in blk:
            # branch-scoped filters + EXISTS/MINUS evaluated inside the
            # branch, before the UNION alignment
            branch_dfs.append(_group_df(triples, br, meta, doc_triples=doc_triples))
        # align branch columns: union over the block's full variable set,
        # absent variables become null bindings (SPARQL UNION semantics)
        all_vars = sorted({c for b in branch_dfs for c in b.columns})
        aligned = [
            b.select(
                *[
                    (F.col(v) if v in b.columns else F.lit(None).cast("string")).alias(v)
                    for v in all_vars
                ]
            )
            for b in branch_dfs
        ]
        blk_df = aligned[0]
        for a in aligned[1:]:
            blk_df = blk_df.unionByName(a)
        if acc is None:
            acc = blk_df
        else:
            blk_df = _drop_dup_meta(acc, blk_df)
            shared = _shared_vars(acc, blk_df)
            acc = acc.join(blk_df, on=shared, how="inner") if shared else acc.crossJoin(blk_df)
    for gterm, gg in q.graph_groups:
        b = _graph_block_df(doc_triples, gterm, gg, meta)
        if acc is None:
            acc = b
        else:
            b = _drop_dup_meta(acc, b)
            shared = _shared_vars(acc, b)
            acc = acc.join(b, on=shared, how="inner") if shared else acc.crossJoin(b)
    for sq in q.subqueries:
        # subquery (§12): evaluated bottom-up over the same model; only its
        # projection joins outward (aggregates/LIMIT/DISTINCT applied
        # inside).  Join on the shared variable names — the same equi-join
        # the UNION-block composition uses.
        sub = _select_result(triples, sq, doc_triples=doc_triples)
        if acc is None:
            acc = sub
        else:
            shared = sorted(set(acc.columns) & set(sub.columns))
            acc = acc.join(sub, on=shared, how="inner") if shared else acc.crossJoin(sub)
    if acc is not None:
        for vars_, rows in q.values_blocks:
            vdf = F.broadcast(_values_df(triples.sparkSession, vars_, rows))
            shared = [v for v in vars_ if v in acc.columns]
            if not shared:
                acc = acc.crossJoin(vdf)
                continue
            # SPARQL join compatibility: unbound on EITHER side is a
            # wildcard — UNDEF on the VALUES side, and a null binding on
            # the solution side (padded UNION branch / unmatched OPTIONAL)
            # are both compatible with anything; the merged binding is the
            # bound one (coalesce).
            v2 = vdf.select(*[F.col(v).alias(f"_v_{v}") for v in vars_])
            cond = F.lit(True)
            for v in shared:
                cond = cond & (
                    F.col(f"_v_{v}").isNull()
                    | F.col(v).isNull()
                    | (F.col(f"_v_{v}") == F.col(v))
                )
            acc = acc.join(v2, on=cond, how="inner")
            keep = [
                F.coalesce(F.col(c), F.col(f"_v_{c}")).alias(c) if c in shared else F.col(c)
                for c in acc.columns
                if not c.startswith("_v_")
            ]
            extra = [
                F.col(f"_v_{v}").alias(v) for v in vars_ if v not in shared
            ]
            acc = acc.select(*keep, *extra)
    elif q.values_blocks:
        vars_, rows = q.values_blocks[0]
        acc = _values_df(triples.sparkSession, vars_, rows)
        for vars2, rows2 in q.values_blocks[1:]:
            acc = acc.crossJoin(_values_df(triples.sparkSession, vars2, rows2))
    if acc is None:
        raise SparqlParseError("empty WHERE clause")
    for grp in q.optionals:
        # OPTIONAL-scoped filters and EXISTS/MINUS restrict the optional
        # branch BEFORE the left join so unmatched rows keep null bindings
        opt = _group_df(triples, grp, meta, doc_triples=doc_triples)
        opt = _drop_dup_meta(acc, opt)
        shared = _shared_vars(acc, opt)
        acc = acc.join(opt, on=shared, how="left") if shared else acc.crossJoin(opt)
    for toks, alias in q.binds:
        acc = _ensure_meta(acc, toks).withColumn(alias, _bind_expr(toks))
        ctm = _constructed_term_meta(toks)
        if ctm is not None:
            kind, lang_e, dt_e = ctm
            kc, lc, dc = _meta_cols(alias)
            acc = (
                acc.withColumn(kc, F.lit(kind))
                .withColumn(lc, lang_e)
                .withColumn(dc, dt_e)
            )
    acc = _apply_exists_minus(
        triples, acc, q.exists_groups, q.minus_groups, q.patterns, meta,
        doc_triples=doc_triples,
    )
    for ftoks in q.filters:
        acc = _apply_filter(acc, ftoks)
    return acc


def sparql_select(triples: DataFrame, query_text: str) -> DataFrame:
    """Execute a SPARQL-SELECT subset query over the triples DataFrame.
    Returns one column per selected variable (string-typed bindings, the
    JSON-bindings contract of ``DataQuery.scala:51-63``)."""
    q = parse_sparql(query_text)
    return _select_result(_merged_model(triples), q, doc_triples=triples)


def _select_result(
    model: DataFrame, q: SparqlQuery, doc_triples: DataFrame | None = None
) -> DataFrame:
    """SELECT evaluation over an already-merged model — shared by the
    top-level query and subqueries (§12).  In per-document mode (the model
    carries ``_g_doc``, sh:sparql evaluation) the doc id threads through
    the projection and becomes an implicit grouping key, matching the
    spec's per-focus-graph evaluation; LIMIT/OFFSET would then need
    per-document application, which this subset rejects."""
    acc = _solutions(model, q, doc_triples)
    gdoc = "_g_doc" in acc.columns
    if gdoc and (q.limit is not None or q.offset is not None):
        raise SparqlParseError(
            "sh:sparql subset: LIMIT/OFFSET inside a doc-scoped subquery "
            "is unsupported (would need per-document application)"
        )
    if q.aggregates:
        aggs = []
        for func, arg, agg_distinct, alias, sep in q.aggregates:
            if func == "COUNT":
                if arg == "*":
                    c = F.count(F.lit(1))
                else:
                    c = F.count_distinct(F.col(arg)) if agg_distinct else F.count(F.col(arg))
                aggs.append(c.cast("bigint").alias(alias))
            elif func == "GROUP_CONCAT":
                # SPARQL leaves element order implementation-defined; sort
                # lexically so results are deterministic across partitions
                # (and hash-comparable to a string_agg(… ORDER BY) oracle)
                vals = (
                    F.collect_set(F.col(arg)) if agg_distinct else F.collect_list(F.col(arg))
                )
                aggs.append(F.array_join(F.sort_array(vals), sep).alias(alias))
            elif func == "SAMPLE":
                # any value is a valid SAMPLE; min() is a deterministic one
                aggs.append(F.min(F.col(arg)).alias(alias))
            else:
                col = F.col(arg).try_cast("double")
                if agg_distinct:
                    # MIN/MAX are insensitive to DISTINCT; SUM/AVG aggregate
                    # the distinct value set (partial distinct sets merge
                    # map-side — Catalyst plans these as a two-phase
                    # distinct aggregate, no extra exchange vs pre-distinct)
                    if func == "SUM":
                        agg_col = F.sum_distinct(col)
                    elif func == "AVG":
                        # no avg_distinct builtin in this pyspark; the
                        # distinct-set ratio is equivalent and stays JVM-side
                        agg_col = F.sum_distinct(col) / F.count_distinct(col)
                    else:
                        agg_col = {"MIN": F.min, "MAX": F.max}[func](col)
                    aggs.append(agg_col.alias(alias))
                else:
                    fn = {"SUM": F.sum, "MIN": F.min, "MAX": F.max, "AVG": F.avg}[func]
                    aggs.append(fn(col).alias(alias))
        gkeys = (["_g_doc"] if gdoc else []) + q.group_by
        grouped = acc.groupBy(*gkeys) if gkeys else acc.groupBy()
        out = grouped.agg(*aggs)
        for htoks in q.having:
            out = _apply_filter(out, htoks)
        proj = (q.select_vars or q.group_by) + [t[3] for t in q.aggregates]
        out = out.select(*((["_g_doc"] if gdoc else []) + proj))
    else:
        out = acc.select(*((["_g_doc"] if gdoc else []) + q.select_vars))
    if q.distinct:
        out = out.distinct()
    if q.order_by:
        keys = []
        for v, desc in q.order_by:
            col = _compile_expr(v) if isinstance(v, list) else F.col(v)
            keys.append(col.desc() if desc else col.asc())
        out = out.orderBy(*keys)
    if q.offset is not None:
        out = out.offset(q.offset)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out


def sparql_violators(triples: DataFrame, query_text: str) -> DataFrame:
    """SHACL-SPARQL constraint evaluation (``sh:select`` with ``$this``):
    the violator set ``(doc_sha256, node)`` from ONE distributed query.

    ``$this`` is left free (rewritten to ``?this``) and the query runs over
    every document's graph at once; per-document scoping comes from
    threading the doc id through every BGP join as the ``_g_doc``
    pseudo-variable — the set-based equivalent of the spec's per-focus-node
    evaluation, with no driver-side loop.  Property paths run per
    document (``path_rows`` keyed on ``_g_doc``);
    subqueries group implicitly by document (``_select_result``), so
    aggregates are scoped to one graph as the spec's per-focus evaluation
    requires — LIMIT/OFFSET inside a subquery stays rejected."""
    q = parse_sparql(query_text.replace("$this", "?this"))
    if q.group_by or q.having or q.limit is not None or q.offset is not None:
        # the violator set is ?this bindings only; top-level solution
        # modifiers would be silently dropped — reject instead (push the
        # aggregation into a subquery, which groups per document)
        raise SparqlParseError(
            "sh:sparql subset: top-level GROUP BY/HAVING/LIMIT/OFFSET in a "
            "constraint query is unsupported — use a subquery"
        )
    model = triples.select(
        F.col("doc_sha256").alias("_g_doc"),
        "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype",
    ).distinct()
    sol = _solutions(model, q)
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


def _apply_seq_modifiers(sols: DataFrame, q: SparqlQuery) -> DataFrame:
    """ORDER BY / OFFSET / LIMIT over a raw solution sequence — the
    SolutionModifier semantics the non-SELECT query forms share with
    SELECT (SPARQL 1.1 §18.2.4-5).  GROUP BY/HAVING are rejected for
    these forms at parse time."""
    if q.order_by:
        keys = []
        for v, desc in q.order_by:
            col = _compile_expr(v) if isinstance(v, list) else F.col(v)
            keys.append(col.desc() if desc else col.asc())
        sols = sols.orderBy(*keys)
    if q.offset is not None:
        sols = sols.offset(q.offset)
    if q.limit is not None:
        sols = sols.limit(q.limit)
    return sols


def sparql_construct(triples: DataFrame, query_text: str) -> DataFrame:
    """SPARQL CONSTRUCT: instantiate the template once per solution and
    union into a triple SET (a graph).  Returns the engine's flat triple
    schema ``(subj, pred, obj_kind, obj_value, obj_lang, obj_datatype)``
    — ready for :mod:`operators.serialize` or a store write.  Reference:
    ARQ behind ``DataQuery.scala:51-63`` executes any query form."""
    q = parse_sparql(query_text)
    if q.query_form != "construct":
        raise SparqlParseError("sparql_construct requires a CONSTRUCT query")
    sols = _apply_seq_modifiers(
        _solutions(_merged_model(triples), q, doc_triples=triples), q
    )
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
    q = parse_sparql(query_text)
    if q.query_form != "ask":
        raise SparqlParseError("sparql_ask requires an ask query")
    sols = _apply_seq_modifiers(
        _solutions(_merged_model(triples), q, doc_triples=triples), q
    )
    return not sols.limit(1).isEmpty()


def sparql_describe(triples: DataFrame, query_text: str) -> DataFrame:
    """SPARQL DESCRIBE: the description is implementation-defined
    (SPARQL 1.1 §16.4); this engine returns every triple whose SUBJECT is
    a described resource (one-hop outgoing description, the common
    choice).  Resources = constant IRIs plus the bindings of each
    described variable across the WHERE solutions.  The resource set is
    a distinct projection — small relative to the model — joined back as
    a semi-join, so the model scan stays a single pass."""
    q = parse_sparql(query_text)
    if q.query_form != "describe":
        raise SparqlParseError("sparql_describe requires a DESCRIBE query")
    model = _merged_model(triples)
    spark = triples.sparkSession
    parts = []
    consts = [t for t in q.describe_terms if not t.startswith("?")]
    if consts:
        parts.append(spark.createDataFrame([(c,) for c in consts], "subj string"))
    vars_ = [t[1:] for t in q.describe_terms if t.startswith("?")]
    if vars_:
        sols = _apply_seq_modifiers(_solutions(model, q, doc_triples=triples), q)
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
