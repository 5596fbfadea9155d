"""SPARQL 1.1 SELECT parser (recursive descent) -> algebra tree.

Covers the surface the reference engine supports (hybrid/src/splitter.rs
parses via spargebra; the combiner handles the variants listed in SURVEY
§2): BGP with property paths, FILTER, BIND, OPTIONAL, UNION, MINUS, VALUES,
sub-SELECT, GROUP BY / aggregates / HAVING, ORDER BY, DISTINCT / REDUCED,
LIMIT / OFFSET, EXISTS / NOT EXISTS, IN / NOT IN, IF, COALESCE, datetime
extractors, numeric functions, casts, and the otit_swt custom function IRIs.

The algebra translation follows SPARQL 1.1 §18.2 (simplified): filters apply
at group level; OPTIONAL{... FILTER(e)} becomes LeftJoin(..., e); aggregates
in SELECT/HAVING/ORDER BY are hoisted into Group with synthetic bindings.
"""

from __future__ import annotations

import itertools
import re
from dataclasses import dataclass

from otit_swt_spark.sparql import algebra as A
from otit_swt_spark.terms import (
    IRI,
    Literal,
    NEST_AGGREGATION,
    RDF_LANGSTRING,
    RDF_TYPE,
    Variable,
    XSD,
    XSD_BOOLEAN,
    XSD_STRING,
    numeric_datatype,
    unescape,
)

KEYWORDS = {
    "SELECT", "DISTINCT", "REDUCED", "WHERE", "FILTER", "BIND", "OPTIONAL",
    "UNION", "MINUS", "VALUES", "GROUP", "BY", "HAVING", "ORDER", "ASC",
    "DESC", "LIMIT", "OFFSET", "AS", "IN", "NOT", "EXISTS", "PREFIX",
    "BASE", "UNDEF", "TRUE", "FALSE", "SEPARATOR", "SERVICE", "SILENT",
    "ASK", "CONSTRUCT", "DESCRIBE", "INSERT", "DELETE", "DATA", "GRAPH",
    "FROM", "NAMED",
}

AGGREGATES = {"COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP_CONCAT", "SAMPLE"}

_TOKEN_RE = re.compile(
    r"""(?x)
      (?P<ws>\s+|\#[^\n]*)
    | (?P<iri><[^<>"{}|^`\s]*>)
    | (?P<var>[?$][A-Za-z_][\w]*)
    | (?P<bnode>_:[A-Za-z_][\w]*)
    | (?P<string>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
    | (?P<langtag>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
    | (?P<num>(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
    | (?P<pname>(?:[A-Za-z_][\w-]*)?:(?:[A-Za-z_](?:[\w.-]*[\w-])?)?)
    | (?P<name>[A-Za-z_][\w]*)
    | (?P<op>\^\^|\|\||&&|!=|<=|>=|[{}()\[\].;,=<>!+\-*/|^?])
    """
)


@dataclass
class Tok:
    kind: str
    value: str
    pos: int


def tokenize(text: str) -> list[Tok]:
    toks: list[Tok] = []
    i = 0
    n = len(text)
    while i < n:
        m = _TOKEN_RE.match(text, i)
        if not m:
            raise SyntaxError(f"SPARQL tokenizer stuck at {text[i:i+30]!r}")
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        if kind == "pname":
            toks.append(Tok("pname", m.group(0), m.start()))
        elif kind == "name":
            up = m.group(0).upper()
            if up in KEYWORDS:
                toks.append(Tok(up, m.group(0), m.start()))
            else:
                toks.append(Tok("name", m.group(0), m.start()))
        else:
            toks.append(Tok(kind, m.group(0), m.start()))
    toks.append(Tok("eof", "", n))
    return toks


class Parser:
    def __init__(self, text: str):
        self.text = text
        self.toks = tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self._var_counter = itertools.count()

    # -- token helpers -----------------------------------------------------

    def peek(self, k: int = 0) -> Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept(self, kind: str, value: str | None = None) -> Tok | None:
        t = self.peek()
        if t.kind == kind and (value is None or t.value == value):
            return self.next()
        return None

    def expect(self, kind: str, value: str | None = None) -> Tok:
        t = self.accept(kind, value)
        if t is None:
            got = self.peek()
            raise SyntaxError(f"expected {value or kind}, got {got.kind} {got.value!r}")
        return t

    def fresh_var(self, hint: str = "v") -> str:
        return f"__{hint}_{next(self._var_counter)}"

    # -- terms -------------------------------------------------------------

    def resolve_pname(self, text: str) -> IRI:
        prefix, local = text.split(":", 1)
        if prefix not in self.prefixes:
            raise SyntaxError(f"unknown prefix {prefix!r}")
        return IRI(self.prefixes[prefix] + local)

    def parse_iri(self) -> IRI:
        t = self.peek()
        if t.kind == "iri":
            self.next()
            return IRI(t.value[1:-1])
        if t.kind == "pname":
            self.next()
            return self.resolve_pname(t.value)
        raise SyntaxError(f"expected IRI, got {t.value!r}")

    def parse_literal(self) -> Literal:
        t = self.next()
        if t.kind == "string":
            lex = unescape(t.value[1:-1])
            if self.accept("op", "^^"):
                dt = self.parse_iri()
                return Literal(lex, dt.value)
            lt = self.accept("langtag")
            if lt is not None:
                return Literal(lex, RDF_LANGSTRING, lt.value[1:])
            return Literal(lex)
        if t.kind == "num":
            return Literal(t.value, numeric_datatype(t.value))
        if t.kind == "op" and t.value in ("-", "+"):
            # NumericLiteralNegative/Positive (SPARQL grammar [131]/[132]):
            # the tokenizer emits sign and digits separately
            n = self.expect("num")
            lex = t.value + n.value if t.value == "-" else n.value
            return Literal(lex, numeric_datatype(lex))
        if t.kind in ("TRUE", "FALSE"):
            return Literal(t.value.lower(), XSD_BOOLEAN)
        raise SyntaxError(f"expected literal, got {t.value!r}")

    def parse_term(self) -> A.Term:
        t = self.peek()
        if t.kind == "var":
            self.next()
            return Variable(t.value[1:])
        if t.kind == "bnode":
            # blank nodes in patterns act as non-projected variables
            # (reference renames them, preprocessing.rs:394-412)
            self.next()
            return Variable(f"__bnode_{t.value[2:]}")
        if t.kind in ("string", "num", "TRUE", "FALSE") or (
                t.kind == "op" and t.value in ("-", "+")
                and self.peek(1).kind == "num"):
            return self.parse_literal()
        return self.parse_iri()

    # -- entry -------------------------------------------------------------

    def parse_query(self) -> A.SelectQuery | A.AskQuery | A.ConstructQuery | A.DescribeQuery:
        while True:
            if self.accept("PREFIX"):
                pn = self.expect("pname").value
                prefix = pn[:-1] if pn.endswith(":") else pn.split(":", 1)[0]
                iri = self.expect("iri").value[1:-1]
                self.prefixes[prefix] = iri
            elif self.accept("BASE"):
                self.expect("iri")
            else:
                break
        t = self.peek()
        if t.kind == "ASK":
            return self.parse_ask()
        if t.kind == "CONSTRUCT":
            return self.parse_construct()
        if t.kind == "DESCRIBE":
            return self.parse_describe()
        if t.kind in ("INSERT", "DELETE"):
            return self.parse_update()
        return self.parse_select(top=True)

    def parse_update(self) -> A.UpdateQuery:
        """SPARQL 1.1 Update forms over the default graph:
        ``INSERT DATA {t}``, ``DELETE DATA {t}``, ``DELETE WHERE {p}``,
        and ``[DELETE {t}] [INSERT {t}] WHERE {p}``."""
        delete_tpl: list[A.TriplePattern] | None = None
        insert_tpl: list[A.TriplePattern] | None = None

        def template_block() -> list[A.TriplePattern]:
            self.expect("op", "{")
            tpl: list[A.TriplePattern] = []
            while not self.accept("op", "}"):
                tpl.extend(self.parse_triples_block().patterns)
                self.accept("op", ".")
            return tpl

        if self.accept("DELETE"):
            if self.accept("DATA"):
                return A.UpdateQuery(delete=template_block(), insert=None,
                                     pattern=None, data_only=True)
            if self.peek().kind == "WHERE":  # DELETE WHERE {p}: pattern=template
                self.next()
                tpl = template_block()
                return A.UpdateQuery(delete=tpl, insert=None,
                                     pattern=A.BGP(list(tpl)))
            delete_tpl = template_block()
            if self.accept("INSERT"):
                insert_tpl = template_block()
        else:
            self.expect("INSERT")
            if self.accept("DATA"):
                return A.UpdateQuery(delete=None, insert=template_block(),
                                     pattern=None, data_only=True)
            insert_tpl = template_block()
        self.expect("WHERE")
        pattern = self.parse_group_graph_pattern()
        return A.UpdateQuery(delete=delete_tpl, insert=insert_tpl,
                             pattern=pattern)

    def parse_ask(self) -> A.AskQuery:
        self.expect("ASK")
        self.accept("WHERE")
        return A.AskQuery(self.parse_group_graph_pattern())

    def parse_construct(self) -> A.ConstructQuery:
        self.expect("CONSTRUCT")
        if self.accept("WHERE"):  # short form: template = pattern triples
            pattern = self.parse_group_graph_pattern()
            template = [tp for p in A.walk_patterns(pattern)
                        if isinstance(p, A.BGP) for tp in p.patterns]
            return A.ConstructQuery(template, pattern)
        self.expect("op", "{")
        template: list[A.TriplePattern] = []
        while not self.accept("op", "}"):
            template.extend(self.parse_triples_block().patterns)
            self.accept("op", ".")
        self.accept("WHERE")
        pattern = self.parse_group_graph_pattern()
        # solution modifiers apply to the underlying solution sequence
        limit: int | None = None
        offset = 0
        while True:
            if self.accept("LIMIT"):
                limit = int(self.expect("num").value)
            elif self.accept("OFFSET"):
                offset = int(self.expect("num").value)
            else:
                break
        if limit is not None or offset:
            pattern = A.Slice(pattern, offset, limit)
        for tp in template:
            p = tp.p
            if not isinstance(p, (Variable, IRI, A.PathPredicate)):
                raise SyntaxError("property paths are not allowed in CONSTRUCT templates")
        return A.ConstructQuery(template, pattern)

    def parse_describe(self) -> A.DescribeQuery:
        self.expect("DESCRIBE")
        terms: list[A.Term] = []
        while True:
            t = self.peek()
            if t.kind == "var":
                self.next()
                terms.append(Variable(t.value[1:]))
            elif t.kind in ("iri", "pname"):
                terms.append(self.parse_iri())
            else:
                break
        if not terms:
            raise SyntaxError("DESCRIBE needs at least one IRI or variable")
        pattern = None
        if self.accept("WHERE") or (self.peek().kind == "op" and self.peek().value == "{"):
            pattern = self.parse_group_graph_pattern()
        return A.DescribeQuery(terms, pattern)

    def parse_select(self, top: bool = False) -> A.SelectQuery:
        self.expect("SELECT")
        distinct = bool(self.accept("DISTINCT"))
        reduced = bool(self.accept("REDUCED"))
        select_items: list[tuple[str, A.Expr | None]] = []  # (var, expr-or-None)
        star = False
        while True:
            t = self.peek()
            if t.kind == "var":
                self.next()
                select_items.append((t.value[1:], None))
            elif t.kind == "op" and t.value == "*":
                self.next()
                star = True
            elif t.kind == "op" and t.value == "(":
                self.next()
                expr = self.parse_expression()
                self.expect("AS")
                v = self.expect("var").value[1:]
                self.expect("op", ")")
                select_items.append((v, expr))
            else:
                break
        from_default: list[IRI] = []
        from_named: list[IRI] = []
        while self.accept("FROM"):
            if self.accept("NAMED"):
                from_named.append(self.parse_iri())
            else:
                from_default.append(self.parse_iri())
        self.accept("WHERE")
        pattern = self.parse_group_graph_pattern()

        group_by: list[tuple[str, A.Expr | None]] | None = None
        having: A.Expr | None = None
        order: list[tuple[A.Expr, bool]] = []
        limit: int | None = None
        offset = 0
        while True:
            if self.accept("GROUP"):
                self.expect("BY")
                group_by = []
                while True:
                    t = self.peek()
                    if t.kind == "var":
                        self.next()
                        group_by.append((t.value[1:], None))
                    elif t.kind == "op" and t.value == "(":
                        self.next()
                        e = self.parse_expression()
                        self.expect("AS")
                        v = self.expect("var").value[1:]
                        self.expect("op", ")")
                        group_by.append((v, e))
                    else:
                        break
            elif self.accept("HAVING"):
                self.expect("op", "(")
                having = self.parse_expression()
                self.expect("op", ")")
            elif self.accept("ORDER"):
                self.expect("BY")
                while True:
                    t = self.peek()
                    if t.kind in ("ASC", "DESC"):
                        asc = t.kind == "ASC"
                        self.next()
                        self.expect("op", "(")
                        e = self.parse_expression()
                        self.expect("op", ")")
                        order.append((e, asc))
                    elif t.kind == "var":
                        self.next()
                        order.append((A.EVar(t.value[1:]), True))
                    elif t.kind == "op" and t.value == "(":
                        self.next()
                        e = self.parse_expression()
                        self.expect("op", ")")
                        order.append((e, True))
                    elif t.kind in ("name", "iri", "pname") and \
                            self.peek(1).kind == "op" and \
                            self.peek(1).value == "(":
                        # bare Constraint key: ORDER BY lcase(?x)
                        order.append((self.parse_primary(), True))
                    else:
                        break
            elif self.accept("LIMIT"):
                limit = int(self.expect("num").value)
            elif self.accept("OFFSET"):
                offset = int(self.expect("num").value)
            elif self.accept("VALUES"):
                values = self.parse_values_body()
                pattern = A.Join(pattern, values)
            else:
                break

        q = self._assemble(
            pattern, select_items, star, distinct, reduced, group_by, having,
            order, limit, offset,
        )
        q.dataset_default = from_default
        q.dataset_named = from_named
        return q

    # -- algebra assembly (SPARQL 1.1 §18.2, simplified) --------------------

    def _assemble(self, pattern, select_items, star, distinct, reduced,
                  group_by, having, order, limit, offset) -> A.SelectQuery:
        agg_map: dict[tuple, str] = {}
        aggs: list[A.EAggregate] = []

        def hoist(e: A.Expr | None) -> A.Expr | None:
            if e is None:
                return None
            if isinstance(e, A.EAggregate):
                key = (e.name, repr(e.expr), e.distinct, e.separator)
                if key not in agg_map:
                    v = self.fresh_var("agg")
                    agg_map[key] = v
                    aggs.append(A.EAggregate(e.name, e.expr, e.distinct, e.separator, v))
                return A.EVar(agg_map[key])
            if isinstance(e, (A.ECmp, A.EArith)):
                return type(e)(e.op, hoist(e.left), hoist(e.right))
            if isinstance(e, (A.EOr, A.EAnd)):
                return type(e)(hoist(e.left), hoist(e.right))
            if isinstance(e, (A.ENot, A.ENeg)):
                return type(e)(hoist(e.inner))
            if isinstance(e, A.EIn):
                return A.EIn(hoist(e.expr), tuple(hoist(o) for o in e.options), e.negated)
            if isinstance(e, A.EFunc):
                return A.EFunc(e.name, tuple(hoist(a) for a in e.args))
            return e

        has_agg = any(
            _contains_aggregate(e) for _, e in select_items if e is not None
        ) or (having is not None and _contains_aggregate(having))

        if group_by is not None or has_agg:
            by_vars: list[str] = []
            if group_by:
                for v, e in group_by:
                    if e is not None:
                        pattern = A.Extend(pattern, v, e)
                    by_vars.append(v)
            select_items = [(v, hoist(e)) for v, e in select_items]
            having = hoist(having)
            order = [(hoist(e), asc) for e, asc in order]
            pattern = A.Group(pattern, by_vars, aggs)
            if having is not None:
                pattern = A.Filter(having, pattern)

        for v, e in select_items:
            if e is not None:
                pattern = A.Extend(pattern, v, e)

        if star:
            variables = sorted(
                n for n in A.pattern_variables(pattern) if not n.startswith("__")
            )
        else:
            variables = [v for v, _ in select_items]

        # ORDER BY placement: normally before projection (keys may reference
        # unprojected vars). Under DISTINCT, dedup would destroy row order in
        # Spark, so apply the ordering after Distinct instead (keys must then
        # be projected vars — the common case).
        if order and not (distinct or reduced):
            pattern = A.OrderBy(pattern, order)
        pattern = A.Project(pattern, variables)
        if distinct:
            pattern = A.Distinct(pattern)
        elif reduced:
            pattern = A.Reduced(pattern)
        if order and (distinct or reduced):
            pattern = A.OrderBy(pattern, order)
        if limit is not None or offset:
            pattern = A.Slice(pattern, offset, limit)
        return A.SelectQuery(pattern, variables)

    # -- group graph pattern -------------------------------------------------

    def parse_group_graph_pattern(self) -> A.GraphPattern:
        self.expect("op", "{")
        if self.peek().kind == "SELECT":
            sub = self.parse_select()
            self.expect("op", "}")
            return sub.pattern
        current: A.GraphPattern = A.BGP([])
        filters: list[A.Expr] = []

        def join_in(p: A.GraphPattern):
            nonlocal current
            if isinstance(current, A.BGP) and not current.patterns:
                current = p
            elif isinstance(current, A.BGP) and isinstance(p, A.BGP):
                current.patterns.extend(p.patterns)
            else:
                current = A.Join(current, p)

        while True:
            t = self.peek()
            if t.kind == "op" and t.value == "}":
                self.next()
                break
            if t.kind == "FILTER":
                self.next()
                filters.append(self.parse_constraint())
            elif t.kind == "BIND":
                self.next()
                self.expect("op", "(")
                e = self.parse_expression()
                self.expect("AS")
                v = self.expect("var").value[1:]
                self.expect("op", ")")
                current = A.Extend(current, v, e)
            elif t.kind == "OPTIONAL":
                self.next()
                inner = self.parse_group_graph_pattern()
                if isinstance(inner, A.Filter):
                    current = A.LeftJoin(current, inner.inner, inner.expr)
                else:
                    current = A.LeftJoin(current, inner, None)
            elif t.kind == "MINUS":
                self.next()
                inner = self.parse_group_graph_pattern()
                current = A.Minus(current, inner)
            elif t.kind == "SERVICE":
                self.next()
                silent = bool(self.accept("SILENT"))
                endpoint = self.parse_iri()
                start = self.peek().pos  # the "{" opening the group
                inner = self.parse_group_graph_pattern()
                last = self.toks[self.i - 1]  # the consumed "}"
                raw = self.text[start:last.pos + len(last.value)]
                join_in(A.Service(endpoint, inner, silent, raw=raw,
                                  prefixes=dict(self.prefixes)))
            elif t.kind == "GRAPH":
                self.next()
                if self.peek().kind == "var":
                    g_term: A.Term = Variable(self.next().value[1:])
                else:
                    g_term = self.parse_iri()
                inner = self.parse_group_graph_pattern()
                join_in(A.Graph(g_term, inner))
            elif t.kind == "VALUES":
                self.next()
                join_in(self.parse_values_body())
            elif t.kind == "op" and t.value == "{":
                left = self.parse_group_graph_pattern()
                while self.accept("UNION"):
                    right = self.parse_group_graph_pattern()
                    left = A.Union(left, right)
                join_in(left)
            else:
                join_in(self.parse_triples_block())
            self.accept("op", ".")

        for f in filters:
            current = A.Filter(f, current)
        return current

    def parse_values_body(self) -> A.Values:
        single = self.peek().kind == "var"
        variables: list[str] = []
        if single:
            variables.append(self.next().value[1:])
        else:
            self.expect("op", "(")
            while self.peek().kind == "var":
                variables.append(self.next().value[1:])
            self.expect("op", ")")
        self.expect("op", "{")
        rows: list[list[A.Term | None]] = []
        while not self.accept("op", "}"):
            if single:
                rows.append([self._values_term()])
            else:
                self.expect("op", "(")
                row: list[A.Term | None] = []
                while not self.accept("op", ")"):
                    row.append(self._values_term())
                rows.append(row)
        return A.Values(variables, rows)

    def _values_term(self) -> A.Term | None:
        if self.accept("UNDEF"):
            return None
        return self.parse_term()

    # -- triples + paths ----------------------------------------------------

    def parse_triples_block(self) -> A.BGP:
        bgp = A.BGP([])
        s = self.parse_term()
        while True:
            # a bare variable predicate is a plain triple pattern (compiled
            # as a scan with the predicate projected), not a property path —
            # SPARQL paths cannot contain variables
            if self.peek().kind == "var":
                p = Variable(self.next().value[1:])
            else:
                p = self.parse_path()
            o = self.parse_term()
            self._emit_path(bgp, s, p, o)
            if self.accept("op", ","):
                while True:
                    o = self.parse_term()
                    self._emit_path(bgp, s, p, o)
                    if not self.accept("op", ","):
                        break
            if self.accept("op", ";"):
                nxt = self.peek()
                if nxt.kind == "op" and nxt.value in (".", "}"):
                    break
                continue
            break
        return bgp

    def _emit_path(self, bgp: A.BGP, s: A.Term, p, o: A.Term) -> None:
        """Lower sequence paths to fresh intermediate variables; leave other
        path operators in the pattern for the compiler (reference handles
        paths statically: hybrid/src/rewriting/graph_patterns/path_pattern.rs)."""
        if isinstance(p, A.PathSequence):
            cur = s
            for idx, part in enumerate(p.parts):
                nxt = o if idx == len(p.parts) - 1 else Variable(self.fresh_var("path"))
                self._emit_path(bgp, cur, part, nxt)
                cur = nxt
        elif isinstance(p, A.PathInverse) and isinstance(p.inner, A.PathPredicate):
            bgp.patterns.append(A.TriplePattern(o, p.inner.iri, s))
        elif isinstance(p, A.PathPredicate):
            bgp.patterns.append(A.TriplePattern(s, p.iri, o))
        else:
            bgp.patterns.append(A.TriplePattern(s, p, o))

    def parse_path(self) -> A.Path:
        parts = [self.parse_path_sequence()]
        while self.accept("op", "|"):
            parts.append(self.parse_path_sequence())
        return parts[0] if len(parts) == 1 else A.PathAlternative(tuple(parts))

    def parse_path_sequence(self) -> A.Path:
        parts = [self.parse_path_elt()]
        while self.accept("op", "/"):
            parts.append(self.parse_path_elt())
        return parts[0] if len(parts) == 1 else A.PathSequence(tuple(parts))

    def parse_path_elt(self) -> A.Path:
        inverse = bool(self.accept("op", "^"))
        t = self.peek()
        if t.kind == "op" and t.value == "!":
            self.next()
            inner = self.parse_negated_property_set()
        elif t.kind == "op" and t.value == "(":
            self.next()
            inner = self.parse_path()
            self.expect("op", ")")
        elif t.kind == "name" and t.value == "a":
            self.next()
            inner = A.PathPredicate(IRI(RDF_TYPE))
        elif t.kind == "var":
            raise SyntaxError("variable predicates in paths not supported")
        else:
            inner = A.PathPredicate(self.parse_iri())
        if self.accept("op", "*"):
            inner = A.PathZeroOrMore(inner)
        elif self.accept("op", "+"):
            inner = A.PathOneOrMore(inner)
        elif self.accept("op", "?"):
            inner = A.PathZeroOrOne(inner)
        if inverse:
            inner = A.PathInverse(inner)
        return inner

    def parse_negated_property_set(self) -> A.PathNegatedPropertySet:
        """``!iri``, ``!^iri`` or ``!( iri | ^iri | ... )`` — SPARQL 1.1
        PathNegatedPropertySet."""
        forward: list[IRI] = []
        inverse: list[IRI] = []

        def one():
            target = inverse if self.accept("op", "^") else forward
            t = self.peek()
            if t.kind == "name" and t.value == "a":
                self.next()
                target.append(IRI(RDF_TYPE))
            else:
                target.append(self.parse_iri())

        if self.accept("op", "("):
            one()
            while self.accept("op", "|"):
                one()
            self.expect("op", ")")
        else:
            one()
        return A.PathNegatedPropertySet(tuple(forward), tuple(inverse))

    # -- expressions ---------------------------------------------------------

    def parse_constraint(self) -> A.Expr:
        t = self.peek()
        if t.kind == "EXISTS":
            self.next()
            return A.EExists(self.parse_group_graph_pattern())
        if t.kind == "NOT":
            self.next()
            self.expect("EXISTS")
            return A.EExists(self.parse_group_graph_pattern(), negated=True)
        if t.kind == "op" and t.value == "(":
            self.next()
            e = self.parse_expression()
            self.expect("op", ")")
            return e
        return self.parse_primary()  # built-in call form

    def parse_expression(self) -> A.Expr:
        return self.parse_or()

    def parse_or(self) -> A.Expr:
        left = self.parse_and()
        while self.accept("op", "||"):
            left = A.EOr(left, self.parse_and())
        return left

    def parse_and(self) -> A.Expr:
        left = self.parse_relational()
        while self.accept("op", "&&"):
            left = A.EAnd(left, self.parse_relational())
        return left

    def parse_relational(self) -> A.Expr:
        left = self.parse_additive()
        t = self.peek()
        if t.kind == "op" and t.value in ("=", "!=", "<", "<=", ">", ">="):
            self.next()
            return A.ECmp(t.value, left, self.parse_additive())
        if t.kind == "IN":
            self.next()
            return A.EIn(left, tuple(self.parse_expr_list()))
        if t.kind == "NOT":
            self.next()
            self.expect("IN")
            return A.EIn(left, tuple(self.parse_expr_list()), negated=True)
        return left

    def parse_expr_list(self) -> list[A.Expr]:
        self.expect("op", "(")
        out = []
        if not self.accept("op", ")"):
            out.append(self.parse_expression())
            while self.accept("op", ","):
                out.append(self.parse_expression())
            self.expect("op", ")")
        return out

    def parse_additive(self) -> A.Expr:
        left = self.parse_multiplicative()
        while True:
            t = self.peek()
            if t.kind == "op" and t.value in ("+", "-"):
                self.next()
                left = A.EArith(t.value, left, self.parse_multiplicative())
            else:
                return left

    def parse_multiplicative(self) -> A.Expr:
        left = self.parse_unary()
        while True:
            t = self.peek()
            if t.kind == "op" and t.value in ("*", "/"):
                self.next()
                left = A.EArith(t.value, left, self.parse_unary())
            else:
                return left

    def parse_unary(self) -> A.Expr:
        t = self.peek()
        if t.kind == "op" and t.value == "!":
            self.next()
            return A.ENot(self.parse_unary())
        if t.kind == "op" and t.value == "-":
            self.next()
            return A.ENeg(self.parse_unary())
        if t.kind == "op" and t.value == "+":
            self.next()
            return self.parse_unary()
        return self.parse_primary()

    def parse_primary(self) -> A.Expr:
        t = self.peek()
        if t.kind == "op" and t.value == "(":
            self.next()
            e = self.parse_expression()
            self.expect("op", ")")
            return e
        if t.kind == "var":
            self.next()
            return A.EVar(t.value[1:])
        if t.kind in ("string", "num", "TRUE", "FALSE"):
            return A.ELiteral(self.parse_literal())
        if t.kind == "EXISTS":
            self.next()
            return A.EExists(self.parse_group_graph_pattern())
        if t.kind == "NOT":
            self.next()
            self.expect("EXISTS")
            return A.EExists(self.parse_group_graph_pattern(), negated=True)
        if t.kind == "name":
            name = t.value.upper()
            if name in AGGREGATES:
                return self.parse_aggregate()
            self.next()
            args = tuple(self.parse_expr_list())
            return A.EFunc(name, args)
        if t.kind in ("pname", "iri"):
            iri = self.parse_iri()
            if self.peek().kind == "op" and self.peek().value == "(":
                args = tuple(self.parse_expr_list())
                if iri.value.startswith(XSD):
                    return A.EFunc("XSD_CAST:" + iri.value, args)
                if iri.value == NEST_AGGREGATION:
                    # custom aggregate IRI (reference lazy_aggregate.rs:171-192)
                    return A.EAggregate(NEST_AGGREGATION, args[0], False)
                return A.EFunc(iri.value, args)
            return A.EIri(iri)
        if t.kind == "MINUS":  # rare: identifier clash
            raise SyntaxError("unexpected MINUS in expression")
        raise SyntaxError(f"unexpected token in expression: {t.value!r}")

    def parse_aggregate(self) -> A.EAggregate:
        name = self.next().value.upper()
        self.expect("op", "(")
        distinct = bool(self.accept("DISTINCT"))
        if name == "COUNT" and self.accept("op", "*"):
            self.expect("op", ")")
            return A.EAggregate("COUNT", None, distinct)
        expr = self.parse_expression()
        separator = None
        if self.accept("op", ";"):
            self.expect("SEPARATOR")
            self.expect("op", "=")
            sep_tok = self.expect("string")
            separator = unescape(sep_tok.value[1:-1])
        self.expect("op", ")")
        return A.EAggregate(name, expr, distinct, separator)


def _contains_aggregate(e: A.Expr) -> bool:
    if isinstance(e, A.EAggregate):
        return True
    if isinstance(e, (A.EOr, A.EAnd, A.ECmp, A.EArith)):
        return _contains_aggregate(e.left) or _contains_aggregate(e.right)
    if isinstance(e, (A.ENot, A.ENeg)):
        return _contains_aggregate(e.inner)
    if isinstance(e, A.EIn):
        return _contains_aggregate(e.expr) or any(_contains_aggregate(o) for o in e.options)
    if isinstance(e, A.EFunc):
        return any(_contains_aggregate(a) for a in e.args)
    return False


def parse_query(text: str) -> A.SelectQuery:
    p = Parser(text)
    q = p.parse_query()
    # EOF check: unconsumed tokens mean a clause the grammar above did
    # not understand — failing loudly beats silently dropping an ORDER
    # BY / LIMIT and returning differently-shaped results
    t = p.peek()
    if t.kind != "eof":
        raise SyntaxError(
            f"unparsed input from {t.value!r} — unsupported or misplaced "
            "clause")
    return q
