"""SPARQL algebra -> single Spark DataFrame plan.

This replaces the reference's whole split/rewrite/prepare/combine pipeline
(hybrid/src/{rewriting,preparing,combiner}*): because the knowledge graph
AND the time-series rows are both DataFrames in one Spark plan, the
static/dynamic query splitting, ChangeType relaxation, filter/group pushdown
and id-pruning machinery collapse into plan construction — Catalyst performs
predicate pushdown, column pruning, partition pruning and join selection on
the unified plan (SURVEY §4.1).

A BGP's triple patterns are ONE Spark SQL statement over their predicates'
relations (GraphStore.vp), as S2RDF compiles a BGP over its vertical
partitions, so the joins are analysed once; the BGP's input, its
time-series chains and every other operator stay DataFrame operations.
A property path is SQL text inside that statement (_path_sql); only a
``+``/``*`` closure is a DataFrame, computed by _kleene and passed to the
statement as one more table argument.

Semantics notes:
- The right-hand sides of LeftJoin/Minus and Extend/Filter are compiled with
  the left solution *threaded through*, exactly like the reference combiner
  (hybrid/src/combiner.rs:106-127 threads columns through sequential
  patterns). The row-id trick (combiner.rs:137-143 cumsum) becomes
  ``monotonically_increasing_id``.
- Union keeps duplicates (SPARQL multiset semantics). The reference appends
  a ``unique()`` (combiner.rs:233-287) — a set-semantics divergence from the
  SPARQL spec that we deliberately do NOT copy (SURVEY §2.6).
- BOUND is ``isNotNull`` — the reference implements it inverted
  (lazy_expressions.rs:362-364), a bug we do not copy.
- hasDataPoint/hasTimestamp/hasValue triple patterns are *virtual*: they are
  lowered onto joins against registered time-series tables
  (hybrid/src/combiner/lazy_triple.rs:9-47 + join_timeseries.rs:6-44).
"""

from __future__ import annotations

import datetime as _dt
import functools
import itertools
from contextlib import contextmanager
from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from otit_swt_spark.session import job_description
from otit_swt_spark.sparql import algebra as A
from otit_swt_spark.sparql.expressions import (INTEGRAL, NUMERIC, Typed,
                                               _as_bool, compile_expr,
                                               literal_typed)
from otit_swt_spark.terms import (
    HAS_DATA_POINT,
    HAS_EXTERNAL_ID,
    HAS_TIMESTAMP,
    HAS_VALUE,
    IRI,
    Literal,
    NEST_AGGREGATION,
    Variable,
    XSD,
    XSD_BOOLEAN,
    XSD_DATE,
    XSD_DATETIME,
    XSD_STRING,
    BlankNode,
    object_row,
    solution_row,
    solution_term,
    spark_type_for_xsd,
    sparql_json_term,
    xsd_for_spark_type,
)

RID = "__rid"

_XSD_INTEGRAL = frozenset(XSD + n for n in (
    "integer", "long", "int", "short", "byte", "nonNegativeInteger",
    "unsignedInt", "unsignedLong"))


def _partial_agg_type(xsd: str | None) -> str | None:
    """The type remote SUM/MIN/MAX partials of a value column re-aggregate
    exactly in: "long" for the XSD integral types, "double" for
    double/float, None otherwise (strings sort by store collation,
    decimals carry engine-specific precision rules)."""
    if xsd in _XSD_INTEGRAL:
        return "long"
    if xsd in (XSD + "double", XSD + "float"):
        return "double"
    return None


def _pushdown_value_literal(lit):
    """A chain hasValue literal as a plain Python value safe to render
    into a remote SQL equality — numeric / boolean / plain-string only;
    anything else returns None (no value pushdown, Spark-side filter
    still applies)."""
    dt = lit.datatype
    if dt == XSD_BOOLEAN:
        return lit.lexical in ("true", "1")
    if dt in _XSD_INTEGRAL:
        try:
            return int(lit.lexical)
        except ValueError:
            return None
    if dt in (XSD + "double", XSD + "float", XSD + "decimal"):
        import math

        try:
            v = float(lit.lexical)
        except ValueError:
            return None
        # NaN/INF have no portable SQL literal (repr renders bare 'nan'
        # and binds as a column name) — leave them to the Spark-side
        # filter, where NaN = NaN even matches rows
        return v if math.isfinite(v) else None
    if dt in (XSD_STRING, None):
        return lit.lexical
    return None


def _conjuncts(e: A.Expr):
    """The top-level conjuncts of a FILTER expression."""
    if isinstance(e, A.EAnd):
        yield from _conjuncts(e.left)
        yield from _conjuncts(e.right)
    else:
        yield e


def _utc_naive(lexical: str):
    """An xsd:dateTime / xsd:date lexical form as a naive UTC datetime —
    the convention of the engine's session, the date-partition columns
    and the remote TIMESTAMP literals — or None when it does not parse."""
    try:
        dtv = _dt.datetime.fromisoformat(lexical.replace("Z", "+00:00"))
    except ValueError:
        return None
    if dtv.tzinfo is not None:
        dtv = dtv.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return dtv


#: a native VALUES column's cell from its lexical form; a timestamp is
#: tz-aware, as a naive datetime is read in the Python process's zone
_VALUES_CELL = {
    "long": int, "double": float, "bool": lambda s: s == "true",
    "timestamp": lambda s: _utc_naive(s).replace(tzinfo=_dt.timezone.utc)}

_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}


def _datetime_bound(c: A.Expr) -> tuple | None:
    """``(var, op, utc_datetime, datatype)`` for a conjunct comparing a
    variable with an xsd:dateTime or xsd:date literal, rewritten as
    ``?var op literal``; None for anything else or an unparseable
    literal. The single reader of FILTER timestamp bounds: each caller
    applies its own policy (relaxed remote hints, exact grouped bounds)."""
    if not isinstance(c, A.ECmp):
        return None
    op, var, lit = c.op, c.left, c.right
    if isinstance(lit, A.EVar) and isinstance(var, A.ELiteral):
        op, var, lit = _FLIP.get(op, op), lit, var
    if not (isinstance(var, A.EVar) and isinstance(lit, A.ELiteral)
            and lit.value.datatype in (XSD_DATETIME, XSD_DATE)):
        return None
    dtv = _utc_naive(lit.value.lexical)
    return None if dtv is None else (var.name, op, dtv, lit.value.datatype)


_CHAIN_KEYS = {HAS_DATA_POINT: "ts_var", HAS_TIMESTAMP: "t", HAS_VALUE: "v"}


def _classify_chains(patterns) -> tuple[dict[str, dict[str, list]], list]:
    """Split triple patterns into time-series chains and the rest. A
    chain is keyed by its data point variable and lists, in written
    order, the subjects of its hasDataPoint patterns (``"ts_var"``) and
    the objects of its hasTimestamp (``"t"``) and hasValue (``"v"``)
    patterns; a key is absent when the chain has no such pattern."""
    chains: dict[str, dict[str, list]] = {}
    rest = []
    for tp in patterns:
        key = _CHAIN_KEYS.get(tp.p.value) if isinstance(tp.p, IRI) else None
        dp, term = (tp.o, tp.s) if key == "ts_var" else (tp.s, tp.o)
        if key is None or not isinstance(dp, Variable):
            rest.append(tp)
            continue
        chains.setdefault(dp.name, {}).setdefault(key, []).append(term)
    return chains, rest


_TIME_UNITS = ("year", "month", "day", "hour", "minute", "second")

_COMPARABLE_NUM = {"long", "double", "int", "float"}


def _ts_literal_eq(col: "Column", col_hint: str | None, term) -> "Column":
    """Type-safe equality for a literal hasTimestamp/hasValue pattern.
    SPARQL `=` between literals of incomparable datatypes is a type
    error, which as a PATTERN restriction means 'matches nothing' — it
    must not become an ANSI cast error at constant folding (a string
    hasValue literal against a double value column would crash the
    whole plan with CAST_INVALID_INPUT)."""
    t = literal_typed(term)
    if (col_hint is None or t.hint == col_hint
            or (t.hint in _COMPARABLE_NUM and col_hint in _COMPARABLE_NUM)):
        return col == t.col
    return F.lit(False)


def _expr_substitute(e: A.Expr, mapping: dict) -> A.Expr:
    """Replace ``EVar`` nodes named in ``mapping`` with their defining
    ASTs — BIND inlining, so the grouped-pushdown analysis sees e.g. a
    tumbling bucket built through an intermediate ``?secs`` variable as
    one closed expression over the timestamp variable."""
    if isinstance(e, A.EVar):
        return mapping.get(e.name, e)
    if isinstance(e, (A.EOr, A.EAnd)):
        return type(e)(_expr_substitute(e.left, mapping),
                       _expr_substitute(e.right, mapping))
    if isinstance(e, (A.ECmp, A.EArith)):
        return type(e)(e.op, _expr_substitute(e.left, mapping),
                       _expr_substitute(e.right, mapping))
    if isinstance(e, (A.ENot, A.ENeg)):
        return type(e)(_expr_substitute(e.inner, mapping))
    if isinstance(e, A.EIn):
        return A.EIn(_expr_substitute(e.expr, mapping),
                     tuple(_expr_substitute(o, mapping) for o in e.options),
                     e.negated)
    if isinstance(e, A.EFunc):
        return A.EFunc(e.name, tuple(_expr_substitute(a, mapping)
                                     for a in e.args))
    return e  # literals / IRIs / EExists (rejected upstream)


def _collect_time_accessors(e: A.Expr, tname: str, acc: set) -> bool:
    """True iff every reference to the timestamp variable ``tname``
    inside ``e`` goes through a GRANULE-RESPECTING accessor: a calendar
    extract (YEAR..SECONDS — all integer-valued in this engine), the
    whole-second epoch conversion, or a ``FLOOR(epoch / K)`` tumbling
    bucket with integer K. Such an expression is a pure function of
    (granule, other bindings), so evaluating it on a remote group's
    representative row yields exactly its value on every point of the
    group. Accessors are recorded in ``acc`` as ``("unit", u)`` /
    ``("bucket", K)`` for granule resolution."""
    from otit_swt_spark.terms import DATETIME_AS_SECONDS

    def is_epoch(x):
        return (isinstance(x, A.EFunc) and x.name == DATETIME_AS_SECONDS
                and len(x.args) == 1 and isinstance(x.args[0], A.EVar)
                and x.args[0].name == tname)

    if isinstance(e, A.EVar):
        return e.name != tname
    if isinstance(e, (A.ELiteral, A.EIri)):
        return True
    if isinstance(e, A.EFunc):
        unit = {"YEAR": "year", "MONTH": "month", "DAY": "day",
                "HOURS": "hour", "MINUTES": "minute",
                "SECONDS": "second"}.get(e.name)
        if unit and len(e.args) == 1 and isinstance(e.args[0], A.EVar) \
                and e.args[0].name == tname:
            acc.add(("unit", unit))
            return True
        if is_epoch(e):
            # DateTimeAsSeconds truncates to whole seconds — a function
            # of the 'second' granule
            acc.add(("unit", "second"))
            return True
        if e.name == "FLOOR" and len(e.args) == 1:
            a0 = e.args[0]
            if isinstance(a0, A.EArith) and a0.op == "/" \
                    and is_epoch(a0.left) and isinstance(a0.right, A.ELiteral):
                try:
                    k = float(a0.right.value.lexical)
                except (TypeError, ValueError):
                    k = 0.0
                if k > 0 and k == int(k):
                    acc.add(("bucket", int(k)))
                    return True
        return all(_collect_time_accessors(a, tname, acc) for a in e.args)
    if isinstance(e, (A.EOr, A.EAnd, A.ECmp, A.EArith)):
        return (_collect_time_accessors(e.left, tname, acc)
                and _collect_time_accessors(e.right, tname, acc))
    if isinstance(e, (A.ENot, A.ENeg)):
        return _collect_time_accessors(e.inner, tname, acc)
    if isinstance(e, A.EIn):
        return _collect_time_accessors(e.expr, tname, acc) and all(
            _collect_time_accessors(o, tname, acc) for o in e.options)
    return False  # EExists / aggregates / unknown nodes: refuse


def _resolve_granule(acc: set) -> tuple:
    """Fold collected accessors into ONE remote GROUP BY granule that
    REFINES every accessor — finer-or-equal grouping is always sound
    because the Spark side recomputes the exact keys from each group's
    representative timestamp and re-aggregates the partials. A single
    pure bucket width groups exactly (rows-served == buckets); mixed
    forms fall back to the finest calendar unit that still refines
    everything (a K-second bucket is a function of the minute/hour/day
    truncation whenever 60/3600/86400 divides K — epoch 0 is midnight,
    so epoch buckets align with calendar boundaries in the engine's
    naive-UTC convention)."""
    if not acc:
        return ("all",)
    buckets = {k for kind, k in acc if kind == "bucket"}
    units = {u for kind, u in acc if kind == "unit"}
    if buckets and not units and len(buckets) == 1:
        return ("bucket", next(iter(buckets)))
    for k in buckets:
        units.add("day" if k % 86400 == 0 else
                  "hour" if k % 3600 == 0 else
                  "minute" if k % 60 == 0 else "second")
    order = {u: i for i, u in enumerate(_TIME_UNITS)}
    return ("trunc", max(units, key=lambda u: order[u]))


def _pattern_free_expr_vars(p: A.GraphPattern) -> set[str]:
    """Variables referenced by expressions inside ``p`` (BIND/FILTER/
    ORDER BY/aggregate/nested-LeftJoin expressions) but not bound by ``p``
    itself — if any of these are bound on the left of an OPTIONAL, the right
    side is *correlated* and cannot be compiled standalone."""
    free: set[str] = set()
    for node in A.walk_patterns(p):
        if isinstance(node, A.Filter):
            free |= A.expr_variables(node.expr)
        elif isinstance(node, A.Extend):
            free |= A.expr_variables(node.expr)
        elif isinstance(node, A.OrderBy):
            for e, _ in node.keys:
                free |= A.expr_variables(e)
        elif isinstance(node, A.Group):
            for a in node.aggregates:
                if a.expr is not None:
                    free |= A.expr_variables(a.expr)
        elif isinstance(node, A.LeftJoin) and node.expr is not None:
            free |= A.expr_variables(node.expr)
    return free - A.pattern_variables(p)


#: builtins that return NULL (a SPARQL error) on a NULL argument
_NULL_STRICT_FUNCS = {"STR", "UCASE", "LCASE", "STRLEN"}


def _null_strict(e: A.Expr) -> bool:
    """True when ``e`` is NULL wherever one of its variables is unbound:
    variables, constants, arithmetic and a few string builtins over them.
    A comparison of two such operands is then never true on a row that
    leaves one of its variables unbound (EXISTS, BOUND, COALESCE and IF
    are not among them)."""
    if isinstance(e, (A.EVar, A.ELiteral, A.EIri)):
        return True
    if isinstance(e, A.EArith):
        return _null_strict(e.left) and _null_strict(e.right)
    if isinstance(e, A.ENeg):
        return _null_strict(e.inner)
    if isinstance(e, A.EFunc):
        return e.name in _NULL_STRICT_FUNCS and all(map(_null_strict, e.args))
    return False


def _contains_exists(e: A.Expr) -> bool:
    if isinstance(e, A.EExists):
        return True
    if isinstance(e, (A.EOr, A.EAnd, A.ECmp, A.EArith)):
        return _contains_exists(e.left) or _contains_exists(e.right)
    if isinstance(e, (A.ENot, A.ENeg)):
        return _contains_exists(e.inner)
    if isinstance(e, A.EIn):
        return _contains_exists(e.expr) or any(_contains_exists(o) for o in e.options)
    if isinstance(e, A.EFunc):
        return any(_contains_exists(a) for a in e.args)
    return False


def _with_deterministic_rid(df: DataFrame) -> DataFrame:
    """Append a deterministic row id: struct(xxhash64 over all columns,
    row_number within the hash group ordered by all columns).

    The matched∪anti OPTIONAL/MINUS forms evaluate the left subtree twice —
    once threaded through the right side, once for the anti branch — and the
    two evaluations must assign IDENTICAL ids. monotonically_increasing_id
    depends on partition layout, so round 1 pinned it with persist()+count(),
    an eager cache of a potentially fact-scale frame. This id is instead a
    pure function of row values plus a total order: duplicates of the same
    row get row_numbers 1..k (which duplicate gets which is arbitrary but
    harmless — they are identical); hash-colliding distinct rows are
    separated deterministically by the order-by over the actual values.
    Cost: one shuffle (the window), no materialization, scale-safe."""
    from pyspark.sql import Window

    cols = [F.col(c) for c in df.columns]
    h = F.xxhash64(*cols)
    w = Window.partitionBy(h).orderBy(*[c.asc_nulls_first() for c in cols])
    return df.withColumn(
        RID, F.struct(h.alias("h"), F.row_number().over(w).alias("r")))


@dataclass(frozen=True)
class VarMeta:
    #: 'term' (canonical string; a literal-capable binding also carries
    #: __dt/__lang companions, an IRI/blank-node-only one does not) |
    #: 'native'
    kind: str
    hint: str | None = None  # spark-ish type hint for native columns
    xsd: str | None = None  # statically-known datatype IRI, if any
    #: the variable is statically known to mix incompatible datatypes
    #: (reference raises InconsistentDatatype, hybrid/src/engine.rs:137-198)
    mixed: bool = False


@dataclass
class SolutionMapping:
    """A solution multiset: DataFrame + per-variable metadata.

    Mirrors the reference's Polars frame + column conventions
    (hybrid/src/combiner.rs), with datatype fidelity carried in ``<v>__dt``
    / ``<v>__lang`` companion columns instead of struct-typed cells. Only
    literal-capable term bindings carry companions (``dt_vars`` /
    ``lang_vars``): subject and predicate variables, and object variables
    whose predicate the catalog proves IRI/blank-node-only, are one plain
    value column.

    Every binary operator (join, OPTIONAL, VALUES, MINUS, [NOT] EXISTS,
    UNION) meets two mappings by one rule: _align casts a term binding
    meeting a native one to the native type; _join_keys compares a shared
    term variable by its term-identity key where either side carries
    companions or their static datatypes differ, by the plain value
    otherwise; _union merges the metadata of rows from both sides."""

    df: DataFrame
    vars: dict[str, VarMeta]
    dt_vars: set[str] = field(default_factory=set)
    lang_vars: set[str] = field(default_factory=set)
    ts_chains: dict[str, dict] = field(default_factory=dict)

    def meta(self, name: str) -> VarMeta | None:
        return self.vars.get(name)

    def dt_col(self, name: str) -> Column | None:
        return F.col(f"{name}__dt") if name in self.dt_vars else None

    def lang_col(self, name: str) -> Column | None:
        return F.col(f"{name}__lang") if name in self.lang_vars else None

    def aux_cols(self, name: str) -> list[str]:
        out = []
        if name in self.dt_vars:
            out.append(f"{name}__dt")
        if name in self.lang_vars:
            out.append(f"{name}__lang")
        return out


def _common_hint(a: str | None, b: str | None) -> str:
    if a == b and a is not None:
        return a
    if a in NUMERIC and b in NUMERIC:
        return "long" if (a in INTEGRAL and b in INTEGRAL) else "double"
    if "timestamp" in (a, b):
        return "timestamp"
    if a in NUMERIC or b in NUMERIC:
        return "double"
    return "string"


def _cast_var_to_native(sm: SolutionMapping, name: str, hint: str) -> SolutionMapping:
    df = sm.df.withColumn(name, F.col(name).try_cast(_spark_type(hint))) \
              .drop(*sm.aux_cols(name))
    vars2 = dict(sm.vars)
    vars2[name] = VarMeta("native", hint)
    return replace(sm, df=df, vars=vars2,
                   dt_vars=sm.dt_vars - {name}, lang_vars=sm.lang_vars - {name})


def _identity_vars(left: SolutionMapping, right: SolutionMapping,
                   shared: list[str]) -> list[str]:
    """Shared term variables that must join on term identity (value +
    effective datatype + effective language), not the plain value: a
    __dt/__lang companion on either side, or sides that disagree on a
    statically-known datatype. Two sides without companions and with one
    static datatype join on the plain value."""
    return [v for v in shared
            if left.vars[v].kind == "term" and right.vars[v].kind == "term"
            and (v in left.dt_vars or v in right.dt_vars
                 or v in left.lang_vars or v in right.lang_vars
                 or left.vars[v].xsd != right.vars[v].xsd)]


def _effective_dt(sm: SolutionMapping, v: str) -> Column:
    """A term variable's datatype: its companion, else its static one
    (none for subjects and IRI-only objects)."""
    return (F.col(f"{v}__dt") if v in sm.dt_vars
            else F.lit(sm.vars[v].xsd).cast("string"))


def _effective_lang(sm: SolutionMapping, v: str) -> Column:
    return (F.col(f"{v}__lang") if v in sm.lang_vars
            else F.lit(None).cast("string"))


def _sql_str(s: str | None) -> str:
    """A Spark SQL string literal (NULL for None)."""
    if s is None:
        return "CAST(NULL AS STRING)"
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _term_key_sql(sm: SolutionMapping, v: str, rel: str = "") -> str:
    """The term-identity key of ``v`` as Spark SQL over the columns of
    relation ``rel`` (none: unqualified): value, datatype (its companion,
    else its static one) and language, joined by ``char(1)``."""
    def col(name: str) -> str:
        return f"{rel}`{name}`"

    dt = col(f"{v}__dt") if v in sm.dt_vars else _sql_str(sm.vars[v].xsd)
    lang = col(f"{v}__lang") if v in sm.lang_vars else _sql_str(None)
    return (f"concat(CAST({col(v)} AS STRING), char(1), coalesce({dt}, ''), "
            f"char(1), coalesce({lang}, ''))")


def _term_key(sm: SolutionMapping, v: str) -> Column:
    """The term-identity key of ``v`` (_term_key_sql) as a column."""
    return F.expr(_term_key_sql(sm, v))


def _align(left: SolutionMapping, right: SolutionMapping, shared: list[str]
           ) -> tuple[SolutionMapping, SolutionMapping]:
    """The one type-alignment rule of every binary operator (join,
    OPTIONAL, VALUES, MINUS, [NOT] EXISTS, UNION) over the ``shared``
    variables: a native binding meeting a term binding casts the term
    side to the native hint (a computed value meets a graph term on its
    lexical form), and two native bindings of different hints both cast
    to their common hint. Two term bindings are left to _join_keys."""
    for v in shared:
        lm, rm = left.vars[v], right.vars[v]
        if lm.kind == "native" and rm.kind == "term":
            right = _cast_var_to_native(right, v, lm.hint or "string")
        elif lm.kind == "term" and rm.kind == "native":
            left = _cast_var_to_native(left, v, rm.hint or "string")
        elif lm.kind == "native" and lm.hint != rm.hint:
            h = _common_hint(lm.hint, rm.hint)
            left = _cast_var_to_native(left, v, h)
            right = _cast_var_to_native(right, v, h)
    return left, right


def _join_keys(left: SolutionMapping, right: SolutionMapping,
               shared: list[str]) -> tuple[DataFrame, DataFrame, list[str]]:
    """The one term-matching rule of every join, OPTIONAL, VALUES join,
    MINUS and [NOT] EXISTS, over ``shared`` variables already _align-ed:
    a variable _identity_vars names compares its term-identity key, added
    to both frames as ``__tk_<v>``; any other compares its plain value
    column. Returns both frames with the keys added, and the key names;
    a null value gives a null key, which matches nothing."""
    ident = _identity_vars(left, right, shared)
    if not ident:
        return left.df, right.df, list(shared)
    return (left.df.select("*", *[_term_key(left, v).alias(f"__tk_{v}")
                                  for v in ident]),
            right.df.select("*", *[_term_key(right, v).alias(f"__tk_{v}")
                                   for v in ident]),
            [f"__tk_{v}" if v in ident else v for v in shared])


def _union(a: SolutionMapping, b: SolutionMapping) -> SolutionMapping:
    """The one union of two solution multisets (UNION, GRAPH ?g over the
    named graphs, OPTIONAL's matched and unmatched rows): _align the
    shared variables, union by column name and merge the metadata, ``a``'s
    first. Rows come from both sides, so a shared term variable whose
    sides know different datatypes is mixed, and one side not knowing
    makes it unknown."""
    shared = [v for v in a.vars if v in b.vars]
    a, b = _align(a, b, shared)
    vars2 = {**b.vars, **a.vars}
    for v in shared:
        am, bm = a.vars[v], b.vars[v]
        if am.kind == "term" and bm.kind == "term":
            if am.mixed or bm.mixed or (am.xsd and bm.xsd and am.xsd != bm.xsd):
                vars2[v] = VarMeta("term", mixed=True)
            elif am.xsd != bm.xsd:
                vars2[v] = VarMeta("term")
    return SolutionMapping(a.df.unionByName(b.df, allowMissingColumns=True),
                           vars2, a.dt_vars | b.dt_vars,
                           a.lang_vars | b.lang_vars,
                           {**b.ts_chains, **a.ts_chains})


#: a triple's object as a property-path node, in Spark SQL over the
#: graph's columns: an IRI or blank node is its value, a literal its lexical
#: form, datatype and language joined by char(1), so path steps meet only
#: equal terms (_decoded_sql decodes it)
_NODE_SQL = ("coalesce(o_iri, concat(o_lex, char(1), coalesce(o_dt, ''), "
             "char(1), coalesce(o_lang, '')))")


def _decoded_sql(node: str, end: str) -> str:
    """A path node column (_NODE_SQL) decoded into the graph's object
    shape: Spark SQL columns ``<end>_iri``, ``_lex``, ``_dt`` and ``_lang``."""
    lit = f"instr({node}, char(1)) > 0"

    def part(i: int) -> str:
        return f"split_part({node}, char(1), {i})"

    return (f"if({lit}, NULL, {node}) AS {end}_iri, "
            f"if({lit}, {part(1)}, NULL) AS {end}_lex, "
            f"if({lit}, nullif({part(2)}, ''), NULL) AS {end}_dt, "
            f"if({lit}, nullif({part(3)}, ''), NULL) AS {end}_lang")


def _sql_lit(s: str | None) -> str:
    """_sql_str inside a statement whose braces are table placeholders."""
    return _sql_str(s).replace("{", "{{").replace("}", "}}")


def _path_iris(path) -> set[str] | None:
    """The predicates whose objects a property path can bind; None when
    it can bind any node: a negated property set traverses any predicate,
    and a zero-length step (``*``, ``?``) pairs every node, a literal or a
    constant outside the graph included, with itself."""
    if isinstance(path, A.PathPredicate):
        return {path.iri.value}
    if isinstance(path, (A.PathNegatedPropertySet, A.PathZeroOrMore,
                         A.PathZeroOrOne)):
        return None
    out: set[str] = set()
    for part in getattr(path, "parts", None) or (path.inner,):
        sub = _path_iris(part)
        if sub is None:
            return None
        out |= sub
    return out


def _spark_type(hint: str) -> str:
    return {
        "long": "long", "int": "int", "double": "double", "float": "float",
        "bool": "boolean", "string": "string", "timestamp": "timestamp",
        "date": "date", "iri": "string",
    }.get(hint, "string")


class Compiler:
    def __init__(self, spark: SparkSession, graph_df: DataFrame, ts_tables: list | None = None,
                 pred_datatypes=None, services: dict | None = None,
                 named_graphs: dict | None = None, http_post=None, vp=None):
        self.http_post = http_post
        self.spark = spark
        self.graph_df = graph_df
        #: optional callable returning one constant predicate's triples
        #: (GraphStore.vp); None filters graph_df instead
        self._vp = vp
        self.ts_tables = ts_tables or []
        self._counter = itertools.count()
        #: stack of the hints each enclosing FILTER (or OPTIONAL
        #: condition) publishes to the patterns inside it: ``(bounds,
        #: conjuncts)`` — timestamp bounds (var -> (lower, upper)
        #: datetimes) for the chains' remote fetch (_ts_relation_for_join)
        #: and comparison conjuncts for a BGP's static side
        #: (_restrict_static_side); ``None`` entries are scope BARRIERS
        #: (MINUS right sides, EXISTS inners, subselects) past which outer
        #: hints must not leak
        self._filter_scopes: list[tuple[dict, list] | None] = []
        #: active grouped-pushdown specs (innermost last) — published by
        #: compile_group when its static analysis proves the GROUP BY can
        #: aggregate remotely, fired by compile_bgp (_grouped_pushdown)
        self._group_pushdown_stack: list[dict] = []
        #: endpoint IRI -> GraphStore for SERVICE patterns (in-process
        #: federation; reference rewrites SERVICE to its static side,
        #: rewriting/graph_patterns/service_pattern.rs:1)
        self.services = services or {}
        #: graph IRI -> GraphStore for GRAPH patterns (named graphs)
        self.named_graphs = named_graphs or {}
        #: optional callable returning GraphStore.predicate_datatypes() — the
        #: per-predicate datatype catalog that lets _pattern_sql type object
        #: variables statically (no per-query dtype probe job in Engine)
        self._pred_datatypes = pred_datatypes

    def _object_meta(self, pred) -> VarMeta | None:
        """Static VarMeta for an object variable, using the graph's
        predicate→datatype catalog when the predicate is a constant and a
        catalog is available. Unknown catalog (no provider, variable
        predicate) → xsd None → Engine falls back to its datatype probe.
        None when the catalog proves the predicate's objects are IRIs or
        blank nodes only (``dt`` None, not mixed): the variable then binds
        like a subject variable, one value column without companions. A
        property path's object binds that way when every predicate it can
        traverse is so proven; any other path object carries companions
        with no static datatype."""
        if self._pred_datatypes is None or isinstance(pred, Variable):
            return VarMeta("term")
        if not isinstance(pred, IRI):
            iris = _path_iris(pred)
            cat = self._pred_datatypes()
            iri_only = iris is not None and all(
                cat.get(i) is None or (cat[i]["dt"] is None
                                       and not cat[i]["mixed"])
                for i in iris)
            return None if iri_only else VarMeta("term")
        info = self._pred_datatypes().get(pred.value)
        if info is None:  # predicate absent from graph: column will be empty
            return VarMeta("term", xsd=XSD_STRING)
        if info["mixed"]:
            return VarMeta("term", mixed=True)
        if info["dt"] is None:
            return None
        return VarMeta("term", xsd=info["dt"])

    # ------------------------------------------------------------------ util

    def fresh(self, hint: str) -> str:
        return f"__{hint}_{next(self._counter)}"

    @staticmethod
    def _harmonize_ts_union(dfs: list[DataFrame]) -> tuple[DataFrame, str]:
        """The tables' value columns unioned under one hint: a mix of
        numbers and booleans as double, a mix with a string column as
        string, so no value is lost."""
        hints = {{"long": "long", "bigint": "long", "int": "long", "smallint": "long",
                  "tinyint": "long", "double": "double", "float": "double",
                  "boolean": "bool", "string": "string"}.get(
                      df.schema["value"].dataType.simpleString(), "double")
                 for df in dfs}
        mixed = len(hints) > 1
        hint = ("string" if "string" in hints else "double") if mixed \
            else hints.pop()
        if mixed or hint == "long":
            dfs = [d.withColumn("value", F.col("value").cast(hint))
                   for d in dfs]
        return functools.reduce(DataFrame.unionByName, dfs), hint

    #: pushdown id-list cap (same bound-join discipline as
    #: SERVICE_BOUND_JOIN_MAX): above this many distinct external ids the
    #: IN-list is omitted from the remote query — an unconstrained fetch
    #: plus the Spark-side join stays correct, and the driver collect
    #: stays bounded. Also the most static-side rows compile_bgp inlines.
    TS_ID_PUSHDOWN_MAX = 1000

    def _filter_hints(self, expr: A.Expr | None) -> tuple[dict, list]:
        """The ``(bounds, conjuncts)`` entry a FILTER publishes on
        _filter_scopes. ``bounds``: (var -> (lower, upper)) timestamp
        bounds from the top-level conjunction — the piece of the filter a
        pushdown-capable TS backend (sources/flight.py) can execute
        remotely. Strict bounds are relaxed to inclusive (the remote WHERE
        only needs to be IMPLIED by the filter, which re-applies exactly
        afterwards); xsd:date literals widen to the day's [00:00, 24:00)
        superset. ``conjuncts``: the comparisons that are false or an
        error whenever one of their variables is unbound
        (_null_strict)."""
        if expr is None:
            return {}, []
        hints: dict[str, tuple] = {}
        conjuncts = []
        for c in _conjuncts(expr):
            if (isinstance(c, A.ECmp) and _null_strict(c.left)
                    and _null_strict(c.right)) or (
                    isinstance(c, A.EIn) and _null_strict(c.expr)
                    and all(_null_strict(o) for o in c.options)):
                conjuncts.append(c)
            b = _datetime_bound(c)
            if b is None:
                continue
            var, op, lo_v, datatype = b
            hi_v = lo_v + _dt.timedelta(days=1) \
                if datatype == XSD_DATE else lo_v
            lo, hi = hints.get(var, (None, None))
            if op in (">", ">=", "="):
                lo = lo_v if lo is None else max(lo, lo_v)
            if op in ("<", "<=", "="):
                hi = hi_v if hi is None else min(hi, hi_v)
            hints[var] = (lo, hi)
        return hints, conjuncts

    def _lookup_ts_bounds(self, var: str) -> tuple:
        """Intersect the bounds every enclosing FILTER scope has published
        for ``var``, stopping at the first scope barrier (None)."""
        lo = hi = None
        for entry in reversed(self._filter_scopes):
            if entry is None:
                break
            b = entry[0].get(var)
            if b is None:
                continue
            elo, ehi = b
            if elo is not None:
                lo = elo if lo is None else max(lo, elo)
            if ehi is not None:
                hi = ehi if hi is None else min(hi, ehi)
        return lo, hi

    def _ts_relation_for_join(self, tj: dict) -> tuple[DataFrame, str]:
        """The (id, timestamp, value) point relation for ONE ts join: the
        union of every registered table (one logical store, like the
        reference's single TimeSeriesQueryable backend), each applying
        the composed restriction itself — bounded external-id IN-list
        from the static side, timestamp bounds from enclosing FILTERs,
        literal value/time equality from the chain (reference
        timeseries_sql_rewrite.rs:115-205 / arrow_flight_sql_database.rs
        :121-230 parity). Every constraint is re-applied Spark-side
        afterwards, so the restriction only has to be implied by the
        query; a table with nothing to restrict loads unchanged."""
        if not self.ts_tables:
            raise ValueError("query touches time-series data but no TimeSeriesTable registered")

        # a chain's first timestamp term and first value literal restrict
        # it; further terms only narrow the rows, Spark-side
        ts_lower = ts_upper = value_eq = None
        t_term = tj["t"][0] if tj["t"] else None
        v_lit = next((x for x in tj["v"] if isinstance(x, Literal)), None)
        if isinstance(t_term, Variable):
            ts_lower, ts_upper = self._lookup_ts_bounds(t_term.name)
        elif isinstance(t_term, Literal):
            ts_lower = ts_upper = _utc_naive(t_term.lexical)
        if v_lit is not None:
            value_eq = _pushdown_value_literal(v_lit)

        # the reference's bound join: distinct external ids from the static
        # side (compile_bgp); None when the chain's own set overflows
        return self._harmonize_ts_union([
            t.restricted_normalized(self.spark, ids=tj["probed_ids"],
                                    ts_lower=ts_lower, ts_upper=ts_upper,
                                    value_eq=value_eq)
            for t in self.ts_tables])

    def _analyze_group_pushdown(self, p: A.Group,
                                input: SolutionMapping | None) -> dict | None:
        """Static eligibility proof for the reference's GROUP BY pushdown
        (preparing/graph_patterns/group_pattern.rs:18-105 — a Group whose
        inner resolves to exactly ONE time-series query is handed to the
        remote store; SQL parity target timeseries_sql_rewrite.rs:470-560
        create_grouped_query). Spark-first restructuring: instead of
        translating the SPARQL aggregate list into remote SQL verbatim,
        the store aggregates PARTIALS — COUNT/SUM/MIN/MAX per (series id,
        time granule) — and the ordinary Spark GROUP BY re-aggregates
        them (sum of sums, min of mins, sum/count for AVG). The granule
        is chosen to REFINE every timestamp-derived grouping key, so the
        result is exact regardless of remote expression semantics.
        (For float SUM/AVG, "exact" means the same multiset of addends —
        the fold ORDER differs, exactly as it already does between any
        two shuffle layouts of the plain Spark aggregation.)

        Conditions (each one guarantees partial rows behave exactly like
        point rows under the rest of the plan):
        - inner tree contains only BGP/Filter/Extend/Join nodes;
        - one hasDataPoint chain, or several synchronized on ONE shared
          timestamp variable (the reference's InnerSynchronized shape,
          preparing/synchronization.rs:5-55); per chain exactly one
          hasDataPoint and hasTimestamp and at most one hasValue, terms
          all variables, none of dp/t/v reused anywhere else or
          pre-bound by ``input``;
        - every BIND is EXISTS-free and value-free, and any reference to
          the timestamp goes through granule-respecting accessors
          (_collect_time_accessors);
        - every FILTER conjunct that touches the timestamp is either a
          direct t-vs-dateTime-literal bound (rendered into the remote
          WHERE with EXACT strictness) or granule-constant;
        - group keys never name t/v/dp directly;
        - every aggregate is non-DISTINCT COUNT(*) or
          COUNT/SUM/AVG/MIN/MAX over the bare value variable.

        Returns the mutable spec ``{t, granule, ts_lower, ts_upper,
        cnt_col, chains: {dp: {v, needs, cols}}, fired}`` that compile_bgp
        fires through _grouped_pushdown (which still decides per backend
        and may decline), or None — in which case the compiled plan is
        identical to the non-pushdown one."""
        if not any(t.supports_pushdown for t in self.ts_tables):
            return None

        triples: list[A.TriplePattern] = []
        extends: list[tuple[str, A.Expr]] = []
        filters: list[A.Expr] = []

        def walk(node) -> bool:
            if isinstance(node, A.BGP):
                triples.extend(node.patterns)
                return True
            if isinstance(node, A.Filter):
                filters.append(node.expr)
                return walk(node.inner)
            if isinstance(node, A.Extend):
                extends.append((node.var, node.expr))
                return walk(node.inner)
            if isinstance(node, A.Join):
                return walk(node.left) and walk(node.right)
            return False

        if not walk(p.inner):
            return None

        chains, rest = _classify_chains(triples)
        if not chains:
            return None
        # per-chain validation: exactly one ts_var/t each, at most one v,
        # all terms variables; a value-less chain (hasDataPoint +
        # hasTimestamp only) is still groupable for COUNT(*)-shaped
        # queries
        chain_list: list[tuple[str, str, str | None]] = []  # (dp, t, v)
        for dp, info in chains.items():
            if any(len(v) != 1 for v in info.values()) or not (
                    {"ts_var", "t"} <= set(info) <= {"ts_var", "t", "v"}):
                return None
            t_term = info["t"][0]
            v_term = info["v"][0] if "v" in info else None
            if not isinstance(t_term, Variable):
                return None
            if v_term is not None and not isinstance(v_term, Variable):
                return None
            chain_list.append((dp, t_term.name,
                               v_term.name if v_term is not None else None))

        # several chains are groupable only as a SYNCHRONIZED join on
        # one timestamp variable
        if len({t for _, t, _ in chain_list}) != 1:
            return None
        tname = chain_list[0][1]
        vnames = [v for _, _, v in chain_list if v is not None]
        dps = [dp for dp, _, _ in chain_list]
        special = set(dps) | {tname} | set(vnames)
        if len(special) != len(dps) + 1 + len(vnames):
            return None
        for dp, info in chains.items():
            ts_var = info["ts_var"][0]
            if isinstance(ts_var, Variable) and ts_var.name in special:
                return None
        if input is not None and (special & set(input.vars)
                                  or set(dps) & set(input.ts_chains)):
            return None
        vname_set = set(vnames)
        for tp in rest:
            terms = [tp.s, tp.o] + ([tp.p] if isinstance(tp.p, Variable)
                                    else [])
            if any(isinstance(x, Variable) and x.name in special
                   for x in terms):
                return None

        acc: set = set()
        derived: dict[str, A.Expr] = {}
        derived_acc: dict[str, set] = {}
        for var, expr in reversed(extends):  # innermost definition first
            if _contains_exists(expr) or var in special:
                return None
            sub = _expr_substitute(expr, derived)
            used = A.expr_variables(sub)
            if used & vname_set or used & set(dps):
                return None
            if tname in used:
                # validate now, but fold the accessors into the granule
                # only if the var is actually USED as a group key or in
                # a filter — an intermediate BIND (?secs feeding the
                # bucket) must not force a finer granule than its
                # consumers need
                var_acc: set = set()
                if not _collect_time_accessors(sub, tname, var_acc):
                    return None
                derived[var] = sub
                derived_acc[var] = var_acc

        ts_lo = ts_hi = None  # (datetime, strict)

        def tighten(lo: bool, val, strict: bool):
            nonlocal ts_lo, ts_hi
            cur = ts_lo if lo else ts_hi
            better = (cur is None
                      or (val > cur[0] if lo else val < cur[0])
                      or (val == cur[0] and strict and not cur[1]))
            if better:
                if lo:
                    ts_lo = (val, strict)
                else:
                    ts_hi = (val, strict)

        def parse_bound(c) -> bool:
            b = _datetime_bound(c)
            if b is None:
                return False
            var, op, dtv, datatype = b
            if var != tname or datatype != XSD_DATETIME \
                    or op not in ("<", "<=", ">", ">=", "="):
                return False
            if op in (">", ">=", "="):
                tighten(True, dtv, op == ">")
            if op in ("<", "<=", "="):
                tighten(False, dtv, op == "<")
            return True

        for fexpr in filters:
            if _contains_exists(fexpr):
                return None
            sub = _expr_substitute(fexpr, derived)
            used = A.expr_variables(sub)
            if used & vname_set or used & set(dps):
                return None
            if tname not in used:
                continue
            for c in _conjuncts(sub):
                if tname not in A.expr_variables(c):
                    continue
                if parse_bound(c):
                    continue
                if not _collect_time_accessors(c, tname, acc):
                    return None

        if any(v in special for v in p.by):
            return None
        for v in p.by:
            acc |= derived_acc.get(v, set())
        agg_needs = {"COUNT": {"n"}, "SUM": {"sum"}, "AVG": {"sum", "n"},
                     "MIN": {"min"}, "MAX": {"max"}}
        chain_needs: dict[str, set] = {v: set() for v in vnames}
        for a in p.aggregates:
            if a.distinct:
                return None
            if a.name == "COUNT" and a.expr is None:
                continue
            if a.name in agg_needs and isinstance(a.expr, A.EVar) \
                    and a.expr.name in chain_needs:
                chain_needs[a.expr.name] |= agg_needs[a.name]
                continue
            return None

        return {
            "t": tname,
            "granule": _resolve_granule(acc),
            "ts_lower": ts_lo, "ts_upper": ts_hi,
            "cnt_col": self.fresh("gp_cnt"),
            "chains": {dp: {
                "v": v,
                "needs": set(chain_needs.get(v, ())),
                "cols": {k: self.fresh(f"gp_{k}")
                         for k in ("n", "sum", "min", "max")},
            } for dp, _, v in chain_list},
            "fired": False,
        }

    def _partial_reagg(self, a: A.EAggregate, sm: SolutionMapping,
                       spec: dict) -> tuple[Column, VarMeta]:
        """Final aggregation over remote partials — the Spark half of the
        grouped pushdown. _analyze_group_pushdown guarantees only these
        shapes reach here; metas mirror _compile_aggregate's exactly so
        downstream projection/typing can't tell the paths apart."""
        if a.expr is None:  # COUNT(*)
            return F.sum(F.col(spec["cnt_col"])).cast("long"), \
                VarMeta("native", "long")
        c = next(ch["cols"] for ch in spec["chains"].values()
                 if ch["v"] == a.expr.name)
        val_hint = sm.vars[c["sum"]].hint
        if a.name == "COUNT":
            return F.sum(F.col(c["n"])).cast("long"), VarMeta("native", "long")
        if a.name == "SUM":
            return F.sum(F.col(c["sum"])), VarMeta("native", val_hint)
        if a.name == "AVG":
            n = F.sum(F.col(c["n"]))
            return F.when(n > 0, F.sum(F.col(c["sum"]).cast("double")) / n), \
                VarMeta("native", "double")
        if a.name == "MIN":
            return F.min(F.col(c["min"])), VarMeta("native", val_hint)
        if a.name == "MAX":
            return F.max(F.col(c["max"])), VarMeta("native", val_hint)
        raise AssertionError(f"unexpected pushdown aggregate {a.name}")

    # --------------------------------------------------------------- joining

    def join_solutions(self, left: SolutionMapping, right: SolutionMapping,
                       how: str = "inner") -> SolutionMapping:
        shared = [v for v in left.vars if v in right.vars]
        left, right = _align(left, right, shared)
        # TERM-identity join keys: joining on the canonical string alone
        # would conflate distinct RDF terms with one lexical form
        # ("1"^^xsd:integer vs "1"^^xsd:string, "x"@en vs "x"@fr, <x> vs
        # "x")
        ldf, rdf, keys = _join_keys(left, right, shared)
        ident = [v for v, k in zip(shared, keys) if k != v]
        # right's value column of a term-keyed variable is a function of
        # the key — drop it so the named join doesn't duplicate it (left's
        # copy survives)
        rdf = rdf.drop(*ident)
        # drop right-side aux duplicates for shared term vars (values agree on
        # matched rows) and right-side aux of vars the left binds without
        # companions (a matched right row is then an IRI: null aux), and
        # resolve any other duplicate non-var columns
        for v in shared:
            plain = (left.vars[v].kind == "term" and left.vars[v].xsd is None
                     and not left.aux_cols(v))
            for aux in right.aux_cols(v):
                if plain or aux in ldf.columns:
                    rdf = rdf.drop(aux)
        rdf = rdf.drop(*[c for c in rdf.columns
                         if c in ldf.columns and c not in keys])
        if shared:
            df = ldf.join(rdf, on=keys, how=how)
            if ident:
                df = df.drop(*[f"__tk_{v}" for v in ident])
        else:  # a left join without keys is a cross join for our uses
            df = left.df.crossJoin(rdf)
        dt = set(left.dt_vars) | {v for v in right.dt_vars if f"{v}__dt" in df.columns}
        lang = set(left.lang_vars) | {v for v in right.lang_vars if f"{v}__lang" in df.columns}
        return SolutionMapping(df, {**right.vars, **left.vars}, dt, lang,
                               {**left.ts_chains, **right.ts_chains})

    def _join_values(self, left: SolutionMapping, vsm: SolutionMapping,
                     undef: set[str]) -> SolutionMapping:
        """Join outer solutions with an inline VALUES relation under SPARQL
        COMPATIBILITY semantics: an UNDEF cell is compatible with any
        binding (SPARQL 1.1 §10.2), so rows with UNDEF cannot go through
        the plain equi-join (NULL = x filters them out). When no shared
        column holds UNDEF (``undef`` names the columns that do, read
        from the VALUES rows) the plain equi-join is used; otherwise the
        (tiny, inline) VALUES side is broadcast into a theta join whose
        predicate is `undef OR equal` per shared var, and the result
        binding takes whichever side is bound."""
        shared = [v for v in left.vars if v in vsm.vars]
        if not undef & set(shared):
            return self.join_solutions(left, vsm)
        # UNDEF markers must be captured on the ORIGINAL frame: after
        # _align a try_cast failure ("abc" -> double) also yields NULL,
        # and treating that as a wildcard would make an incompatible
        # VALUES cell match every outer row.
        vsm = replace(vsm, df=vsm.df.select(
            "*", *[F.col(v).isNull().alias(f"__u_{v}") for v in shared]))
        left, vsm = _align(left, vsm, shared)
        ldf, rdf, keys = _join_keys(left, vsm, shared)
        ident = [v for v, k in zip(shared, keys) if k != v]
        # the VALUES side's shared bindings move under __v* names: the
        # value and its companions (only term-identity vars carry
        # companions after alignment)
        moved = set(shared) | {a for v in shared for a in vsm.aux_cols(v)}
        rdf = rdf.select(
            *[c for c in rdf.columns if c not in moved],
            *[F.col(v).alias(f"__v_{v}") for v in shared],
            *[c for v in ident for c in (
                _effective_dt(vsm, v).alias(f"__vdt_{v}"),
                _effective_lang(vsm, v).alias(f"__vlang_{v}"))])
        cond = F.lit(True)
        for v, k in zip(shared, keys):
            eq = (F.col(f"__l.{k}") == F.col(f"__r.{k}") if v in ident
                  else F.col(v) == F.col(f"__v_{v}"))
            cond = cond & (F.col(f"__u_{v}") | F.col(v).isNull() | eq)
        df = ldf.alias("__l").join(F.broadcast(rdf).alias("__r"), cond, "inner")
        vars2 = dict(left.vars)
        dt_vars = left.dt_vars | (vsm.dt_vars - set(shared))
        lang_vars = left.lang_vars | (vsm.lang_vars - set(shared))
        for v in ident:
            # a left-unbound row takes the VALUES term, datatype included
            unbound = F.col(v).isNull()
            df = df.withColumns({
                f"{v}__dt": F.when(unbound, F.col(f"__vdt_{v}"))
                             .otherwise(_effective_dt(left, v)),
                f"{v}__lang": F.when(unbound, F.col(f"__vlang_{v}"))
                               .otherwise(_effective_lang(left, v))})
            dt_vars.add(v)
            lang_vars.add(v)
            if left.vars[v].xsd != vsm.vars[v].xsd:
                vars2[v] = replace(left.vars[v], xsd=None)
        for v in shared:
            df = df.withColumn(v, F.coalesce(F.col(v), F.col(f"__v_{v}"))) \
                   .drop(*[f"{pre}_{v}" for pre in (
                       "__v", "__u", "__tk", "__vdt", "__vlang")])
        for v, m in vsm.vars.items():
            if v not in vars2:
                vars2[v] = m
        return SolutionMapping(df, vars2, dt_vars, lang_vars,
                               dict(left.ts_chains))

    # --------------------------------------------------------------- compile

    def compile_query(self, q: A.SelectQuery) -> SolutionMapping:
        return self.compile_pattern(q.pattern, None)

    def compile_pattern(self, p: A.GraphPattern, input: SolutionMapping | None) -> SolutionMapping:
        if isinstance(p, A.BGP):
            return self.compile_bgp(p, input)
        if isinstance(p, A.Join):
            left = self.compile_pattern(p.left, input)
            return self.compile_pattern(p.right, left)
        if isinstance(p, A.Filter):
            # Publish this FILTER's timestamp bounds to TS-chain lowering
            # inside `inner` (a pushdown-capable backend renders them into
            # its remote query) and its comparisons to the static sides of
            # the BGPs inside it. Sound because the filter re-applies every
            # constraint afterwards — rows withheld early are exactly rows
            # the filter would drop (or, through OPTIONAL, rows whose
            # variable arrives unbound and fails the comparison).
            self._filter_scopes.append(self._filter_hints(p.expr))
            try:
                sm = self.compile_pattern(p.inner, input)
            finally:
                self._filter_scopes.pop()
            return self.apply_filter(sm, p.expr)
        if isinstance(p, A.Extend):
            sm = self.compile_pattern(p.inner, input)
            return self.apply_extend(sm, p.var, p.expr)
        if isinstance(p, A.LeftJoin):
            return self.compile_leftjoin(p, input)
        if isinstance(p, A.Minus):
            return self.compile_minus(p, input)
        if isinstance(p, A.Union):
            return _union(self.compile_pattern(p.left, input),
                          self.compile_pattern(p.right, input))
        if isinstance(p, A.Values):
            vsm = self.compile_values(p)
            if input is None:
                return vsm
            undef = {v for i, v in enumerate(p.variables)
                     if any(row[i] is None for row in p.rows)}
            return self._join_values(input, vsm, undef)
        if isinstance(p, A.Group):
            return self.compile_group(p, input)
        if isinstance(p, A.OrderBy):
            sm = self.compile_pattern(p.inner, input)
            return self.apply_order(sm, p.keys)
        if isinstance(p, A.Project):
            # barrier: a subselect's variables are a fresh scope — an outer
            # FILTER's bound on ?t must not restrict an inner chain whose
            # t-var merely shares the name
            self._filter_scopes.append(None)
            try:
                sm = self.compile_pattern(p.inner, None)
            finally:
                self._filter_scopes.pop()
            sm = self.apply_project(sm, p.variables)
            return self.join_solutions(input, sm) if input is not None else sm
        if isinstance(p, (A.Distinct, A.Reduced)):
            sm = self.compile_pattern(p.inner, input)
            return replace(sm, df=sm.df.dropDuplicates(
                self._term_identity_cols(sm)))
        if isinstance(p, A.Slice):
            sm = self.compile_pattern(p.inner, input)
            df = sm.df
            if p.offset:
                df = df.offset(p.offset)
            if p.limit is not None:
                df = df.limit(p.limit)
            return replace(sm, df=df)
        if isinstance(p, A.Service):
            return self.compile_service(p, input)
        if isinstance(p, A.Graph):
            return self.compile_graph(p, input)
        raise NotImplementedError(f"pattern {type(p).__name__}")

    @staticmethod
    def _term_identity_cols(sm: SolutionMapping) -> list[str]:
        """Columns defining RDF TERM identity for DISTINCT/REDUCED: the
        canonical value plus any __dt/__lang companions — deduping on the
        value alone collapsed "1"^^xsd:integer with "1"^^xsd:string and
        "x"@en with "x"@fr (distinct terms, same lexical)."""
        return [c for v in sm.vars for c in (v, *sm.aux_cols(v))
                if c in sm.df.columns]

    def compile_graph(self, p: A.Graph, input: SolutionMapping | None) -> SolutionMapping:
        """GRAPH <iri> {...}: evaluate against that registered named graph.
        GRAPH ?g {...}: union over every registered named graph, ?g bound to
        the graph name per branch — one Catalyst plan, per-graph scans
        pruned like any other union branch."""
        def against(store) -> SolutionMapping:
            with self._store(store):
                return self.compile_pattern(p.inner, None)

        if isinstance(p.term, IRI):
            store = self.named_graphs.get(p.term.value)
            if store is None:
                raise ValueError(
                    f"named graph <{p.term.value}> is not registered: attach "
                    "it with Engine.register_named_graph(iri, store)")
            sm = against(store)
        else:
            if not self.named_graphs:
                raise ValueError(
                    "GRAPH ?var requires registered named graphs "
                    "(Engine.register_named_graph)")
            sm = None
            gvar = p.term.name
            for iri, store in sorted(self.named_graphs.items()):
                branch = against(store)
                if gvar in branch.vars:
                    # GRAPH ?g { ... ?g ... }: the graph variable is also
                    # bound inside the pattern — constrain the inner binding
                    # to this graph's IRI instead of overwriting it.
                    m = branch.vars[gvar]
                    c = F.col(gvar)
                    if m.kind == "term":
                        cond = (c == iri) & ~c.startswith("_:")
                        dtc = branch.dt_col(gvar)
                        if dtc is not None:
                            cond = cond & dtc.isNull()
                        branch = replace(branch, df=branch.df.filter(cond))
                    elif m.hint == "iri":
                        branch = replace(
                            branch,
                            df=branch.df.filter(c.cast("string") == iri))
                    else:  # a non-IRI native value can never equal a graph IRI
                        branch = replace(branch,
                                         df=branch.df.filter(F.lit(False)))
                else:
                    branch = replace(
                        branch,
                        df=branch.df.withColumn(gvar, F.lit(iri)),
                        vars={**branch.vars, gvar: VarMeta("native", "iri")})
                sm = branch if sm is None else _union(sm, branch)
        return self.join_solutions(input, sm) if input is not None else sm

    def compile_service(self, p: A.Service, input: SolutionMapping | None) -> SolutionMapping:
        """SERVICE <iri> {...}: compile the inner pattern against the
        registered GraphStore for that endpoint and join with the outer
        solutions — one unified Catalyst plan spanning both graphs, so
        cross-graph join ordering/broadcast is optimized like any other
        join. SILENT + unavailable endpoint degrades to the identity
        solution (SPARQL 1.1 Federated Query §2.3)."""
        store = self.services.get(p.endpoint.value)
        if store is None:
            url = p.endpoint.value
            if url.startswith(("http://", "https://")) and p.raw:
                try:
                    sm = self._remote_service_solutions(p, input)
                except Exception:
                    if not p.silent:
                        raise
                    return input if input is not None else SolutionMapping(
                        self.spark.range(1).select(), {})
                return (self.join_solutions(input, sm)
                        if input is not None else sm)
            if p.silent:
                return input if input is not None else SolutionMapping(
                    self.spark.range(1).select(), {})
            raise ValueError(
                f"SERVICE endpoint <{p.endpoint.value}> is not registered "
                "and is not an http(s) URL: attach a GraphStore via "
                "Engine.register_service(iri, store), or use an http(s) "
                "endpoint IRI for live dispatch.")
        with self._store(store):
            sm = self.compile_pattern(p.inner, None)
        return self.join_solutions(input, sm) if input is not None else sm

    @contextmanager
    def _store(self, store):
        """Compile the block against ``store`` (a GRAPH or SERVICE graph):
        its triples, catalog and per-predicate relations."""
        saved = (self.graph_df, self._pred_datatypes, self._vp)
        self.graph_df = store.df
        self._pred_datatypes = store.predicate_datatypes
        self._vp = store.vp
        try:
            yield
        finally:
            self.graph_df, self._pred_datatypes, self._vp = saved

    #: bound-join cap: above this many distinct outer bindings the VALUES
    #: block is omitted (unconstrained pull + local join stays correct)
    SERVICE_BOUND_JOIN_MAX = 500

    def _service_values_block(self, p: "A.Service",
                              input: SolutionMapping | None) -> str:
        """FedX-style bound join: serialize the outer solutions' DISTINCT
        bindings for variables shared with the service pattern into a
        ``VALUES`` block, so the remote endpoint evaluates the group only
        for rows that can actually join — instead of shipping its full
        pattern extension. Sound as a PRE-filter: the local join afterwards
        re-checks every binding, so partial serialization (a subset of the
        shared vars, or skipping entirely past the cap) never changes
        results, only how much travels. Blank nodes are scoped per store
        and therefore unserializable — any bnode binding disables the
        optimization for that variable."""
        if input is None or not p.raw:
            return ""
        shared = [v for v in sorted(A.pattern_variables(p.inner))
                  if v in input.vars]
        if not shared:
            return ""

        cols, names = [], []
        for v in shared:
            meta = input.vars[v]
            if meta.kind == "term":
                cols.append(F.col(v))
                cols.append(F.col(f"{v}__dt") if v in input.dt_vars
                            else F.lit(None).cast("string"))
                cols.append(F.col(f"{v}__lang") if v in input.lang_vars
                            else F.lit(None).cast("string"))
                names.append(v)
            elif meta.xsd:  # native column with a statically-known datatype
                # type-aware lexical forms: a bare cast("string") of a
                # timestamp yields "2024-01-01 00:00:00" (space separator),
                # which is NOT valid xsd:dateTime and would make the remote
                # endpoint reject the query or match nothing
                dtype = input.df.schema[v].dataType
                if isinstance(dtype, T.TimestampType):
                    cols.append(F.date_format(
                        F.col(v), "yyyy-MM-dd'T'HH:mm:ss.SSS"))
                elif isinstance(dtype, T.DateType):
                    cols.append(F.date_format(F.col(v), "yyyy-MM-dd"))
                else:
                    cols.append(F.col(v).cast("string"))
                cols.append(F.lit(meta.xsd))
                cols.append(F.lit(None).cast("string"))
                names.append(v)
        if not names:
            return ""
        cap = self.SERVICE_BOUND_JOIN_MAX
        with job_description(self.spark, "otit:service-values"):
            rows = input.df.select(*cols).distinct().limit(cap + 1).collect()
        if len(rows) > cap:
            return ""
        tuples = []
        for r in rows:
            terms = []
            for i in range(len(names)):
                if r[3 * i] is None:
                    terms.append("UNDEF")
                    continue
                term = solution_term(*r[3 * i:3 * i + 3])
                if isinstance(term, BlankNode):
                    return ""  # bnodes cannot cross a service boundary
                terms.append(term.ntriples())
            tuples.append("(" + " ".join(terms) + ")")
        head = " ".join(f"?{v}" for v in names)
        return f"VALUES ({head}) {{ {' '.join(tuples)} }}\n"

    def _remote_service_solutions(self, p: A.Service,
                                  input: SolutionMapping | None = None,
                                  ) -> SolutionMapping:
        """Execute SERVICE against a live http(s) endpoint: the braced group
        is pushed verbatim as a generated sub-SELECT (reference pushes the
        service pattern whole, rewriting/graph_patterns/service_pattern.rs:1)
        so filters/joins inside the group run remotely; only the resulting
        bindings travel. When outer solutions share variables with the
        group, their distinct bindings are pushed too as a VALUES block
        (bound join — see _service_values_block). The SPARQL-JSON solutions
        land as a term-kind SolutionMapping (value + __dt/__lang
        companions) and join in-plan with the outer solutions like any
        local pattern. Endpoint results are query answers (not graphs), so
        driver-side materialization is the right transport; graph-sized
        pulls belong to GraphStore.from_endpoint + register_service."""
        from pyspark.sql.types import StringType, StructField, StructType

        from otit_swt_spark.graph import _default_sparql_post

        poster = self.http_post or _default_sparql_post
        pfx = "".join(f"PREFIX {name}: <{iri}>\n"
                      for name, iri in (p.prefixes or {}).items())
        values = self._service_values_block(p, input)
        doc = poster(p.endpoint.value,
                     f"{pfx}SELECT * WHERE {{ {values}{p.raw} }}")
        vars_ = list(doc.get("head", {}).get("vars")
                     or sorted(A.pattern_variables(p.inner)))
        rows = [tuple(cell for v in vars_ for cell in solution_row(
                    sparql_json_term(b[v]) if v in b else None))
                for b in doc.get("results", {}).get("bindings", [])]
        fields = []
        for v in vars_:
            fields += [StructField(v, StringType()),
                       StructField(f"{v}__dt", StringType()),
                       StructField(f"{v}__lang", StringType())]
        df = self.spark.createDataFrame(rows, StructType(fields))
        return SolutionMapping(df, {v: VarMeta("term") for v in vars_},
                               dt_vars=set(vars_), lang_vars=set(vars_))

    # -- BGP + virtual time-series patterns ---------------------------------

    def compile_bgp(self, bgp: A.BGP, input: SolutionMapping | None) -> SolutionMapping:
        patterns = list(bgp.patterns)
        ts_joins, patterns = self._lower_ts_chains(patterns, input)
        sm = (self._bgp_sql(self._order_patterns(patterns)) if patterns
              else None)
        if input is not None:
            sm = input if sm is None else self.join_solutions(input, sm)
        if sm is None:
            sm = SolutionMapping(self.spark.range(1).select(), {})

        chains = [tj for tj in ts_joins if "rebind" not in tj]
        rows = None
        if chains:
            sm = self._restrict_static_side(sm, bgp, ts_joins)
            sm, rows = self._inline_static_side(sm, [tj["eid"] for tj in chains])
        spec = (self._group_pushdown_stack[-1]
                if self._group_pushdown_stack else None)
        if spec is not None and not spec["fired"] and ts_joins:
            grouped = self._grouped_pushdown(sm, ts_joins, spec, rows)
            if grouped is not None:
                return grouped
        for i, tj in enumerate(chains):
            if "probed_ids" not in tj:  # a declined pushdown read them
                tj["probed_ids"] = self._static_ids(
                    sm, [tj["eid"]], [r[i:i + 1] for r in rows])
        for tj in ts_joins:
            sm = self._apply_ts_join(sm, tj)
        return sm

    def _restrict_static_side(self, sm: SolutionMapping, bgp: A.BGP,
                              ts_joins: list[dict]) -> SolutionMapping:
        """Apply the enclosing FILTERs' comparisons whose variables the
        BGP's static patterns all bind to the static side before its one
        collect, as the reference keeps them in its static SPARQL query
        (static_sparql.rs): the rows, and the ids the chains send to the
        store, are then only those the filter can keep. Each FILTER still
        re-applies afterwards; a published comparison is never true with
        an unbound variable (_filter_hints), so a row removed here is one
        the FILTER drops, through an OPTIONAL too."""
        chain_vars = {x.name for tj in ts_joins for x in tj["t"] + tj["v"]
                      if isinstance(x, Variable)}
        static = (A.pattern_variables(bgp) - chain_vars
                  - {tj["dp"] for tj in ts_joins})
        conds = []
        for entry in reversed(self._filter_scopes):
            if entry is None:
                break
            conds += [c for c in entry[1] if A.expr_variables(c) <= static]
        if not conds:
            return sm
        cond = compile_expr(functools.reduce(A.EAnd, conds), sm)
        return replace(sm, df=sm.df.filter(_as_bool(cond)))

    def _inline_static_side(self, sm: SolutionMapping, eids: list[str]
                            ) -> tuple[SolutionMapping, list]:
        """Evaluate the BGP's static side ONCE, before any ts chain is
        joined (reference static_sparql.rs:46-99: the static solutions
        are one DataFrame that supplies both the time-series id lists and
        the combiner's left input). At most TS_ID_PUSHDOWN_MAX rows come
        back as a LocalRelation built JVM-side (exact column types, no
        Python round trip), so execution never re-runs the KG join, and
        the chains' external ids are read from the same rows: returns the
        inlined mapping and one ``eids`` tuple per row. Above the cap the
        mapping is returned unchanged with the first cap + 1 rows' tuples,
        from which _static_ids reads what it can."""
        cap = self.TS_ID_PUSHDOWN_MAX
        with job_description(self.spark, "otit:static-side"):
            jrows = sm.df.limit(cap + 1)._jdf.collectAsList()
        local = DataFrame(self.spark._jsparkSession.createDataFrame(
            jrows, sm.df._jdf.schema()), self.spark)
        # a projection of a LocalRelation is collected without a Spark job
        rows = [tuple(r) for r in local.select(*eids).collect()]
        return (sm if len(rows) > cap else replace(sm, df=local)), rows

    def _static_ids(self, sm: SolutionMapping, eids: list[str],
                    rows: list) -> list | None:
        """The sorted distinct external ids the static side binds for the
        chains whose id columns are ``eids`` — bare ids for one chain,
        ``(id_1..id_n)`` tuples for several; a row with a NULL id binds
        no series. Read from the inlined ``rows`` (one tuple over
        ``eids`` each). When those overflowed the cap (cap + 1 rows, a
        prefix of the static side) and already hold more than cap
        distinct ids, the full set does too; otherwise a bounded probe
        reads the set, which can still fit (many static rows per series,
        or several chains whose row count is their ids' cross product).
        None when the ids overflow the cap: one chain's fetch then runs
        without an IN-list, several chains' remote join declines."""
        cap = self.TS_ID_PUSHDOWN_MAX
        ids = {tuple(r) for r in rows if None not in r}
        if len(rows) > cap:
            if len(ids) > cap:
                return None
            with job_description(self.spark, "otit:chain-ids"):
                ids = {tuple(r) for r in sm.df.select(*eids).dropna()
                       .distinct().limit(cap + 1).collect()}
            if len(ids) > cap:
                return None
        return sorted(r[0] for r in ids) if len(eids) == 1 else sorted(ids)

    def _grouped_pushdown(self, sm: SolutionMapping, ts_joins: list[dict],
                          spec: dict, rows: list | None
                          ) -> SolutionMapping | None:
        """Fire the enclosing GROUP BY's pushdown spec for this BGP's
        chains: the reference's grouped query over one basic time-series
        query or over a synchronized inner join of several
        (timeseries_sql_rewrite.rs:356-428 composed with :470-560). The
        fetch returns one row per (id tuple, granule) with COUNT(*), each
        chain's COUNT/SUM/MIN/MAX partials and the group's MIN(timestamp)
        as a representative instant; compile_group re-aggregates the
        partials (_partial_reagg). Returns None, and the chains take the
        point fetch (always correct, just fetching points rather than
        buckets), unless this BGP's chains are exactly the spec's, every
        value type re-aggregates exactly where value partials are needed,
        and no table declines the fetch."""
        chains = spec["chains"]
        if {tj["dp"] for tj in ts_joins} != set(chains):
            return None
        for tj in ts_joins:
            v = chains[tj["dp"]]["v"]
            if "rebind" in tj or tj["t"] != [Variable(spec["t"])] \
                    or tj["v"] != ([Variable(v)] if v else []):
                return None
        # an N-way remote join across DIFFERENT stores has no single
        # executor
        multi = len(ts_joins) > 1
        if multi and len(self.ts_tables) != 1:
            return None

        # value-typed partials (SUM/MIN/MAX) demand an exactly
        # re-aggregatable value type; a count-only chain (COUNT(*) /
        # COUNT(?v), incl. value-less chains) needs no such gate —
        # counting works for any remote value type
        value_aggs = [bool({"sum", "min", "max"} & chains[tj["dp"]]["needs"])
                      for tj in ts_joins]
        hint = "double"
        if any(value_aggs):
            try:
                hints = [_partial_agg_type(t.value_xsd(self.spark))
                         for t in self.ts_tables]
            except Exception:
                return None
            if None in hints:
                return None
            hint = "long" if all(h == "long" for h in hints) else "double"

        eids = [tj["eid"] for tj in ts_joins]
        ids = self._static_ids(sm, eids, rows)
        if not multi:  # the chain's point fetch reuses the ids on decline
            ts_joins[0]["probed_ids"] = ids
        elif ids is None:  # several chains join in the store, pinned to
            return None    # the id tuples the static side binds
        # a union over every table: capable stores aggregate remotely,
        # the others give one chain's partial row per point, and the
        # union re-aggregates uniformly and exactly
        parts = []
        for t in self.ts_tables:
            part = t.grouped_restricted_normalized(
                self.spark, value_aggs=value_aggs, granule=spec["granule"],
                ids=ids, ts_lower=spec["ts_lower"], ts_upper=spec["ts_upper"],
                agg_type=hint)
            if part is None:
                return None
            parts.append(part)
        df = functools.reduce(DataFrame.unionByName, parts)

        cols = [F.col("timestamp").alias(spec["t"]),
                F.col("__gp_cnt").alias(spec["cnt_col"])]
        vars2 = {spec["t"]: VarMeta("native", "timestamp"),
                 spec["cnt_col"]: VarMeta("native", "long")}
        infos: dict[str, dict] = {}
        for i, tj in enumerate(ts_joins, 1):
            ch = chains[tj["dp"]]
            cols.append(F.col(f"id_{i}").alias(tj["eid"]))
            vars2[tj["eid"]] = VarMeta("native", "string")
            info = infos[tj["dp"]] = {"t": spec["t"]}
            if ch["v"] is not None:
                # proven unread outside the rewritten aggregates
                cols.append(F.lit(None).cast(hint).alias(ch["v"]))
                vars2[ch["v"]] = VarMeta("native", hint)
                info["v"] = ch["v"]
            # fresh names: they ride through joins/filters untouched
            # until compile_group's re-aggregation consumes them
            for key in ("n", "sum", "min", "max"):
                name = ch["cols"][key]
                cols.append(F.col(f"__gp_{key}_{i}").alias(name))
                vars2[name] = VarMeta("native",
                                      "long" if key == "n" else hint)
        spec["fired"] = True
        return self._join_ts(sm, SolutionMapping(df.select(*cols), vars2),
                             eids, infos)

    def _order_patterns(self, patterns: list[A.TriplePattern]
                        ) -> list[A.TriplePattern]:
        """Greedy selectivity-ordered BGP join order from the per-predicate
        triple counts in the datatype catalog (free — same aggregate). The
        classic KG join heuristic Catalyst cannot apply itself (no stats on
        the triples relation): start from the most selective pattern, then
        repeatedly join the most selective pattern CONNECTED to the bound
        variables (avoiding accidental cross products). Constant subjects /
        objects scale the estimate down (point lookups). Inner joins
        commute, so this is a pure plan change; ties keep written order, and
        catalogs without counts (older persisted sidecars) keep the written
        order entirely."""
        if self._pred_datatypes is None or len(patterns) < 3:
            return patterns
        cat = self._pred_datatypes()
        total = sum((info.get("n") or 0) for info in cat.values()) or 1

        def est(tp: A.TriplePattern) -> float | None:
            pred = tp.p
            if isinstance(pred, A.PathPredicate):
                pred = pred.iri
            if isinstance(pred, IRI):
                n = cat.get(pred.value, {}).get("n")
                if n is None:
                    return None  # unknown predicate count -> don't reorder
                base = float(max(n, 1))
            else:
                base = float(total)  # variable or path predicate
            if not isinstance(tp.s, Variable):
                base = max(base * 0.01, 1.0)
            if not isinstance(tp.o, Variable):
                base = max(base * 0.01, 1.0)
            return base

        def vars_of(tp: A.TriplePattern) -> set[str]:
            return {t.name for t in (tp.s, tp.p, tp.o) if isinstance(t, Variable)}

        ests = {}
        for i, tp in enumerate(patterns):
            e = est(tp)
            if e is None:
                return patterns
            ests[i] = e

        remaining = list(range(len(patterns)))
        ordered: list[int] = []
        bound: set[str] = set()
        while remaining:
            connected = [i for i in remaining if vars_of(patterns[i]) & bound]
            pool = connected or remaining
            pick = min(pool, key=lambda i: (ests[i], i))
            ordered.append(pick)
            remaining.remove(pick)
            bound |= vars_of(patterns[pick])
        return [patterns[i] for i in ordered]

    def _lower_ts_chains(self, patterns: list[A.TriplePattern],
                         input: SolutionMapping | None):
        """Detect hasDataPoint/hasTimestamp/hasValue chains and replace them
        with time-series joins (the Spark form of the reference's
        BasicTimeSeriesQuery wiring, hybrid/src/rewriting/graph_patterns/
        bgp_pattern.rs:157-260). A join carries its chain's distinct
        timestamp and value terms as ``"t"``/``"v"`` lists: every variable
        binds the chain's column and every literal filters it. Every
        hasDataPoint subject of a chain gets the same ``hasExternalId
        ?eid`` pattern, so a data point shared by several series nodes
        joins them on one external id."""
        chains, rest = _classify_chains(patterns)
        ts_joins = []
        for dp, info in chains.items():
            terms = {k: list(dict.fromkeys(info.get(k, ()))) for k in ("t", "v")}
            if "ts_var" not in info:
                pre = (input.ts_chains.get(dp) if input is not None else None)
                if pre is None:
                    raise ValueError(
                        f"data point variable ?{dp} has no hasDataPoint pattern "
                        "and no prior binding")
                # re-matching an already-bound data point: values/timestamps
                # are functionally determined -> bind or no-op
                ts_joins.append({"dp": dp, "rebind": pre, **terms})
                continue
            eid = Variable(self.fresh("eid"))
            for ts_var in dict.fromkeys(info["ts_var"]):
                rest.append(A.TriplePattern(ts_var, IRI(HAS_EXTERNAL_ID), eid))
            ts_joins.append({"dp": dp, "eid": eid.name, **terms})
        return ts_joins, rest

    def _apply_ts_join(self, sm: SolutionMapping, tj: dict) -> SolutionMapping:
        if "rebind" in tj:
            pre = tj["rebind"]
            for key in ("t", "v"):
                src = pre.get(key)
                for term in tj[key]:
                    if not isinstance(term, Variable):
                        hint = sm.vars[src].hint if src in sm.vars else None
                        sm = replace(sm, df=sm.df.filter(
                            _ts_literal_eq(F.col(src), hint, term)))
                        continue
                    if src is None:
                        raise ValueError(f"cannot rebind ?{term.name}: prior chain lacks {key}")
                    if term.name == src:
                        continue
                    m = sm.vars[src]
                    vars2 = dict(sm.vars)
                    vars2[term.name] = m
                    sm = replace(sm, df=sm.df.withColumn(term.name, F.col(src)), vars=vars2)
            return sm

        ts_df, value_hint = self._ts_relation_for_join(tj)
        eid = tj["eid"]
        cols = [F.col("id").alias(eid)]
        vars2: dict[str, VarMeta] = {eid: VarMeta("native", "string")}
        chain_info: dict = {}
        for key, hint, src in (("t", "timestamp", "timestamp"), ("v", value_hint, "value")):
            for term in tj[key]:
                if isinstance(term, Variable):
                    cols.append(F.col(src).alias(term.name))
                    vars2[term.name] = VarMeta("native", hint)
                    chain_info.setdefault(key, term.name)
                else:
                    ts_df = ts_df.filter(_ts_literal_eq(F.col(src), hint, term))
        return self._join_ts(sm, SolutionMapping(ts_df.select(*cols), vars2),
                             [eid], {tj["dp"]: chain_info})

    def _join_ts(self, sm: SolutionMapping, tsm: SolutionMapping,
                 eids: list[str], infos: dict[str, dict]) -> SolutionMapping:
        """Join fetched time-series rows onto the static side on the
        synthetic external-id vars, project those away, and record each
        chain's columns in ts_chains (read by later rebinds and OPTIONAL
        fast paths)."""
        out = self.join_solutions(sm, tsm)
        out = replace(out, df=out.df.drop(*eids),
                      vars={k: m for k, m in out.vars.items() if k not in eids})
        out.ts_chains.update(infos)
        return out

    # -- triple patterns ------------------------------------------------------

    def _bgp_sql(self, patterns: list[A.TriplePattern]) -> SolutionMapping:
        """The triple patterns as ONE Spark SQL statement: a subquery per
        pattern (_pattern_sql), joined left-deep in the given order. A
        variable binds the columns, companions and metadata of the first
        pattern naming it; a later one meets it on its term-identity key
        (_term_key_sql) where _identity_vars asks for it, on its plain
        value otherwise. PySpark registers the DataFrame arguments as
        temporary views for the analysis only."""
        tables: dict[str, DataFrame] = {}
        acc = SolutionMapping(None, {}, set(), set())
        owner: dict[str, str] = {}  # variable -> the subquery binding it
        joins = []
        for i, tp in enumerate(patterns):
            rel = f"p{i}"
            sub, pm = self._pattern_sql(tp, f"t{i}", tables)
            shared = [v for v in pm.vars if v in acc.vars]
            ident = _identity_vars(acc, pm, shared)
            on = " AND ".join(
                f"{_term_key_sql(acc, v, owner[v] + '.')} = "
                f"{_term_key_sql(pm, v, rel + '.')}" if v in ident
                else f"{owner[v]}.`{v}` = {rel}.`{v}`" for v in shared)
            joins.append(f"FROM ({sub}) {rel}" if not i
                         else f"JOIN ({sub}) {rel} ON {on}" if on
                         else f"CROSS JOIN ({sub}) {rel}")
            new = [v for v in pm.vars if v not in acc.vars]
            owner.update(dict.fromkeys(new, rel))
            acc.vars.update((v, pm.vars[v]) for v in new)
            acc.dt_vars |= pm.dt_vars & set(new)
            acc.lang_vars |= pm.lang_vars & set(new)
        cols = [f"{owner[v]}.`{c}`" for v in acc.vars
                for c in (v, *acc.aux_cols(v))]
        df = self.spark.sql(
            f"SELECT {', '.join(cols) or 1} " + " ".join(joins), **tables)
        acc.df = df if cols else df.select()
        return acc

    def _pattern_sql(self, tp: A.TriplePattern, table: str,
                     tables: dict[str, DataFrame]
                     ) -> tuple[str, SolutionMapping]:
        """One triple pattern as a SELECT over its relation (_triples,
        added to ``tables`` as ``table``) or over a path's decoded pairs
        (_path_sql), and its bindings (a SolutionMapping without a frame).
        An object or a path's subject carries __dt/__lang companions unless
        _object_meta proves it IRI-only; a literal constant matches lexical
        form and language or datatype; a ground triple matches once, a
        ground path once per pair."""
        pred = tp.p.iri if isinstance(tp.p, A.PathPredicate) else tp.p
        path = not isinstance(pred, (IRI, Variable))
        meta = self._object_meta(pred)
        sm = SolutionMapping(None, {}, set(), set())
        sel: list[str] = []
        where: list[str] = []
        bound: dict[str, str] = {}  # variable -> the column binding it here

        def end(term, iri: str, lex=None, dt=None, lang=None) -> None:
            if isinstance(term, Variable):
                v = term.name
                if v in bound:  # ?x ?x ?o, ?x p ?x, ?s ?p ?p, ?x path ?x
                    where.append("src = dst" if path
                                 else f"{iri} = {bound[v]}")
                    return
                bound[v] = iri
                sel.append(f"coalesce({iri}, {lex}) AS `{v}`" if lex
                           else f"{iri} AS `{v}`")
                sm.vars[v] = VarMeta("term")
                if lex and meta is not None:
                    sel.extend((f"{dt} AS `{v}__dt`", f"{lang} AS `{v}__lang`"))
                    sm.vars[v] = meta
                    sm.dt_vars.add(v)
                    sm.lang_vars.add(v)
            elif not isinstance(term, Literal):
                where.append(f"{iri} = {_sql_lit(object_row(term)[0])}")
            elif lex is None:  # a graph subject is never a literal
                where.append("false")
            else:
                where.append(f"{lex} = {_sql_lit(term.lexical)}")
                where.append(
                    f"lower({lang}) = {_sql_lit(term.language.lower())}"
                    if term.language else
                    f"{lang} IS NULL AND coalesce({dt}, "
                    f"{_sql_lit(XSD_STRING)}) = "
                    f"{_sql_lit(term.datatype or XSD_STRING)}")

        source = f"{{{table}}}"
        if path:  # either end can be a literal (through ^ or a zero-length step)
            consts = [object_row(t) for t in (tp.s, tp.o)
                      if not isinstance(t, Variable)]
            source = (f"(SELECT *, {_decoded_sql('src', 's')}, "
                      f"{_decoded_sql('dst', 'o')} FROM "
                      f"({self._path_sql(pred, tables, table, consts)}))")
            end(tp.s, "s_iri", "s_lex", "s_dt", "s_lang")
        else:
            tables[table] = self._triples(pred)
            end(tp.s, "s")
            if isinstance(pred, Variable):
                end(pred, "p")
        end(tp.o, "o_iri", "o_lex", "o_dt", "o_lang")
        sql = (f"SELECT {', '.join(sel) or 1} FROM {source}"
               + (" WHERE " + " AND ".join(where) if where else "")
               + ("" if sel or path else " LIMIT 1"))
        return sql, sm

    def _triples(self, pred) -> DataFrame:
        """The triples a pattern with predicate ``pred`` can match: the
        store's own relation for a constant predicate, the whole graph for
        a variable one."""
        if isinstance(pred, Variable):
            return self.graph_df
        if self._vp is not None:
            return self._vp(pred.value)
        return self.graph_df.filter(F.col("p") == pred.value)

    # -- property paths (beyond sequences, which the parser lowers) ----------

    def _path_sql(self, path, tables: dict[str, DataFrame], table: str,
                  consts: list[tuple]) -> str:
        """A property path as Spark SQL selecting the ``(src, dst)`` node
        pairs (_NODE_SQL) it connects; each DataFrame it reads is added to
        ``tables`` under a name starting with ``table``. A literal is never
        a subject, so only an inverse or zero-length step starts from one.
        ``consts`` are the pattern's constant nodes as object rows
        (object_row), which every zero-length step pairs with themselves.
        A closure is the one DataFrame built here: _kleene over the
        statement of its inner path."""
        def ref(df: DataFrame) -> str:
            name = next((k for k, v in tables.items() if v is df), None)
            if name is None:
                name = f"{table}_{len(tables)}"
                tables[name] = df
            return f"{{{name}}}"

        def sub(p) -> str:
            return self._path_sql(p, tables, table, consts)

        def zero() -> str:  # every graph subject and object, and the constants
            g = ref(self.graph_df)
            rows = ", ".join("(" + ", ".join(map(_sql_lit, r)) + ")"
                             for r in consts)
            values = (f" UNION ALL SELECT {_NODE_SQL} FROM VALUES {rows} "
                      "AS c(o_iri, o_lex, o_dt, o_lang)" if consts else "")
            return (f"SELECT n AS src, n AS dst FROM (SELECT s AS n FROM {g} "
                    f"UNION ALL SELECT {_NODE_SQL} FROM {g}{values})")

        if isinstance(path, A.PathPredicate):
            return (f"SELECT s AS src, {_NODE_SQL} AS dst "
                    f"FROM {ref(self._triples(path.iri))}")
        if isinstance(path, A.PathInverse):
            return f"SELECT dst AS src, src AS dst FROM ({sub(path.inner)})"
        if isinstance(path, A.PathSequence):
            n = len(path.parts)
            return (f"SELECT x0.src, x{n - 1}.dst FROM ({sub(path.parts[0])}) x0"
                    + "".join(f" JOIN ({sub(part)}) x{i} ON x{i - 1}.dst = x{i}.src"
                              for i, part in enumerate(path.parts[1:], 1)))
        if isinstance(path, A.PathAlternative):
            return " UNION ALL ".join(f"SELECT * FROM ({sub(part)})"
                                      for part in path.parts)
        if isinstance(path, A.PathNegatedPropertySet):
            # any predicate NOT in the forward set, and reversed edges via
            # any predicate NOT in the inverse set; a direction with no
            # listed members contributes no arm (SPARQL 1.1 §9.1)
            g = ref(self.graph_df)
            arms = [f"SELECT {a} AS src, {b} AS dst FROM {g} WHERE p NOT IN "
                    f"({', '.join(_sql_lit(i.value) for i in iris)})"
                    for iris, a, b in ((path.forward, "s", _NODE_SQL),
                                       (path.inverse, _NODE_SQL, "s")) if iris]
            return " UNION ALL ".join(arms)
        if isinstance(path, A.PathZeroOrOne):
            return f"SELECT * FROM ({sub(path.inner)}) UNION {zero()}"
        if isinstance(path, (A.PathOneOrMore, A.PathZeroOrMore)):
            inner: dict[str, DataFrame] = {}
            edges = self.spark.sql(
                self._path_sql(path.inner, inner, "k", consts), **inner)
            closure = f"SELECT src, dst FROM {ref(self._kleene(edges))}"
            return (closure if isinstance(path, A.PathOneOrMore)
                    else f"{closure} UNION {zero()}")
        raise NotImplementedError(f"path {type(path).__name__}")

    def _kleene(self, edges: DataFrame, max_iter: int = 20) -> DataFrame:
        """Transitive closure by pairwise path doubling: P ← distinct(P ∪
        P ⋈ P). P always holds paths of ALL lengths 1..L, so composing P
        with itself reaches every length up to 2L — convergence in
        ⌈log₂ diameter⌉ rounds instead of diameter (a 1M-hop chain closes
        in 20 rounds). The distinct shuffles each round onto the session's
        shuffle partitions, so P's partition count stays fixed.

        localCheckpoint truncates the lineage each round — without it the
        final plan nests one full join tree per iteration and driver-side
        planning blows up on deep graphs. P only grows, so a round that
        leaves its count unchanged leaves the set unchanged: that count,
        read from the checkpoint, is the convergence test. The rounds'
        jobs are named ``otit:kleene``."""
        import logging

        with job_description(self.spark, "otit:kleene"):
            paths = edges.distinct().localCheckpoint()
            n = paths.count()
            for rounds in range(max_iter):
                step = (paths.withColumnRenamed("dst", "mid")
                        .join(paths.withColumnRenamed("src", "mid"), "mid")
                        .select("src", "dst"))
                paths = paths.unionByName(step).distinct().localCheckpoint()
                prev, n = n, paths.count()
                if n == prev:
                    break
            else:  # a silent truncation would be a wrong answer, not a slow one
                raise RuntimeError(
                    f"property-path closure did not converge in {max_iter} "
                    f"doubling rounds (graph diameter > 2^{max_iter}); raise "
                    "max_iter")
        logging.getLogger(__name__).info(
            "kleene closure converged in %d doubling rounds", rounds)
        return paths

    # -- filter / extend -------------------------------------------------------

    def _exists_inner(self, node: A.EExists, sm: SolutionMapping
                      ) -> tuple[SolutionMapping, list[str]]:
        """An EXISTS pattern compiled standalone, behind a scope barrier
        (an outer bound restricting a chain inside it would change
        membership, not just fetch volume), and the variables it shares
        with ``sm``."""
        self._filter_scopes.append(None)
        try:
            inner = self.compile_pattern(node.pattern, None)
        finally:
            self._filter_scopes.pop()
        return inner, [v for v in inner.vars
                       if v in sm.vars and not v.startswith("__")]

    def _nonempty(self, inner: SolutionMapping) -> bool:
        """An uncorrelated EXISTS: one job (``otit:exists-empty``) at plan
        build."""
        with job_description(self.spark, "otit:exists-empty"):
            return not inner.df.isEmpty()

    def resolve_exists(self, sm: SolutionMapping, expr: A.Expr
                       ) -> tuple[SolutionMapping, dict[int, Column], list[str]]:
        exists_nodes: list[A.EExists] = []

        def walk(e):
            if isinstance(e, A.EExists):
                exists_nodes.append(e)
            elif isinstance(e, (A.EOr, A.EAnd, A.ECmp, A.EArith)):
                walk(e.left); walk(e.right)
            elif isinstance(e, (A.ENot, A.ENeg)):
                walk(e.inner)
            elif isinstance(e, A.EIn):
                walk(e.expr)
                for o in e.options:
                    walk(o)
            elif isinstance(e, A.EFunc):
                for a in e.args:
                    walk(a)

        walk(expr)
        exists_cols: dict[int, Column] = {}
        flags: list[str] = []
        for node in exists_nodes:
            inner, shared = self._exists_inner(node, sm)
            if not shared:
                exists_cols[id(node)] = F.lit(self._nonempty(inner))
                continue
            # a flag per distinct key: left-joined, each row of sm is
            # flagged when some inner row matches it
            flag = self.fresh("exists")
            sm, inner = _align(sm, inner, shared)
            ldf, rdf, keys = _join_keys(sm, inner, shared)
            hits = rdf.select(*keys).distinct().withColumn(flag, F.lit(True))
            sm = replace(sm, df=ldf.join(hits, on=keys, how="left")
                         .drop(*set(keys) - set(shared)))
            exists_cols[id(node)] = F.coalesce(F.col(flag), F.lit(False))
            flags.append(flag)
        return sm, exists_cols, flags

    def apply_filter(self, sm: SolutionMapping, expr: A.Expr) -> SolutionMapping:
        # Fast path: a FILTER that is exactly EXISTS{...} / NOT EXISTS{...}
        # compiles to a semi/anti join (reference lazy_expressions.rs:329-361
        # does a row-id membership test; Spark's LeftSemi/LeftAnti avoid both
        # the row id and the dedup+outer-join of the general flag path).
        if isinstance(expr, A.EExists):
            inner, shared = self._exists_inner(expr, sm)
            if shared:
                sm, inner = _align(sm, inner, shared)
                ldf, rdf, keys = _join_keys(sm, inner, shared)
                df = ldf.join(rdf.select(*keys), on=keys,
                              how="left_anti" if expr.negated else "left_semi")
                return replace(sm, df=df.drop(*set(keys) - set(shared)))
            keep = self._nonempty(inner) != expr.negated
            return sm if keep else replace(sm, df=sm.df.limit(0))
        sm2, exists_cols, flags = self.resolve_exists(sm, expr)
        cond = compile_expr(expr, sm2, exists_cols)
        df = sm2.df.filter(_as_bool(cond))   # SPARQL EBV, not a bare cast
        return replace(sm2, df=df.drop(*flags))

    def apply_extend(self, sm: SolutionMapping, var: str, expr: A.Expr) -> SolutionMapping:
        # STRLANG builds a language-tagged literal: the value lands in the
        # term column, the tag in the companion __lang column so LANG()/
        # LANGMATCHES and lang-aware matching see it downstream.
        if (isinstance(expr, A.EFunc) and expr.name == "STRLANG"
                and len(expr.args) == 2):
            from otit_swt_spark.terms import RDF_LANGSTRING

            val = compile_expr(expr.args[0], sm)
            tag = compile_expr(expr.args[1], sm)
            df = (sm.df.withColumn(var, val.col.cast("string"))
                  .withColumn(f"{var}__dt", F.lit(RDF_LANGSTRING))
                  .withColumn(f"{var}__lang", F.lower(tag.col.cast("string"))))
            vars2 = {**sm.vars, var: VarMeta("term", xsd=RDF_LANGSTRING)}
            return replace(sm, df=df, vars=vars2,
                           dt_vars=sm.dt_vars | {var},
                           lang_vars=sm.lang_vars | {var})
        if isinstance(expr, A.EVar) and expr.name in sm.vars:
            m = sm.vars[expr.name]
            df = sm.df.withColumn(var, F.col(expr.name))
            dt_vars, lang_vars = set(sm.dt_vars), set(sm.lang_vars)
            if expr.name in sm.dt_vars:
                df = df.withColumn(f"{var}__dt", F.col(f"{expr.name}__dt"))
                dt_vars.add(var)
            if expr.name in sm.lang_vars:
                df = df.withColumn(f"{var}__lang", F.col(f"{expr.name}__lang"))
                lang_vars.add(var)
            return replace(sm, df=df, vars={**sm.vars, var: m},
                           dt_vars=dt_vars, lang_vars=lang_vars)
        sm2, exists_cols, flags = self.resolve_exists(sm, expr)
        t = compile_expr(expr, sm2, exists_cols)
        df = sm2.df.withColumn(var, t.col).drop(*flags)
        return replace(sm2, df=df, vars={
            **sm2.vars, var: VarMeta("native", t.hint or "string")})

    # -- optional / minus -------------------------------------------------------

    def compile_leftjoin(self, p: A.LeftJoin, input: SolutionMapping | None) -> SolutionMapping:
        left = self.compile_pattern(p.left, input)
        # Fast path: an OPTIONAL whose right side compiles standalone is one
        # left outer join — with the SPARQL filter expression folded into the
        # join condition (SPARQL LeftJoin(Ω1,Ω2,expr) ≡ left outer join ON
        # shared-vars-equal AND expr: a left row joins the right rows that
        # are compatible AND satisfy expr, and null-pads when none do, which
        # is exactly Filter(expr, Join) ∪ Diff(Ω1, Ω2, expr)). No row id, no
        # union, left subtree evaluated ONCE — this is the form that
        # survives a fact-scale left side. EXISTS inside the filter needs
        # per-branch resolution, so it falls back to the general form.
        correlated = bool(_pattern_free_expr_vars(p.right) & set(left.vars))
        if not correlated and (p.expr is None or not _contains_exists(p.expr)):
            fast = self._leftjoin_rebind_fastpath(left, p)
            if fast is not None:
                return fast
            # the OPTIONAL's embedded condition constrains which right
            # rows can MATCH (LeftJoin(Ω1,Ω2,F) ≡ leftjoin over
            # Filter(F,Ω2) for the matched branch; rows it excludes only
            # ever null-pad) — so its timestamp bounds may restrict a
            # pushdown-capable chain fetch inside the right side
            self._filter_scopes.append(self._filter_hints(p.expr))
            try:
                right = self.compile_pattern(p.right, None)
            except ValueError:
                right = None  # right side needs left-bound context
            finally:
                self._filter_scopes.pop()
            if right is not None:
                if p.expr is None:
                    return self.join_solutions(left, right, how="left")
                return self._leftjoin_with_condition(left, right, p.expr)
        # General (SPARQL-correct with filter expr) form: matched rows UNION
        # anti-join-null-padded left rows. The row id must be IDENTICAL in
        # the matched branch (which threads left2 through the right side)
        # and the anti branch — _with_deterministic_rid derives it from the
        # row values themselves, so no materialization is needed.
        left2 = replace(left, df=_with_deterministic_rid(left.df))
        # same embedded-condition bounds as the fast path: the general
        # form applies expr as a filter over the matched branch, so an
        # expr-implied restriction on the right-side chain fetch only
        # removes rows that filter would drop
        self._filter_scopes.append(self._filter_hints(p.expr))
        try:
            right = self.compile_pattern(p.right, left2)
        finally:
            self._filter_scopes.pop()
        if p.expr is not None:
            right = self.apply_filter(right, p.expr)
        unmatched = replace(left2, df=left2.df.join(
            right.df.select(RID).distinct(), RID, "left_anti"))
        out = _union(right, unmatched)
        return replace(out, df=out.df.drop(RID))

    def _leftjoin_rebind_fastpath(self, left: SolutionMapping,
                                  p: A.LeftJoin) -> SolutionMapping | None:
        """OPTIONAL whose right side only RE-BINDS timestamp/value of data
        points already chained on the left (a correlated TS continuation):
        the extension is functionally determined per left row, so the
        left-outer semantics collapse to a projection plus a conditional
        null — no join, no row id, no shuffle, left evaluated once. Returns
        None when the shape doesn't apply (falls back to the general
        matched∪anti form)."""
        if type(p.right) is not A.BGP:
            return None
        adds: dict[str, str] = {}  # new var -> source column on the left
        conds: list[Column] = []
        for tp in p.right.patterns:
            pv = tp.p.value if isinstance(tp.p, IRI) else None
            key = {HAS_TIMESTAMP: "t", HAS_VALUE: "v"}.get(pv)
            if key is None or not isinstance(tp.s, Variable):
                return None
            pre = left.ts_chains.get(tp.s.name)
            src = pre.get(key) if pre else None
            if src is None:
                return None
            if src not in left.vars:
                # a projection (e.g. a sub-SELECT) dropped the chain's
                # source column while ts_chains carried the mapping —
                # the rebind has nothing to copy; use the general path
                return None
            if isinstance(tp.o, Variable):
                if tp.o.name == src:
                    continue  # re-binding the same var is a no-op
                if tp.o.name in left.vars or tp.o.name in adds:
                    return None  # compatibility-join semantics: general form
                adds[tp.o.name] = src
            elif isinstance(tp.o, Literal):
                conds.append(F.col(src) == literal_typed(tp.o).col)
            else:
                return None
        df = left.df
        vars2 = dict(left.vars)
        for var, src in adds.items():
            df = df.withColumn(var, F.col(src))
            vars2[var] = left.vars[src]
        sm = replace(left, df=df, vars=vars2)
        if not conds and p.expr is None:
            return sm
        cond = functools.reduce(Column.__and__, conds) if conds else None
        if p.expr is not None:
            e = _as_bool(compile_expr(p.expr, sm))   # SPARQL EBV
            cond = e if cond is None else cond & e
        if not adds:
            return left  # OPTIONAL binds nothing new: never removes rows
        # SPARQL LeftJoin: condition false/error -> the extension is
        # unbound, the left row survives
        out = sm.df
        for var in adds:
            out = out.withColumn(var, F.when(cond, F.col(var)))
        return replace(sm, df=out)

    def _leftjoin_with_condition(self, left: SolutionMapping,
                                 right: SolutionMapping,
                                 expr: A.Expr) -> SolutionMapping:
        """left OUTER join right ON (shared vars equal AND expr). The filter
        expression is compiled against the merged variable scope: shared
        variables resolve to the left columns (equal on matched rows),
        right-only variables to the right columns."""
        shared = [v for v in left.vars if v in right.vars]
        left, right = _align(left, right, shared)
        ldf, rdf, keys = _join_keys(left, right, shared)
        # right's shared bindings leave the filter's scope: a term-keyed
        # one is a function of its key, a plain one becomes its key
        # ``__tk_<v>``; drop aux/extra dups
        rdf = rdf.drop(*[v for v, k in zip(shared, keys) if k != v]) \
                 .withColumnsRenamed({v: f"__tk_{v}" for v in keys if v in shared})
        rdf = rdf.drop(*[c for c in rdf.columns
                         if c in left.df.columns and c not in shared])
        merged = SolutionMapping(
            left.df,  # unused by compile_expr (duck-typed metadata access)
            {**right.vars, **left.vars},
            left.dt_vars | {v for v in right.dt_vars if v not in shared},
            left.lang_vars | {v for v in right.lang_vars if v not in shared},
        )
        cond = _as_bool(compile_expr(expr, merged))   # SPARQL EBV
        for v, k in zip(shared, keys):
            cond = (F.col(f"__l.{k}") == F.col(f"__r.__tk_{v}")) & cond
        df = ldf.alias("__l").join(rdf.alias("__r"), cond, "left") \
                .drop(*[f"__tk_{v}" for v in shared])
        dt = set(left.dt_vars) | {v for v in right.dt_vars if f"{v}__dt" in df.columns}
        lang = set(left.lang_vars) | {v for v in right.lang_vars
                                      if f"{v}__lang" in df.columns}
        return SolutionMapping(df, {**right.vars, **left.vars}, dt, lang,
                               {**right.ts_chains, **left.ts_chains})

    def compile_minus(self, p: A.Minus, input: SolutionMapping | None) -> SolutionMapping:
        left = self.compile_pattern(p.left, input)
        rvars = A.pattern_variables(p.right)
        if not (rvars & set(left.vars)):
            return left  # SPARQL: disjoint domains remove nothing
        # SPARQL MINUS = remove left rows compatible with some right row on
        # the shared variables. Preferred form: compile the right side
        # standalone and anti-join on the shared vars — needs no row id
        # (monotonically_increasing_id is not stable across the two plan
        # branches); null shared vars don't match, which coincides with the
        # unbound-variable compatibility rule here.
        # Barrier on the right side: an outer FILTER's timestamp bound must
        # not restrict a chain fetched INSIDE the removal set — dropping
        # out-of-bound right rows would stop them subtracting left rows,
        # changing the MINUS result.
        self._filter_scopes.append(None)
        try:
            right = self.compile_pattern(p.right, None)
        except ValueError:
            # right side references context only the left provides (e.g. a
            # time-series chain bound in the left pattern): thread the left
            # through and anti-join on a deterministic (value-derived) row id
            left2_df = _with_deterministic_rid(left.df)
            left2 = replace(left, df=left2_df)
            right = self.compile_pattern(p.right, left2)
            df = left2_df.join(right.df.select(RID).distinct(), RID,
                               "left_anti").drop(RID)
            return replace(left, df=df)
        finally:
            self._filter_scopes.pop()
        shared = [v for v in right.vars
                  if v in left.vars and not v.startswith("__")]
        if not shared:
            return left
        # shared values compare as RDF terms (_join_keys): "x" never
        # removes <x>
        left, right = _align(left, right, shared)
        ldf, rdf, keys = _join_keys(left, right, shared)
        rdf = rdf.select(*keys)
        added = set(keys) - set(shared)
        if len(shared) == 1:
            # single shared var: compatibility = equality, and a left-unbound
            # (null) var means empty domain intersection -> row kept. Plain
            # equi anti join (null keys never match) is exactly that, and
            # stays a hash join.
            df = ldf.join(rdf, on=keys, how="left_anti")
            return replace(left, df=df.drop(*added))
        # Multiple shared vars: SPARQL MINUS removes a left row if some right
        # row is COMPATIBLE (agrees on commonly-bound vars; an unbound side
        # leaves the var unconstrained) with a non-empty domain intersection.
        # A plain equi anti join treats null keys as never-matching, wrongly
        # keeping left rows that have one unbound and one matching-bound var.
        cols = [(F.col(f"__minus_l.{k}"), F.col(f"__minus_r.{k}")) for k in keys]
        compat = functools.reduce(Column.__and__, [
            lc.isNull() | rc.isNull() | (lc == rc) for lc, rc in cols])
        anybound = functools.reduce(Column.__or__, [
            lc.isNotNull() & rc.isNotNull() for lc, rc in cols])
        df = ldf.alias("__minus_l").join(rdf.alias("__minus_r"),
                                         compat & anybound, "left_anti")
        return replace(left, df=df.drop(*added))

    # -- values -------------------------------------------------------------------

    def compile_values(self, p: A.Values) -> SolutionMapping:
        """An inline VALUES relation. A column whose cells are all literals
        of one numeric, boolean or temporal datatype is one native column.
        Any other column (strings, tagged or custom-typed literals, IRIs,
        a mix) holds each cell's own RDF term, like a graph object: the
        value, plus ``__dt``/``__lang`` companions when a literal is among
        the cells. Joins then compare term identity, so "x" never matches
        <x> or "x"@en."""
        fields: list[T.StructField] = []
        metas: dict[str, VarMeta] = {}
        companions: set[str] = set()
        for i, v in enumerate(p.variables):
            cells = [row[i] for row in p.rows if row[i] is not None]
            lits = [t for t in cells if isinstance(t, Literal)]
            # a tagged literal is a string column, as in the catalog
            lit_dts = {XSD_STRING if t.language else t.datatype or XSD_STRING
                       for t in lits}
            hint = (literal_typed(lits[0]).hint
                    if len(lit_dts) == 1 and len(lits) == len(cells)
                    else "string")
            if hint == "timestamp" and any(_utc_naive(t.lexical) is None
                                           for t in lits):
                hint = "string"  # an ill-formed cell stays its own term
            if hint != "string":
                metas[v] = VarMeta("native", hint)
                fields.append(T.StructField(v, spark_type_for_xsd(
                    {"long": "http://www.w3.org/2001/XMLSchema#long",
                     "double": "http://www.w3.org/2001/XMLSchema#double",
                     "bool": XSD_BOOLEAN,
                     "timestamp": XSD_DATETIME}.get(hint, XSD_STRING)), True))
                continue
            # one static datatype when the literals agree and no IRI sits
            # beside a non-string literal (the graph catalog's rule)
            xsd = (next(iter(lit_dts)) if len(lit_dts) == 1
                   and (len(lits) == len(cells) or lit_dts == {XSD_STRING})
                   else None)
            metas[v] = VarMeta("term", xsd=xsd)
            fields.append(T.StructField(v, T.StringType(), True))
            if lits:
                companions.add(v)
                fields += [T.StructField(f"{v}__dt", T.StringType(), True),
                           T.StructField(f"{v}__lang", T.StringType(), True)]
        rows = []
        for row in p.rows:
            out = []
            for v, term in zip(p.variables, row):
                m = metas[v]
                if m.kind == "native":
                    out.append(None if term is None else
                               _VALUES_CELL.get(m.hint, str)(term.lexical))
                    continue
                cells = solution_row(term)
                out += cells if v in companions else cells[:1]
            rows.append(tuple(out))
        df = self.spark.createDataFrame(rows, T.StructType(fields))
        return SolutionMapping(df, metas, set(companions), set(companions))

    # -- group / aggregates ----------------------------------------------------

    def compile_group(self, p: A.Group, input: SolutionMapping | None) -> SolutionMapping:
        # grouped pushdown (reference group_pattern.rs:18-105): publish
        # the statically-proven spec for the duration of the inner
        # compile; if the TS fetch fired it, aggregate over the remote
        # partials instead of raw points
        spec = self._analyze_group_pushdown(p, input)
        if spec is not None:
            self._group_pushdown_stack.append(spec)
        try:
            sm = self.compile_pattern(p.inner, input)
        finally:
            if spec is not None:
                self._group_pushdown_stack.pop()
        fired = spec is not None and spec["fired"]
        group_cols = [c for v in p.by for c in (v, *sm.aux_cols(v))]
        aggs = []
        vars2: dict[str, VarMeta] = {v: sm.vars[v] for v in p.by if v in sm.vars}
        dt_vars = {v for v in sm.dt_vars if v in p.by}
        lang_vars = {v for v in sm.lang_vars if v in p.by}
        for a in p.aggregates:
            if fired:
                col, meta = self._partial_reagg(a, sm, spec)
                aggs.append(col.alias(a.var))
                vars2[a.var] = meta
                continue
            col, meta, extras = self._compile_aggregate(a, sm)
            aggs.append(col.alias(a.var))
            vars2[a.var] = meta
            for extra_name, extra_col in extras:
                aggs.append(extra_col.alias(extra_name))
                if extra_name.endswith("__dt"):
                    dt_vars.add(a.var)
        if aggs:
            df = sm.df.groupBy(*group_cols).agg(*aggs)
        else:
            df = sm.df.select(*group_cols).distinct()
        return SolutionMapping(df, vars2, dt_vars, lang_vars, {})

    def _compile_aggregate(self, a: A.EAggregate, sm: SolutionMapping
                           ) -> tuple[Column, VarMeta, list[tuple[str, Column]]]:
        """SPARQL aggregate -> Spark aggregate (reference:
        hybrid/src/combiner/lazy_aggregate.rs). Returns (column, meta,
        extra aggregate columns — e.g. a carried datatype col)."""
        no_extra: list[tuple[str, Column]] = []
        if a.expr is None:  # COUNT(*) / COUNT(DISTINCT *)
            if a.distinct:
                # distinct SOLUTIONS: countDistinct over all current
                # columns via one struct (bare countDistinct(cols...)
                # would drop rows with any NULL binding)
                return (F.count_distinct(F.struct(*[
                    F.col(c) for c in sm.df.columns])),
                    VarMeta("native", "long"), no_extra)
            return F.count(F.lit(1)), VarMeta("native", "long"), no_extra
        t = compile_expr(a.expr, sm)
        name = a.name
        if name == "COUNT":
            col = F.count_distinct(t.col) if a.distinct else F.count(t.col)
            return col, VarMeta("native", "long"), no_extra
        if name == "SUM":
            c = t.col if t.hint in NUMERIC else t.col.try_cast("double")
            col = F.sum_distinct(c) if a.distinct else F.sum(c)
            return col, VarMeta("native", "long" if t.hint in INTEGRAL else "double"), no_extra
        if name == "AVG":
            c = t.col if t.hint in NUMERIC else t.col.try_cast("double")
            if a.distinct:
                return F.try_divide(F.sum_distinct(c), F.count_distinct(c)), \
                    VarMeta("native", "double"), no_extra
            return F.avg(c), VarMeta("native", "double"), no_extra
        if name in ("MIN", "MAX", "SAMPLE"):
            agg = {"MIN": F.min, "MAX": F.max}.get(name)
            if t.hint is not None:
                col = agg(t.col) if agg else F.first(t.col, ignorenulls=True)
                return col, VarMeta("native", t.hint), no_extra
            # a term result keeps its source's static datatype and carries
            # its datatype column, so output typing survives; MIN/MAX order
            # numerically when values parse as numbers (SPARQL natural
            # ordering), else by string collation
            src = a.expr.name if isinstance(a.expr, A.EVar) else None
            m = sm.vars.get(src) or VarMeta("term")
            extras = ([(f"{a.var}__dt", F.first(F.col(f"{src}__dt"),
                                                 ignorenulls=True))]
                      if src in sm.dt_vars else [])
            col = (agg(F.struct(t.col.try_cast("double").alias("num"),
                                t.col.alias("lex"))).getField("lex")
                   if agg else F.first(t.col, ignorenulls=True))
            return col, VarMeta("term", xsd=m.xsd, mixed=m.mixed), extras
        if name == "GROUP_CONCAT":
            c = t.col if t.hint in ("string", "iri") else t.col.cast("string")
            lst = F.collect_set(c) if a.distinct else F.collect_list(c)
            # SPARQL leaves concatenation order unspecified; sort for
            # determinism so results are stable across shuffles/partitions
            return F.array_join(F.sort_array(lst),
                                a.separator if a.separator is not None else " "), \
                VarMeta("native", "string"), no_extra
        if name == NEST_AGGREGATION:
            return F.collect_list(t.col), VarMeta("native", "array"), no_extra
        raise NotImplementedError(f"aggregate {name}")

    # -- order / project ---------------------------------------------------------

    def apply_order(self, sm: SolutionMapping, keys: list[tuple[A.Expr, bool]]) -> SolutionMapping:
        sort_cols = []
        helpers = []
        df = sm.df
        for i, (e, asc) in enumerate(keys):
            if isinstance(e, A.EVar) and e.name in sm.vars:
                c = F.col(e.name)
                if sm.vars[e.name].kind == "term":
                    # SPARQL orders numeric literals numerically; a term
                    # column holds lexical forms, so sort on (numeric value,
                    # lexical form): numbers order numerically, non-numeric
                    # strings tie on NULL and fall back to string collation
                    c = F.struct(c.try_cast("double").alias("num"),
                                 c.alias("lex"))
            else:
                h = f"__ord_{i}"
                t = compile_expr(e, sm)
                df = df.withColumn(h, t.col)
                helpers.append(h)
                c = F.col(h)
            sort_cols.append(c.asc() if asc else c.desc())
        return replace(sm, df=df.orderBy(*sort_cols).drop(*helpers))

    def apply_project(self, sm: SolutionMapping, variables: list[str]) -> SolutionMapping:
        # a variable the pattern does not bind is an unbound term column
        unbound = {v: F.lit(None).cast("string")
                   for v in variables if v not in sm.vars}
        df = sm.df.withColumns(unbound) if unbound else sm.df
        cols = [c for v in variables for c in (v, *sm.aux_cols(v))]
        return SolutionMapping(
            df.select(*cols), {v: sm.vars.get(v, VarMeta("term")) for v in variables},
            sm.dt_vars & set(variables), sm.lang_vars & set(variables),
            dict(sm.ts_chains))
