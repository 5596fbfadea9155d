"""SPARQL expression -> Spark Column compiler.

Reference parity: hybrid/src/combiner/lazy_expressions.rs (local evaluation)
and timeseries_sql_rewrite/expression_rewrite.rs (SQL pushdown twin). In
Spark there is no twin: one Column expression serves both, and Catalyst
pushes it down into the parquet scan when legal.

Typing model: a solution column is either *native* (typed Spark column —
time-series values/timestamps, BIND results, VALUES numbers) or a *term*
column (canonical string: IRI or lexical form, with a ``<var>__dt`` datatype
column alongside). Expressions insert casts based on operand type hints, the
way the reference infers dtypes per variable
(hybrid/src/sparql_result_to_polars.rs:119-160).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from otit_swt_spark.sparql import algebra as A
from otit_swt_spark.terms import (
    DATETIME_AS_NANOS,
    DATETIME_AS_SECONDS,
    NANOS_AS_DATETIME,
    RDF_LANGSTRING,
    SECONDS_AS_DATETIME,
    XSD,
    XSD_BOOLEAN,
    XSD_DATE,
    XSD_DATETIME,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_FLOAT,
    XSD_INT,
    XSD_INTEGER,
    XSD_LONG,
    XSD_STRING,
)

INTEGRAL = {"int", "long"}
NUMERIC = INTEGRAL | {"double", "float", "decimal"}


class Typed:
    """A Spark Column plus a light type hint used to insert casts."""

    __slots__ = ("col", "hint")

    def __init__(self, col: Column, hint: str | None):
        self.col = col
        self.hint = hint  # 'int','long','double','float','bool','string','timestamp','date','iri',None


# try_cast everywhere: SPARQL semantics make an invalid cast an expression
# error, which makes the enclosing FILTER false / BIND unbound — exactly
# Spark's try_cast -> null behavior. Also keeps us safe under ANSI mode
# (Spark 4 default), where a plain cast would abort the query.

def _as_double(t: Typed) -> Column:
    if t.hint == "double":
        return t.col
    return t.col.try_cast("double")


def _as_long(t: Typed) -> Column:
    return t.col if t.hint == "long" else t.col.try_cast("long")


def _as_ts(t: Typed) -> Column:
    return t.col if t.hint == "timestamp" else t.col.try_cast("timestamp")


def _as_str(t: Typed) -> Column:
    return t.col if t.hint in ("string", "iri") else t.col.cast("string")


def _as_bool(t: Typed) -> Column:
    """Effective boolean value (SPARQL 17.2.2): booleans are themselves,
    numerics are true unless 0/NaN, strings are true unless empty. For
    canonical term strings the datatype isn't visible here, so lexicals
    are tried as boolean, then numeric, then fall back to the
    non-empty-string rule — the one mismatch is a PLAIN literal
    spelling exactly "true"/"false"/a number, which EBVs by its lexical
    value instead of its length. The previous try_cast('boolean')
    dropped every ordinary non-empty string (EBV true in SPARQL)."""
    if t.hint == "bool":
        return t.col
    if t.hint in ("long", "int"):
        return t.col != 0
    if t.hint in ("double", "float"):
        return (t.col != 0.0) & ~F.isnan(t.col)
    b = t.col.try_cast("boolean")
    d = t.col.try_cast("double")
    return (F.when(b.isNotNull(), b)
            .when(d.isNotNull(), (d != 0.0) & ~F.isnan(d))
            .otherwise(F.length(t.col) > 0))


def literal_typed(lit) -> Typed:
    dt = lit.datatype
    if dt in (XSD_INTEGER, XSD_LONG, XSD_INT):
        return Typed(F.lit(int(lit.lexical)), "long")
    if dt in (XSD_DOUBLE, XSD_DECIMAL, XSD_FLOAT):
        return Typed(F.lit(float(lit.lexical)), "double")
    if dt == XSD_BOOLEAN:
        return Typed(F.lit(lit.lexical == "true"), "bool")
    if dt == XSD_DATETIME:
        return Typed(F.lit(lit.lexical.replace("T", " ")).cast("timestamp"), "timestamp")
    if dt == XSD_DATE:
        return Typed(F.lit(lit.lexical).cast("date"), "date")
    return Typed(F.lit(lit.lexical), "string")


_XSD_NUMERIC_DTS = [XSD + n for n in (
    "integer", "int", "long", "short", "byte", "decimal", "double", "float",
    "nonNegativeInteger", "nonPositiveInteger", "negativeInteger",
    "positiveInteger", "unsignedInt", "unsignedLong", "unsignedShort",
    "unsignedByte")]


def _term_category_test(name: str, arg, raw, sm) -> "Typed":
    """isIRI/isURI/isBlank/isLiteral/isNumeric. Term variables answer from
    the companion datatype column (literals always carry one; IRIs and
    bnodes have none) plus the ``_:`` bnode prefix; native columns answer
    from their type hint. Unbound (null) input yields null (SPARQL: type
    error propagates)."""
    m = sm.meta(raw.name) if isinstance(raw, A.EVar) else None
    col = arg.col
    notnull = col.isNotNull()
    if m is not None and m.kind == "term":
        dt = sm.dt_col(raw.name)
        is_blank = col.startswith("_:")
        is_lit = dt.isNotNull() if dt is not None else F.lit(False)
        if name == "ISBLANK":
            out = is_blank
        elif name in ("ISIRI", "ISURI"):
            out = ~is_blank & ~is_lit
        elif name == "ISLITERAL":
            out = is_lit
        else:  # ISNUMERIC — IRIs/bnodes have a null dt: isNotNull guards
            out = (dt.isNotNull() & dt.isin(_XSD_NUMERIC_DTS)
                   if dt is not None else F.lit(False))
        return Typed(F.when(notnull, out), "bool")
    h = arg.hint
    if name == "ISBLANK":
        out = col.cast("string").startswith("_:") if h == "iri" else F.lit(False)
    elif name in ("ISIRI", "ISURI"):
        out = (~col.cast("string").startswith("_:")) if h == "iri" else F.lit(False)
    elif name == "ISLITERAL":
        out = F.lit(h != "iri")
    else:
        out = F.lit(h in NUMERIC)
    return Typed(F.when(notnull, out), "bool")


def compile_expr(e: A.Expr, sm, exists_cols: dict[int, Column] | None = None) -> Typed:
    """Compile an algebra expression against a SolutionMapping ``sm``
    (duck-typed: needs ``.meta(name)`` -> VarMeta and ``.dt_col(name)``)."""

    def rec(e: A.Expr) -> Typed:
        if isinstance(e, A.EVar):
            m = sm.meta(e.name)
            if m is None:
                return Typed(F.lit(None), None)
            return Typed(F.col(e.name), m.hint)
        if isinstance(e, A.ELiteral):
            return literal_typed(e.value)
        if isinstance(e, A.EIri):
            return Typed(F.lit(e.value.value), "iri")
        if isinstance(e, A.EOr):
            return Typed(_as_bool(rec(e.left)) | _as_bool(rec(e.right)), "bool")
        if isinstance(e, A.EAnd):
            return Typed(_as_bool(rec(e.left)) & _as_bool(rec(e.right)), "bool")
        if isinstance(e, A.ENot):
            return Typed(~_as_bool(rec(e.inner)), "bool")
        if isinstance(e, A.ECmp):
            return compare(e.op, rec(e.left), rec(e.right))
        if isinstance(e, A.EArith):
            return arith(e.op, rec(e.left), rec(e.right))
        if isinstance(e, A.ENeg):
            t = rec(e.inner)
            return Typed(-(t.col), t.hint)
        if isinstance(e, A.EIn):
            t = rec(e.expr)
            cond = F.lit(False)
            for opt in e.options:
                cond = cond | compare("=", t, rec(opt)).col
            return Typed(~cond if e.negated else cond, "bool")
        if isinstance(e, A.EExists):
            if exists_cols is None or id(e) not in exists_cols:
                raise ValueError("EXISTS must be pre-resolved by the compiler")
            c = exists_cols[id(e)]
            return Typed(~c if e.negated else c, "bool")
        if isinstance(e, A.EFunc):
            return func(e.name, [rec(a) for a in e.args], e.args)
        raise NotImplementedError(f"expression {type(e).__name__}")

    def compare(op: str, lt: Typed, rt: Typed) -> Typed:
        if "timestamp" in (lt.hint, rt.hint) or "date" in (lt.hint, rt.hint):
            lc, rc = _as_ts(lt), _as_ts(rt)
        elif lt.hint in NUMERIC or rt.hint in NUMERIC:
            if lt.hint in INTEGRAL and rt.hint in INTEGRAL:
                lc, rc = _as_long(lt), _as_long(rt)
            else:
                lc, rc = _as_double(lt), _as_double(rt)
        elif lt.hint == "bool" or rt.hint == "bool":
            lc, rc = _as_bool(lt), _as_bool(rt)
        else:
            # two term/string columns: SPARQL term equality on canonical form;
            # ordering comparisons fall back to string collation.
            lc, rc = lt.col, rt.col
        ops = {
            "=": lambda a, b: a == b,
            "!=": lambda a, b: a != b,
            "<": lambda a, b: a < b,
            "<=": lambda a, b: a <= b,
            ">": lambda a, b: a > b,
            ">=": lambda a, b: a >= b,
        }
        return Typed(ops[op](lc, rc), "bool")

    def arith(op: str, lt: Typed, rt: Typed) -> Typed:
        if op == "/":
            return Typed(F.try_divide(_as_double(lt), _as_double(rt)), "double")
        if lt.hint in INTEGRAL and rt.hint in INTEGRAL:
            lc, rc = _as_long(lt), _as_long(rt)
            hint = "long"
        else:
            lc, rc = _as_double(lt), _as_double(rt)
            hint = "double"
        if op == "+":
            return Typed(lc + rc, hint)
        if op == "-":
            return Typed(lc - rc, hint)
        return Typed(lc * rc, hint)

    def func(name: str, args: list[Typed], raw_args) -> Typed:
        # datetime accessors (lazy_expressions.rs:447-506)
        if name == "YEAR":
            return Typed(F.year(_as_ts(args[0])), "int")
        if name == "MONTH":
            return Typed(F.month(_as_ts(args[0])), "int")
        if name == "DAY":
            return Typed(F.dayofmonth(_as_ts(args[0])), "int")
        if name == "HOURS":
            return Typed(F.hour(_as_ts(args[0])), "int")
        if name == "MINUTES":
            return Typed(F.minute(_as_ts(args[0])), "int")
        if name == "SECONDS":
            return Typed(F.second(_as_ts(args[0])), "int")
        # numeric (lazy_expressions.rs:507-546)
        if name == "ABS":
            return Typed(F.abs(args[0].col), args[0].hint or "double")
        if name == "CEIL":
            return Typed(F.ceil(_as_double(args[0])), "long")
        if name == "FLOOR":
            return Typed(F.floor(_as_double(args[0])), "long")
        if name == "ROUND":
            return Typed(F.round(_as_double(args[0]), 0), "double")
        if name == "CONCAT":
            return Typed(F.concat(*[_as_str(a) for a in args]), "string")
        if name == "COALESCE":
            hints = [a.hint for a in args if a.hint]
            if any(h in NUMERIC for h in hints):
                if all(h in INTEGRAL for h in hints):
                    cols = [_as_long(a) for a in args]
                    hint = "long"
                else:
                    cols = [_as_double(a) for a in args]
                    hint = "double"
            elif "timestamp" in hints:
                cols, hint = [_as_ts(a) for a in args], "timestamp"
            else:
                cols, hint = [a.col for a in args], hints[0] if hints else None
            return Typed(F.coalesce(*cols), hint)
        if name == "IF":
            c, t, f_ = args
            th = t.hint or f_.hint
            if t.hint in NUMERIC or f_.hint in NUMERIC:
                if t.hint in INTEGRAL and f_.hint in INTEGRAL:
                    tc, fc, th = _as_long(t), _as_long(f_), "long"
                else:
                    tc, fc, th = _as_double(t), _as_double(f_), "double"
            else:
                tc, fc = t.col, f_.col
            return Typed(F.when(_as_bool(c), tc).otherwise(fc), th)
        if name == "BOUND":
            return Typed(args[0].col.isNotNull(), "bool")
        if name == "STR":
            return Typed(_as_str(args[0]), "string")
        if name == "LANG":
            if isinstance(raw_args[0], A.EVar):
                lang = sm.lang_col(raw_args[0].name)
                if lang is not None:
                    return Typed(F.coalesce(lang, F.lit("")), "string")
            return Typed(F.lit(""), "string")
        if name == "DATATYPE":
            if isinstance(raw_args[0], A.EVar):
                m = sm.meta(raw_args[0].name)
                if m is not None and m.kind == "term":
                    # a literal always carries its datatype: a null one, or
                    # no companion at all, is an IRI or blank node, whose
                    # DATATYPE is a type error (unbound, SPARQL 17.4.2.7)
                    dt = sm.dt_col(raw_args[0].name)
                    out = dt if dt is not None else F.lit(m.xsd).cast("string")
                    lang = sm.lang_col(raw_args[0].name)
                    if lang is not None:  # RDF 1.1: tagged literals are rdf:langString
                        out = F.when(lang.isNotNull() & (lang != ""),
                                     F.lit(RDF_LANGSTRING)).otherwise(out)
                    return Typed(out, "iri")
                if m is not None and m.xsd:
                    return Typed(F.lit(m.xsd), "iri")
                if m is not None and m.kind == "native" and m.hint:
                    # native columns (ts values, BIND results) carry a
                    # spark-ish hint, not a dt column — map it to the
                    # XSD IRI instead of defaulting to xsd:string
                    from otit_swt_spark.terms import (XSD_BOOLEAN,
                                                      XSD_DATETIME,
                                                      XSD_DOUBLE,
                                                      XSD_INTEGER)
                    hint_dt = {"double": XSD_DOUBLE, "float": XSD_DOUBLE,
                               "long": XSD_INTEGER, "int": XSD_INTEGER,
                               "bool": XSD_BOOLEAN,
                               "timestamp": XSD_DATETIME}.get(m.hint)
                    if hint_dt is not None:
                        return Typed(F.lit(hint_dt), "iri")
            return Typed(F.lit(XSD_STRING), "iri")
        if name == "SAMETERM":
            return Typed(args[0].col.eqNullSafe(args[1].col), "bool")
        if name == "REGEX":
            pat = _regex_pattern(raw_args[1], raw_args[2] if len(raw_args) > 2 else None)
            return Typed(_as_str(args[0]).rlike(pat), "bool")
        if name == "STRLEN":
            return Typed(F.length(_as_str(args[0])), "int")
        if name == "SUBSTR":
            start = _as_long(args[1]).cast("int")
            length = _as_long(args[2]).cast("int") if len(args) > 2 else F.lit(2_000_000_000)
            return Typed(_as_str(args[0]).substr(start, length), "string")
        if name == "UCASE":
            return Typed(F.upper(_as_str(args[0])), "string")
        if name == "LCASE":
            return Typed(F.lower(_as_str(args[0])), "string")
        if name == "CONTAINS":
            return Typed(_as_str(args[0]).contains(args[1].col), "bool")
        if name == "STRSTARTS":
            return Typed(_as_str(args[0]).startswith(args[1].col), "bool")
        if name == "STRENDS":
            return Typed(_as_str(args[0]).endswith(args[1].col), "bool")
        if name == "REPLACE":
            pat = _regex_pattern(raw_args[1], raw_args[3] if len(raw_args) > 3 else None)
            return Typed(
                F.regexp_replace(_as_str(args[0]), pat, _const_str(raw_args[2])),
                "string",
            )
        if name == "NOW":
            return Typed(F.current_timestamp(), "timestamp")
        if name == "STRBEFORE":
            a, b = _as_str(args[0]), _as_str(args[1])
            pos = F.instr(a, b)
            return Typed(F.when(pos > 0, F.substring(a, F.lit(1), pos - 1))
                         .otherwise(F.lit("")), "string")
        if name == "STRAFTER":
            a, b = _as_str(args[0]), _as_str(args[1])
            pos = F.instr(a, b)
            return Typed(F.when(pos > 0,
                                F.substring(a, pos + F.length(b),
                                            F.lit(2_000_000_000)))
                         .otherwise(F.lit("")), "string")
        if name == "ENCODE_FOR_URI":
            # url_encode is form encoding: fix '+' for space and keep '~'
            enc = F.url_encode(_as_str(args[0]))
            enc = F.replace(enc, F.lit("+"), F.lit("%20"))
            enc = F.replace(enc, F.lit("%7E"), F.lit("~"))
            return Typed(enc, "string")
        if name == "MD5":
            return Typed(F.md5(_as_str(args[0]).cast("binary")), "string")
        if name == "SHA1":
            return Typed(F.sha1(_as_str(args[0]).cast("binary")), "string")
        if name in ("SHA256", "SHA384", "SHA512"):
            return Typed(F.sha2(_as_str(args[0]).cast("binary"), int(name[3:])), "string")
        if name == "UUID":
            return Typed(F.concat(F.lit("urn:uuid:"), F.expr("uuid()")), "iri")
        if name == "STRUUID":
            return Typed(F.expr("uuid()"), "string")
        if name == "RAND":
            return Typed(F.rand(), "double")
        if name == "BNODE":
            if args:  # stable per argument value
                return Typed(F.concat(F.lit("_:bn_"), F.md5(_as_str(args[0]).cast("binary"))), "iri")
            return Typed(F.concat(F.lit("_:bn_"), F.expr("uuid()")), "iri")
        if name == "STRDT":
            from otit_swt_spark.terms import spark_type_for_xsd

            if not isinstance(raw_args[1], A.EIri):
                raise NotImplementedError("STRDT requires a constant datatype IRI")
            dt = raw_args[1].value.value
            stype = spark_type_for_xsd(dt)
            hint = {"bigint": "long", "int": "int", "double": "double",
                    "float": "float", "boolean": "bool",
                    "timestamp": "timestamp", "date": "date"}.get(
                        stype.simpleString().split("(")[0], "string")
            return Typed(_as_str(args[0]).try_cast(stype), hint)
        if name == "LANGMATCHES":
            rng = _as_str(args[1])
            tag = F.lower(_as_str(args[0]))
            return Typed(
                F.when(rng == "*", tag != "")
                .otherwise((tag == F.lower(rng))
                           | tag.startswith(F.concat(F.lower(rng), F.lit("-")))),
                "bool")
        if name == "TZ":
            # the engine's timestamps are timezone-naive (reference maps both
            # tz'd and naive datetimes onto Datetime, sparql_result_to_polars
            # .rs:98-110); SPARQL TZ of a zoneless dateTime is ""
            return Typed(F.lit(""), "string")
        if name == "TIMEZONE":
            # SPARQL TIMEZONE errors on zoneless dateTimes; the engine's
            # storage is UTC-normalized (offsets folded in at parse), so the
            # consistent answer for every stored timestamp is PT0S. Typed as
            # string (xsd:dayTimeDuration has no native Spark type).
            return Typed(F.when(args[0].col.isNotNull(), F.lit("PT0S")),
                         "string")
        if name in ("ISIRI", "ISURI", "ISBLANK", "ISLITERAL", "ISNUMERIC"):
            return _term_category_test(name, args[0], raw_args[0], sm)
        if name == "IRI" or name == "URI":
            return Typed(_as_str(args[0]), "iri")
        # xsd casts (lazy_expressions.rs:549-564)
        if name.startswith("XSD_CAST:"):
            target = name[len("XSD_CAST:"):]
            if target in (XSD + "integer", XSD + "long", XSD + "int"):
                return Typed(args[0].col.try_cast("long"), "long")
            if target == XSD + "double":
                return Typed(args[0].col.try_cast("double"), "double")
            if target == XSD + "decimal":
                # true decimal for exact aggregation (float summation order
                # makes ROUND(SUM(double)) nondeterministic at .5 boundaries)
                return Typed(args[0].col.try_cast("decimal(25,6)"), "decimal")
            if target == XSD + "float":
                return Typed(args[0].col.try_cast("float"), "float")
            if target == XSD + "boolean":
                return Typed(args[0].col.try_cast("boolean"), "bool")
            if target == XSD + "dateTime":
                return Typed(_as_ts(args[0]), "timestamp")
            if target == XSD + "date":
                return Typed(args[0].col.try_cast("date"), "date")
            return Typed(_as_str(args[0]), "string")
        # otit_swt custom datetime functions (lazy_expressions.rs:565-601).
        # unix_seconds/unix_micros over a (tz) timestamp are direct integer
        # conversions; unix_timestamp on a timestamp_ntz column plans as a
        # per-row format+parse (~1.7x slower on a scan) — cast ntz->tz
        # first (session tz is pinned UTC, so the instant is unchanged).
        if name == DATETIME_AS_SECONDS:
            return Typed(F.unix_seconds(_as_ts(args[0]).cast("timestamp")), "long")
        if name == SECONDS_AS_DATETIME:
            return Typed(F.timestamp_seconds(_as_long(args[0])), "timestamp")
        if name == DATETIME_AS_NANOS:
            return Typed(F.unix_micros(_as_ts(args[0]).cast("timestamp")) * F.lit(1000), "long")
        if name == NANOS_AS_DATETIME:
            return Typed(F.timestamp_micros((_as_long(args[0]) / F.lit(1000)).cast("long")), "timestamp")
        raise NotImplementedError(f"function {name}")

    def _const_str(raw) -> str:
        if isinstance(raw, A.ELiteral):
            return raw.value.lexical
        raise NotImplementedError("non-constant regex/replace pattern")

    def _regex_pattern(raw_pat, raw_flags) -> str:
        """SPARQL REGEX/REPLACE flags translate to a Java inline-flag prefix
        ((?i) etc.); unsupported flags raise instead of silently running
        without them."""
        pat = _const_str(raw_pat)
        if raw_flags is None:
            return pat
        flags = _const_str(raw_flags)
        if not set(flags) <= set("ismx"):
            raise NotImplementedError(f"unsupported REGEX flags {flags!r}")
        return f"(?{flags})" + pat if flags else pat

    return rec(e)
