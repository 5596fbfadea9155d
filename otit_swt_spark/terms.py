"""RDF term model, the one term codec, and XSD <-> Spark type mapping.

Reference parity:
- XSD -> column dtype map: hybrid/src/sparql_result_to_polars.rs:70-115
- dtype -> XSD inference (mapper side):
  mapper/src/mapping/validation_inference.rs:386-398
- bridge vocabulary constants: hybrid/src/constants.rs:1-13

Terms are plain Python objects used at *plan* time (parser/algebra/compile);
at *execution* time every term lives in DataFrame columns — an IRI or blank
node is its string form, a literal is its lexical form plus a datatype IRI
column (see compiler.SolutionMapping for the column encoding).

Every conversion between a term and its text or row forms is here, once
(Turtle 1.1 / SPARQL 1.1 grammar):

- ``unescape``: a quoted string's ECHAR escapes, for the Turtle, N-Triples,
  SPARQL and stOTTR parsers;
- ``numeric_datatype``: the datatype of a bare number (INTEGER, DECIMAL,
  DOUBLE), for the same four parsers;
- ``object_row`` / ``triple_row``: a term in the graph's object columns
  ``(o_iri, o_lex, o_dt, o_lang)`` and a triple in the graph's row;
  ``solution_row`` / ``solution_term``: a term in a solution's
  ``(value, __dt, __lang)`` columns and back;
- ``sparql_json_term``: one term of a SPARQL 1.1 JSON results document;
- ``Term.ntriples()`` and ``NT_ESCAPES``: N-Triples text, the latter also
  for the column writer ``GraphStore.to_ntriples_df``.

Language tags are kept as delivered; term identity compares them exactly.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import types as T

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"

# The bridge vocabulary connecting graph entities to time-series rows
# (reference: hybrid/src/constants.rs:1-13).
OTIT_SWT = "https://github.com/magbak/otit_swt#"
HAS_TIMESERIES = OTIT_SWT + "hasTimeseries"
HAS_DATA_POINT = OTIT_SWT + "hasDataPoint"
HAS_TIMESTAMP = OTIT_SWT + "hasTimestamp"
HAS_VALUE = OTIT_SWT + "hasValue"
HAS_DATATYPE = OTIT_SWT + "hasDatatype"
HAS_EXTERNAL_ID = OTIT_SWT + "hasExternalId"
DATETIME_AS_NANOS = OTIT_SWT + "DateTimeAsNanos"
NANOS_AS_DATETIME = OTIT_SWT + "NanosAsDateTime"
DATETIME_AS_SECONDS = OTIT_SWT + "DateTimeAsSeconds"
SECONDS_AS_DATETIME = OTIT_SWT + "SecondsAsDateTime"
NEST_AGGREGATION = OTIT_SWT + "nestAggregation"

RDF_TYPE = RDF + "type"
RDF_LANGSTRING = RDF + "langString"

XSD_STRING = XSD + "string"
XSD_BOOLEAN = XSD + "boolean"
XSD_INT = XSD + "int"
XSD_INTEGER = XSD + "integer"
XSD_LONG = XSD + "long"
XSD_UNSIGNED_INT = XSD + "unsignedInt"
XSD_UNSIGNED_LONG = XSD + "unsignedLong"
XSD_FLOAT = XSD + "float"
XSD_DOUBLE = XSD + "double"
XSD_DECIMAL = XSD + "decimal"
XSD_DATE = XSD + "date"
XSD_DATETIME = XSD + "dateTime"
XSD_DATETIMESTAMP = XSD + "dateTimeStamp"
XSD_DURATION = XSD + "duration"


@dataclass(frozen=True)
class IRI:
    value: str

    def __str__(self) -> str:
        return self.value

    def ntriples(self) -> str:
        return f"<{self.value}>"


@dataclass(frozen=True)
class BlankNode:
    label: str

    def __str__(self) -> str:
        return f"_:{self.label}"

    def ntriples(self) -> str:
        return f"_:{self.label}"


@dataclass(frozen=True)
class Literal:
    lexical: str
    datatype: str = XSD_STRING
    language: str | None = None

    def __str__(self) -> str:
        return self.lexical

    def ntriples(self) -> str:
        esc = self.lexical
        for ch, echar in NT_ESCAPES:
            esc = esc.replace(ch, echar)
        if self.language:
            return f'"{esc}"@{self.language}'
        if self.datatype and self.datatype != XSD_STRING:
            return f'"{esc}"^^<{self.datatype}>'
        return f'"{esc}"'


@dataclass(frozen=True)
class Variable:
    name: str

    def __str__(self) -> str:
        return f"?{self.name}"


Term = IRI | BlankNode | Literal | Variable


# -- the term codec ------------------------------------------------------------

#: the characters N-Triples text escapes, with their ECHAR: backslash first,
#: so a later escape's backslash is not escaped again
NT_ESCAPES = (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"),
              ("\t", "\\t"))

_ECHAR_RE = re.compile(r"""\\([tbnrf"'\\])""")
_ECHAR = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f", '"': '"',
          "'": "'", "\\": "\\"}


def unescape(body: str) -> str:
    """A quoted string's body with its ECHAR escapes decoded, in one
    left-to-right pass: ``\\\\n`` is an escaped backslash followed by ``n``,
    not a newline. A backslash before any other character stays as
    written."""
    return _ECHAR_RE.sub(lambda m: _ECHAR[m.group(1)], body)


def numeric_datatype(lexical: str) -> str:
    """The datatype of a bare number: an exponent makes it xsd:double, a
    decimal point xsd:decimal, anything else xsd:integer."""
    if "e" in lexical or "E" in lexical:
        return XSD_DOUBLE
    return XSD_DECIMAL if "." in lexical else XSD_INTEGER


def object_row(term) -> tuple:
    """A term in the graph's object columns ``(o_iri, o_lex, o_dt,
    o_lang)``: an IRI or blank node is its text in ``o_iri`` (``_:label``
    for a blank node), a literal fills the other three. None (unbound) is
    four nulls."""
    if term is None:
        return None, None, None, None
    if isinstance(term, Literal):
        return None, term.lexical, term.datatype or XSD_STRING, term.language
    return str(term), None, None, None


def triple_row(s, p, o) -> tuple:
    """A triple in the graph's row ``(s, p, o_iri, o_lex, o_dt, o_lang)``."""
    return (str(s), str(p), *object_row(o))


def solution_row(term) -> tuple:
    """A term in a solution's columns ``(value, __dt, __lang)``: its
    object_row with ``o_iri`` and ``o_lex`` in one column."""
    iri, lex, dt, lang = object_row(term)
    return iri if lex is None else lex, dt, lang


def solution_term(value: str, dt: str | None, lang: str | None) -> Term:
    """The term a solution_row holds: a value with neither datatype nor
    language tag is an IRI, or a blank node when it reads ``_:label``."""
    if dt is None and lang is None:
        return BlankNode(value[2:]) if value.startswith("_:") else IRI(value)
    return Literal(value, dt or RDF_LANGSTRING, lang)


def sparql_json_term(t: dict) -> Term:
    """One term of a SPARQL 1.1 JSON results document: a ``bnode``, a
    ``literal`` (or the older ``typed-literal``) with its ``datatype`` or
    ``xml:lang``, else an IRI."""
    kind, value = t.get("type"), t["value"]
    if kind == "bnode":
        return BlankNode(value)
    if kind in ("literal", "typed-literal"):
        lang = t.get("xml:lang")
        return Literal(value, RDF_LANGSTRING if lang
                       else t.get("datatype") or XSD_STRING, lang)
    return IRI(value)


# XSD datatype IRI -> Spark SQL type (reference:
# hybrid/src/sparql_result_to_polars.rs:70-115).
XSD_TO_SPARK: dict[str, T.DataType] = {
    XSD_STRING: T.StringType(),
    XSD_BOOLEAN: T.BooleanType(),
    XSD_INT: T.IntegerType(),
    XSD_INTEGER: T.LongType(),
    XSD_LONG: T.LongType(),
    XSD_UNSIGNED_INT: T.LongType(),  # Spark has no unsigned; widen
    XSD_UNSIGNED_LONG: T.LongType(),
    XSD_FLOAT: T.FloatType(),
    XSD_DOUBLE: T.DoubleType(),
    XSD_DECIMAL: T.DoubleType(),
    XSD_DATE: T.DateType(),
    XSD_DATETIME: T.TimestampType(),
    XSD_DATETIMESTAMP: T.TimestampType(),
}

# Spark SQL type -> XSD datatype IRI (reference:
# mapper/src/mapping/validation_inference.rs:386-398).
SPARK_TO_XSD: dict[str, str] = {
    "string": XSD_STRING,
    "boolean": XSD_BOOLEAN,
    "int": XSD_INT,
    "bigint": XSD_LONG,
    "smallint": XSD_INT,
    "tinyint": XSD_INT,
    "float": XSD_FLOAT,
    "double": XSD_DOUBLE,
    "date": XSD_DATE,
    "timestamp": XSD_DATETIME,
    "timestamp_ntz": XSD_DATETIME,
}

NUMERIC_XSD = {
    XSD_INT,
    XSD_INTEGER,
    XSD_LONG,
    XSD_UNSIGNED_INT,
    XSD_UNSIGNED_LONG,
    XSD_FLOAT,
    XSD_DOUBLE,
    XSD_DECIMAL,
}

INTEGRAL_XSD = {XSD_INT, XSD_INTEGER, XSD_LONG, XSD_UNSIGNED_INT, XSD_UNSIGNED_LONG}


def spark_type_for_xsd(dt: str) -> T.DataType:
    return XSD_TO_SPARK.get(dt, T.StringType())


def xsd_for_spark_type(dt: T.DataType) -> str:
    return SPARK_TO_XSD.get(dt.simpleString(), XSD_STRING)
