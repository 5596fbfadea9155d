"""Hand-rolled recursive-descent parser for the stOTTR subset the reference
supports (reference grammar: mapper/src/parsing/nom_parsing.rs, 1023 LoC of
nom combinators; this is a fresh implementation from the stOTTR spec).

Supported surface:
- ``@prefix p:<iri>.`` directives
- template definitions ``ex:Name [ params ] :: { instances } .``
- parameter modifiers ``?`` (optional) / ``!`` (non-blank), types
  (``xsd:anyURI ?v``, ``List<xsd:string> ?l``, NEList, LUB), defaults
- instances with list expanders ``cross | tmpl(?a, ++?list)``
- terms: variables, IRIs (angle-bracketed or prefixed), literals
  (string with ``@lang`` / ``^^dt``, integer, decimal, boolean), blank
  nodes ``_:b``, list constants ``(t1, t2)``
"""

from __future__ import annotations

import re

from otit_swt_spark.mapper.ast import (
    DEFAULT_PREFIXES,
    XSD,
    Argument,
    BlankNode,
    Instance,
    IRI,
    ListConstant,
    Literal,
    Parameter,
    PType,
    Template,
    Variable,
)
from otit_swt_spark.terms import RDF_LANGSTRING, numeric_datatype, unescape

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+|\#[^\n]*)
  | (?P<string>"(?:[^"\\]|\\.)*")
  | (?P<iriref><[^<>\s]*>)
  | (?P<listexpand>\+\+)
  | (?P<doublecolon>::)
  | (?P<caret>\^\^)
  | (?P<number>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<blank>_:[A-Za-z0-9_\-]+)
  | (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
  | (?P<annot>@@)
  | (?P<prefixdecl>@prefix\b)
  | (?P<langtag>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
  | (?P<pname>[A-Za-z_][A-Za-z0-9_\-]*:[A-Za-z_][A-Za-z0-9_\-.]*)
  | (?P<kw>List\b|NEList\b|LUB\b|cross\b|zipMin\b|zipMax\b)
  | (?P<name>[A-Za-z_][A-Za-z0-9_\-]*)
  | (?P<punct>[\[\]{}(),.|=<>!?:])
    """,
    re.VERBOSE,
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    tokens, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise ValueError(f"stOTTR tokenizer: unexpected input at {text[pos:pos+30]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind != "ws":
            tokens.append((kind, m.group()))
    return tokens


class _Parser:
    def __init__(self, text: str):
        self.tokens = _tokenize(text)
        self.i = 0
        self.prefixes = dict(DEFAULT_PREFIXES)

    # -- token helpers ------------------------------------------------------
    def peek(self, offset: int = 0):
        j = self.i + offset
        return self.tokens[j] if j < len(self.tokens) else ("eof", "")

    def next(self):
        tok = self.peek()
        self.i += 1
        return tok

    def expect(self, value: str):
        kind, val = self.next()
        if val != value:
            raise ValueError(f"stOTTR parse: expected {value!r}, got {val!r}")
        return val

    # -- productions --------------------------------------------------------
    def document(self) -> list[Template]:
        templates = []
        while self.peek()[0] != "eof":
            if self.peek()[1] == "@prefix":
                self.prefix_decl()
            else:
                templates.append(self.template())
        return templates

    def prefix_decl(self):
        self.expect("@prefix")
        kind, val = self.next()
        if kind == "pname":  # "ex:" tokenized as pname only if local part; handle "ex" ":" too
            name = val.rstrip(":")
            rest = val.split(":", 1)[1]
            if rest:
                raise ValueError(f"bad prefix declaration near {val!r}")
        else:
            name = val
            self.expect(":")
        kind, iri = self.next()
        if kind != "iriref":
            raise ValueError(f"bad prefix IRI {iri!r}")
        self.prefixes[name] = iri[1:-1]
        self.expect(".")

    def iri(self) -> str:
        kind, val = self.next()
        if kind == "iriref":
            return val[1:-1]
        if kind == "pname":
            pfx, local = val.split(":", 1)
            if pfx not in self.prefixes:
                raise ValueError(f"unknown prefix {pfx!r}")
            return self.prefixes[pfx] + local
        raise ValueError(f"expected IRI, got {val!r}")

    def template(self) -> Template:
        iri = self.iri()
        self.expect("[")
        params = []
        if self.peek()[1] != "]":
            params.append(self.parameter())
            while self.peek()[1] == ",":
                self.next()
                params.append(self.parameter())
        self.expect("]")
        # optional annotation list: @@inst [, @@inst ...] (reference
        # nom_parsing.rs:104-112; stored on the signature, never executed)
        annotations = []
        while self.peek()[0] == "annot":
            self.next()
            annotations.append(self.instance())
            while self.peek()[1] == "," and self.peek(1)[0] == "annot":
                self.next()
        self.expect("::")
        self.expect("{")
        instances = []
        if self.peek()[1] != "}":
            instances.append(self.instance())
            while self.peek()[1] == ",":
                self.next()
                instances.append(self.instance())
        self.expect("}")
        self.expect(".")
        return Template(iri=iri, parameters=params, instances=instances,
                        annotations=annotations)

    def parameter(self) -> Parameter:
        optional = non_blank = False
        while self.peek()[1] in ("?", "!") and self.peek(1)[0] != "eof":
            # modifier only if what follows is not the variable itself:
            # "? ?v" vs "?v" — a bare "?" token is a modifier (variables
            # tokenize with their name attached)
            mark = self.next()[1]
            optional |= mark == "?"
            non_blank |= mark == "!"
        ptype = None
        if self.peek()[0] in ("pname", "iriref", "kw") and self.peek()[1] not in (
            "cross", "zipMin", "zipMax"):
            ptype = self.ptype()
        kind, val = self.next()
        if kind != "var":
            raise ValueError(f"expected parameter variable, got {val!r}")
        default = None
        if self.peek()[1] == "=":
            self.next()
            default = self.term()
        return Parameter(name=val[1:], ptype=ptype, optional=optional,
                         non_blank=non_blank, default=default)

    def ptype(self) -> PType:
        kind, val = self.peek()
        if val in ("List", "NEList", "LUB"):
            self.next()
            wrapper = val.lower() if val != "NEList" else "nelist"
            nk, nv = self.peek()
            if nk == "iriref":
                # tokenizer glued "<pname>" into one iriref token ("List<xsd:anyURI>")
                self.next()
                body = nv[1:-1]
                pfx, _, local = body.partition(":")
                iri = self.prefixes[pfx] + local if pfx in self.prefixes else body
                return PType(kind=wrapper, inner=PType(kind="basic", iri=iri))
            self.expect("<")
            inner = self.ptype()
            self.expect(">")
            return PType(kind=wrapper, inner=inner)
        return PType(kind="basic", iri=self.iri())

    def instance(self) -> Instance:
        expander = None
        if self.peek()[1] in ("cross", "zipMin", "zipMax"):
            expander = self.next()[1]
            self.expect("|")
        iri = self.iri()
        self.expect("(")
        args = []
        if self.peek()[1] != ")":
            args.append(self.argument())
            while self.peek()[1] == ",":
                self.next()
                args.append(self.argument())
        self.expect(")")
        return Instance(template_iri=iri, arguments=args, expander=expander)

    def argument(self) -> Argument:
        list_expand = False
        if self.peek()[0] == "listexpand":
            self.next()
            list_expand = True
        return Argument(term=self.term(), list_expand=list_expand)

    def term(self):
        kind, val = self.peek()
        if kind == "var":
            self.next()
            return Variable(val[1:])
        if kind == "blank":
            self.next()
            return BlankNode(val[2:])
        if kind == "string":
            self.next()
            lex = unescape(val[1:-1])
            nk, nv = self.peek()
            if nk == "langtag":
                self.next()
                return Literal(lex, datatype=RDF_LANGSTRING, language=nv[1:])
            if nv == "^^":
                self.next()
                return Literal(lex, datatype=self.iri())
            return Literal(lex)
        if kind == "number":
            self.next()
            return Literal(val, datatype=numeric_datatype(val))
        if val in ("true", "false"):
            self.next()
            return Literal(val, datatype=XSD + "boolean")
        if val == "(":
            self.next()
            items = []
            if self.peek()[1] != ")":
                items.append(self.term())
                while self.peek()[1] == ",":
                    self.next()
                    items.append(self.term())
            self.expect(")")
            return ListConstant(tuple(items))
        if kind in ("pname", "iriref"):
            return IRI(self.iri())
        raise ValueError(f"expected term, got {val!r}")


def parse_document(text: str) -> tuple[list[Template], dict[str, str]]:
    """Parse one stOTTR document; returns (templates, prefixes)."""
    p = _Parser(text)
    templates = p.document()
    return templates, p.prefixes
