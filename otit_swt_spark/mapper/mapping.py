"""stOTTR template expansion over Spark DataFrames.

Re-expression of the reference's mapper (reference: mapper/src/mapping.rs
— ``expand`` at :245-317, argument remapping at :372-446, list expanders at
:428-446, constants at :448-560; minting mapper/src/mapping/mint.rs:9-117;
N-Triples sink mapper/src/mapping/ntriples_write.rs) with a Spark-first
design:

- expansion is **pure plan construction**: every leaf ``ottr:Triple``
  becomes a ``select`` (+ ``explode`` for list expanders) over the input
  DataFrame, and the triple store is a lazy ``unionByName`` of those
  projections. Nothing shuffles; the triple frames inherit the source
  table's partitioning, so expanding a 100 TB table is a single map-stage.
- constants fold into ``F.lit``/``F.array`` literals so Catalyst
  constant-folds them.
- the only global operation is dense IRI minting (``row_number`` over a
  Key-ordered window, matching the reference's sequential numbering). For
  scale-out minting use ``suffix_generator="uuid"`` which is embarrassingly
  parallel.

Triple storage follows the reference's split (mapper/src/mapping.rs:86-103):
object properties ``(Key, subject, verb, object: string)`` and data
properties ``(Key, subject, verb, object: struct<lexical_form, language_tag,
datatype_iri>)`` (struct fields per mapper/src/mapping.rs:582-588).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql import types as T

from otit_swt_spark.graph import GraphStore
from otit_swt_spark.mapper.ast import (
    OTTR_NULLABLE_TRIPLE,
    OTTR_TRIPLE,
    XSD,
    BlankNode,
    Instance,
    IRI,
    ListConstant,
    Literal,
    Template,
    Variable,
)
from otit_swt_spark.mapper.parser import parse_document
from otit_swt_spark.terms import RDF_LANGSTRING

KEY_COL = "Key"

LITERAL_STRUCT = T.StructType([
    T.StructField("lexical_form", T.StringType()),
    T.StructField("language_tag", T.StringType()),
    T.StructField("datatype_iri", T.StringType()),
])


@dataclass
class MintingOptions:
    """IRI minting for a missing column (reference mapper/src/mapping/mint.rs).

    ``suffix_generator``: an int start value for dense sequential numbering
    (reference ``SuffixGenerator::Numbering(n)``) or the string ``"uuid"``
    for distributed-friendly random suffixes."""

    prefix: str
    suffix_generator: object = 0
    list_length: int | None = None


@dataclass
class ResolveIRI:
    """Resolve a missing IRI column by joining previously minted IRIs
    (reference mapper/src/mapping/validation_inference/resolve_columns.rs)."""

    key_column: str
    template: str
    argument: str


@dataclass
class ExpandOptions:
    language_tags: dict[str, str] | None = None
    mint_iris: dict[str, MintingOptions] | None = None
    resolve_iris: dict[str, ResolveIRI] | None = None


@dataclass
class ExpandReport:
    minted_iris: DataFrame | None = None


# Spark dtype -> XSD datatype IRI (reference
# mapper/src/mapping/validation_inference.rs:386-398; unsigned types have no
# Spark analog so the signed ladder covers them)
_DTYPE_TO_XSD = {
    T.BooleanType(): XSD + "boolean",
    T.ByteType(): XSD + "byte",
    T.ShortType(): XSD + "short",
    T.IntegerType(): XSD + "int",
    T.LongType(): XSD + "long",
    T.FloatType(): XSD + "float",
    T.DoubleType(): XSD + "double",
    T.StringType(): XSD + "string",
    T.DateType(): XSD + "date",
    T.TimestampType(): XSD + "dateTimeStamp",
    T.TimestampNTZType(): XSD + "dateTime",
}


def _xsd_for_dtype(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return XSD + "decimal"
    try:
        return _DTYPE_TO_XSD[dt]
    except KeyError:
        raise ValueError(f"no XSD mapping for Spark type {dt}") from None


def _lexical(col: Column, dt: T.DataType) -> Column:
    """Canonical lexical form per dtype (reference validation_inference.rs
    stringifies with explicit datetime formatting)."""
    if isinstance(dt, T.TimestampType):
        return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
    if isinstance(dt, (T.TimestampNTZType,)):
        return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSS")
    return col.cast("string")


@dataclass
class _Bound:
    """A bound argument column: Spark expression + RDF-term metadata."""

    col: Column
    is_iri: bool = False
    datatype: str | None = None
    language: str | None = None
    dtype: T.DataType | None = None
    is_list: bool = False


class Mapping:
    """Template dataset + triple store + ``expand`` entry point.

    API mirrors the reference Python surface
    (py_otit_swt_mapper/src/lib.rs: Mapping, expand, to_triples,
    write_ntriples)."""

    def __init__(self, documents: str | list[str] | None = None,
                 spark: SparkSession | None = None):
        self.spark = spark or SparkSession.getActiveSession()
        self.templates: dict[str, Template] = {}
        self.prefixes: dict[str, str] = {}
        self._object_frames: list[DataFrame] = []
        self._data_frames: list[DataFrame] = []
        #: minted IRVs keyed by (template_iri, argument): DataFrame[Key, col]
        self._minted: dict[tuple[str, str], DataFrame] = {}
        self._mint_next: dict[tuple[str, str], int] = {}
        self._blank_counter = 0
        if documents is not None:
            if isinstance(documents, str):
                documents = [documents]
            for doc in documents:
                self.add_document(doc)

    # -- template dataset ---------------------------------------------------
    @classmethod
    def from_str(cls, document: str, spark: SparkSession | None = None) -> "Mapping":
        return cls(document, spark=spark)

    @classmethod
    def from_strs(cls, documents: list[str], spark: SparkSession | None = None) -> "Mapping":
        return cls(documents, spark=spark)

    def add_document(self, document: str):
        templates, prefixes = parse_document(document)
        self.prefixes.update(prefixes)
        for t in templates:
            self.templates[t.iri] = t

    def _resolve_template(self, iri: str) -> Template:
        if iri in self.templates:
            return self.templates[iri]
        for pfx, base in self.prefixes.items():
            full = iri.replace(pfx + ":", base, 1) if iri.startswith(pfx + ":") else None
            if full and full in self.templates:
                return self.templates[full]
        raise KeyError(f"unknown template {iri!r}")

    # -- expansion ----------------------------------------------------------
    def expand(self, template_iri: str, df: DataFrame,
               options: ExpandOptions | None = None) -> ExpandReport:
        options = options or ExpandOptions()
        template = self._resolve_template(template_iri)
        if KEY_COL not in df.columns:
            raise ValueError(f"input DataFrame must have a {KEY_COL!r} column "
                             "identifying source rows (reference mapping.rs:46)")
        report = ExpandReport()

        # mint / resolve missing argument columns
        mint = options.mint_iris or {}
        resolve = options.resolve_iris or {}
        iri_cols = set()
        for name, m in mint.items():
            df, minted = self._mint(template.iri, name, df, m)
            iri_cols.add(name)
            frame = minted.select(KEY_COL, name)
            # several minted arguments: report them ALL (a plain
            # assignment kept only the last loop iteration's frame)
            report.minted_iris = (frame if report.minted_iris is None
                                  else report.minted_iris.join(frame,
                                                               KEY_COL))
        for name, r in resolve.items():
            prior = self._minted.get((r.template, r.argument))
            if prior is None:
                raise KeyError(f"no minted IRIs recorded for {r.template}#{r.argument}")
            prior = prior.withColumnRenamed(KEY_COL, r.key_column) \
                         .withColumnRenamed(r.argument, name)
            df = df.join(prior, on=r.key_column, how="left").drop(r.key_column)
            iri_cols.add(name)

        # bind signature parameters to columns
        schema = {f.name: f.dataType for f in df.schema.fields}
        bindings: dict[str, _Bound] = {}
        lang_tags = options.language_tags or {}
        for p in template.parameters:
            if p.name not in schema:
                if p.default is not None:
                    bindings[p.name] = self._const(p.default)
                    continue
                if p.optional:
                    bindings[p.name] = _Bound(F.lit(None).cast("string"),
                                              datatype=XSD + "string",
                                              dtype=T.StringType())
                    continue
                raise ValueError(f"missing column for parameter ?{p.name}")
            dt = schema[p.name]
            is_iri = p.name in iri_cols or (p.ptype is not None and p.ptype.is_iri_type)
            is_list = isinstance(dt, T.ArrayType)
            # declared-shape validation (reference
            # mapper/src/mapping/validation_inference.rs:38-130)
            if p.ptype is not None and p.ptype.kind in ("list", "nelist") and not is_list:
                raise ValueError(f"parameter ?{p.name} declared {p.ptype.kind} "
                                 f"but column has non-array type {dt}")
            if p.ptype is not None and p.ptype.kind == "nelist":
                bad = df.filter(F.size(F.col(p.name)) == 0)
                if not bad.isEmpty():
                    raise ValueError(f"NEList parameter ?{p.name} has empty lists")
            if p.non_blank and isinstance(dt, T.StringType):
                bad = df.filter(F.col(p.name).startswith("_:"))
                if not bad.isEmpty():
                    raise ValueError(f"non-blank parameter ?{p.name} (!) "
                                     "contains blank-node values")
            elem = dt.elementType if is_list else dt
            bindings[p.name] = _Bound(
                F.col(p.name),
                is_iri=is_iri,
                datatype=None if is_iri else _xsd_for_dtype(elem),
                language=lang_tags.get(p.name),
                dtype=elem,
                is_list=is_list,
            )
        self._expand_instances(template.instances, df, bindings)
        return report

    def _expand_instances(self, instances: list[Instance], df: DataFrame,
                          bindings: dict[str, _Bound]):
        for inst in instances:
            self._expand_instance(inst, df, bindings)

    def _expand_instance(self, inst: Instance, df: DataFrame,
                         bindings: dict[str, _Bound]):
        args: list[_Bound] = []
        expand_idx: list[int] = []
        for i, a in enumerate(inst.arguments):
            if isinstance(a.term, Variable):
                b = bindings[a.term.name]
            else:
                b = self._const(a.term)
            args.append(b)
            if a.list_expand:
                expand_idx.append(i)

        # materialize argument columns as _a0.._aN alongside Key
        proj = df.select(KEY_COL, *[args[i].col.alias(f"_a{i}") for i in range(len(args))])
        args = [
            _Bound(F.col(f"_a{i}"), b.is_iri, b.datatype, b.language, b.dtype, b.is_list)
            for i, b in enumerate(args)
        ]

        if expand_idx:
            proj, args = self._apply_expander(inst.expander or "cross", proj, args, expand_idx)

        if inst.template_iri in (OTTR_TRIPLE, OTTR_NULLABLE_TRIPLE):
            self._emit_triple(proj, args,
                              nullable=inst.template_iri == OTTR_NULLABLE_TRIPLE)
            return
        callee = self._resolve_template(inst.template_iri)
        new_bindings = {p.name: args[i] for i, p in enumerate(callee.parameters)}
        self._expand_instances(callee.instances, proj, new_bindings)

    def _apply_expander(self, expander: str, proj: DataFrame, args: list[_Bound],
                        expand_idx: list[int]):
        """List expanders (reference mapping.rs:428-446): cross = sequential
        explodes; zipMin = arrays_zip + explode dropping null-padded rows;
        zipMax = arrays_zip + explode keeping the longer list's tail."""
        names = [f"_a{i}" for i in expand_idx]
        if expander == "cross":
            for n in names:
                proj = proj.withColumn(n, F.explode(n)).filter(F.col(n).isNotNull())
        elif expander in ("zipMin", "zipMax"):
            zipped = F.arrays_zip(*names).alias("_z")
            proj = proj.withColumn("_z", F.explode(zipped))
            for n in names:
                proj = proj.withColumn(n, F.col(f"_z.{n}"))
            proj = proj.drop("_z")
            cond = None
            for n in names:
                c = F.col(n).isNotNull()
                cond = c if cond is None else (cond & c) if expander == "zipMin" else (cond | c)
            proj = proj.filter(cond)
        else:
            raise ValueError(f"unknown list expander {expander!r}")
        new_args = []
        for i, b in enumerate(args):
            if i in expand_idx:
                new_args.append(_Bound(F.col(f"_a{i}"), b.is_iri, b.datatype,
                                       b.language, b.dtype, is_list=False))
            else:
                new_args.append(b)
        return proj, new_args

    def _emit_triple(self, proj: DataFrame, args: list[_Bound],
                     nullable: bool = False):
        if len(args) != 3:
            raise ValueError("ottr:Triple takes exactly 3 arguments")
        s, p, o = args
        base = proj.select(
            F.col(KEY_COL),
            s.col.cast("string").alias("subject"),
            p.col.cast("string").alias("verb"),
            o.col.alias("_obj"),
        )
        if nullable:
            # ottr:NullableTriple: a none-valued argument suppresses the
            # whole triple (object nulls are filtered for both variants
            # below; subject/verb nulls only here)
            base = base.filter(F.col("subject").isNotNull()
                               & F.col("verb").isNotNull())
        if o.is_iri:
            self._object_frames.append(
                base.select(KEY_COL, "subject", "verb",
                            F.col("_obj").cast("string").alias("object"))
                .filter(F.col("object").isNotNull())
            )
        else:
            dt = o.dtype if o.dtype is not None else T.StringType()
            lex = _lexical(F.col("_obj"), dt)
            if o.language:
                struct = F.struct(lex.alias("lexical_form"),
                                  F.lit(o.language).alias("language_tag"),
                                  F.lit(RDF_LANGSTRING).alias("datatype_iri"))
            else:
                struct = F.struct(lex.alias("lexical_form"),
                                  F.lit(None).cast("string").alias("language_tag"),
                                  F.lit(o.datatype or XSD + "string").alias("datatype_iri"))
            self._data_frames.append(
                base.select(KEY_COL, "subject", "verb", struct.alias("object"))
                .filter(F.col("object.lexical_form").isNotNull())
            )

    # -- constants ----------------------------------------------------------
    def _const(self, term) -> _Bound:
        if isinstance(term, IRI):
            return _Bound(F.lit(term.iri), is_iri=True, dtype=T.StringType())
        if isinstance(term, BlankNode):
            return _Bound(F.lit(f"_:{term.name}"), is_iri=True, dtype=T.StringType())
        if isinstance(term, Literal):
            if term.language:
                return _Bound(F.lit(term.lexical), datatype=RDF_LANGSTRING,
                              language=term.language, dtype=T.StringType())
            return _Bound(F.lit(term.lexical), datatype=term.datatype,
                          dtype=T.StringType())
        if isinstance(term, ListConstant):
            items = [self._const(t) for t in term.items]
            first = items[0] if items else None
            return _Bound(
                F.array(*[b.col for b in items]),
                is_iri=first.is_iri if first else False,
                datatype=first.datatype if first else None,
                language=first.language if first else None,
                dtype=T.StringType(),
                is_list=True,
            )
        raise ValueError(f"cannot bind constant {term!r}")

    # -- minting ------------------------------------------------------------
    def _mint(self, template_iri: str, name: str, df: DataFrame,
              m: MintingOptions) -> tuple[DataFrame, DataFrame]:
        key = (template_iri, name)
        if m.suffix_generator == "uuid":
            suffix = F.replace(F.uuid(), F.lit("-"), F.lit(""))
            minted = df.withColumn(name, F.concat(F.lit(m.prefix), suffix))
        else:
            start = self._mint_next.get(key, int(m.suffix_generator))
            # Dense sequential numbering = global rank ordered by Key,
            # computed scalably: range-partition by Key and sort within
            # partitions (one shuffle), take the within-partition record
            # number from monotonically_increasing_id's lower 33 bits
            # (documented bit layout: partition id high, record number low),
            # then add the cumulative size of preceding partitions (a tiny
            # collect). No single-partition global window — the round-1
            # W.orderBy(Key) funneled the whole frame through one task.
            spark = df.sparkSession
            par = max(spark.sparkContext.defaultParallelism, 1)
            ranged = (df.repartitionByRange(par, F.col(KEY_COL))
                      .sortWithinPartitions(KEY_COL)
                      .withColumn("__pid", F.spark_partition_id())
                      .withColumn("__rn", F.monotonically_increasing_id()
                                  .bitwiseAND(F.lit((1 << 33) - 1))))
            counts = ranged.groupBy("__pid").count().collect()
            acc = start
            offs = []
            for r in sorted(counts, key=lambda r: r["__pid"]):
                offs.append((r["__pid"], acc))
                acc += r["count"]
            off_df = spark.createDataFrame(offs or [(0, start)],
                                           "__pid int, __off long")
            minted = (
                ranged.join(F.broadcast(off_df), "__pid")
                .withColumn(name, F.concat(
                    F.lit(m.prefix),
                    (F.col("__rn") + F.col("__off")).cast("string")))
                .drop("__pid", "__rn", "__off")
            )
            self._mint_next[key] = acc
        minted = minted.persist()
        self._minted[key] = minted.select(KEY_COL, name)
        return minted, minted

    # -- triple store views -------------------------------------------------
    def object_property_triples(self) -> DataFrame | None:
        out = None
        for f in self._object_frames:
            out = f if out is None else out.unionByName(f)
        return out

    def data_property_triples(self) -> DataFrame | None:
        out = None
        for f in self._data_frames:
            out = f if out is None else out.unionByName(f)
        return out

    def triples_df(self) -> DataFrame:
        """Unified term-column view in the GraphStore schema ``(s, p, o_iri,
        o_lex, o_dt, o_lang)`` — feeds otit_swt_spark.graph directly
        (``GraphStore(spark, mapping.triples_df())``)."""
        parts = []
        op = self.object_property_triples()
        if op is not None:
            parts.append(op.select(
                F.col("subject").alias("s"), F.col("verb").alias("p"),
                F.col("object").alias("o_iri"),
                F.lit(None).cast("string").alias("o_lex"),
                F.lit(None).cast("string").alias("o_dt"),
                F.lit(None).cast("string").alias("o_lang"),
            ))
        dp = self.data_property_triples()
        if dp is not None:
            parts.append(dp.select(
                F.col("subject").alias("s"), F.col("verb").alias("p"),
                F.lit(None).cast("string").alias("o_iri"),
                F.col("object.lexical_form").alias("o_lex"),
                F.col("object.datatype_iri").alias("o_dt"),
                F.col("object.language_tag").alias("o_lang"),
            ))
        if not parts:
            return self.spark.createDataFrame(
                [], "s string, p string, o_iri string, o_lex string,"
                    " o_dt string, o_lang string")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- sinks --------------------------------------------------------------
    def ntriples_lines(self) -> DataFrame:
        """Scalable N-Triples sink: one formatted line per triple, column
        ``line`` (``GraphStore.to_ntriples_df`` over ``triples_df``). Write
        with ``.write.text(dir)``."""
        return GraphStore(self.spark, self.triples_df()).to_ntriples_df() \
            .toDF("line")

    def write_ntriples(self, path: str):
        """Driver-side convenience writer to a single local file (small
        graphs / tests); use ``ntriples_lines().write.text`` at scale."""
        with open(path, "w") as f:
            for row in self.ntriples_lines().toLocalIterator():
                f.write(row["line"] + "\n")

    def to_triples(self) -> list[tuple[str, str, object]]:
        """Export as Python tuples (subject, verb, object-term) — API parity
        with the reference's ``to_triples`` (mapper/src/mapping/
        export_triples.rs). Object term: str IRI, or (lexical, datatype,
        language) tuple for literals."""
        out = []
        op = self.object_property_triples()
        if op is not None:
            for r in op.collect():
                out.append((r["subject"], r["verb"], r["object"]))
        dp = self.data_property_triples()
        if dp is not None:
            for r in dp.collect():
                o = r["object"]
                out.append((r["subject"], r["verb"],
                            (o["lexical_form"], o["datatype_iri"], o["language_tag"])))
        return out

