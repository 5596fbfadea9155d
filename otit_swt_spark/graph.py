"""GraphStore — the triples DataFrame.

The reference never stores the knowledge graph; it POSTs SPARQL to an
external endpoint (hybrid/src/static_sparql.rs:46-99). Spark-first design:
the graph is an ordinary DataFrame ``(s, p, o_iri, o_lex, o_dt, o_lang)``
and SPARQL basic graph patterns become self-joins over it (S2RDF-style).
Exactly one of ``o_iri`` / ``o_lex`` is non-null per row; ``o_dt`` is the
literal datatype IRI (null for IRI/blank objects), ``o_lang`` the language
tag.

Loaders accept programmatic triples, N-Triples text, and the reference test
suite's ``INSERT DATA``/Turtle-lite syntax
(hybrid/tests/query_execution_testdata/testdata.sparql).
"""

from __future__ import annotations

import re
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from otit_swt_spark.session import job_description
from otit_swt_spark.terms import (
    NT_ESCAPES,
    RDF_LANGSTRING,
    RDF_TYPE,
    XSD_BOOLEAN,
    XSD_STRING,
    BlankNode,
    IRI,
    Literal,
    Term,
    numeric_datatype,
    sparql_json_term,
    triple_row,
    unescape,
)

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("s", T.StringType(), False),
        T.StructField("p", T.StringType(), False),
        T.StructField("o_iri", T.StringType(), True),
        T.StructField("o_lex", T.StringType(), True),
        T.StructField("o_dt", T.StringType(), True),
        T.StructField("o_lang", T.StringType(), True),
    ]
)

#: Most triples a predicate may hold and still get its own relation built
#: on the driver (GraphStore.vp): below it a BGP join reads a LocalRelation
#: instead of scanning the whole graph for one predicate.
VP_INLINE_MAX_ROWS = 10_000


def catalog_of(df: DataFrame) -> dict[str, dict]:
    """Per-predicate object-datatype catalog of a triples frame:
    ``{predicate: {"dt": datatype-iri-or-None, "mixed": bool, "n": int}}``.

    ``dt`` is the single literal datatype when every literal object of the
    predicate agrees, None when the predicate has no literal objects (IRI
    and blank-node objects only) or is mixed; ``mixed`` marks predicates
    whose objects mix literal datatypes, or mix IRIs with non-string
    literals — the cases where one output column cannot be typed soundly
    (the reference raises InconsistentDatatype for these,
    hybrid/src/engine.rs:137-198). A literal without a datatype, and a
    tagged one (rdf:langString), counts as xsd:string: one string column.
    ``n`` is the predicate's triple count, free in the same aggregate; it
    drives selectivity-ordered BGP joins (compiler). One
    map-side-combinable aggregate."""
    lit_dt = F.when(F.col("o_lex").isNotNull(), F.when(
        F.col("o_dt").isNull() | (F.col("o_dt") == RDF_LANGSTRING),
        F.lit(XSD_STRING)).otherwise(F.col("o_dt")))
    rows = (
        df.groupBy("p")
        .agg(
            F.count_distinct(lit_dt).alias("n_dt"),
            F.max(lit_dt).alias("dt"),
            F.count("o_iri").alias("n_iri"),
            F.count("o_lex").alias("n_lex"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    out = {}
    for r in rows:
        mixed = r["n_dt"] > 1 or (r["n_iri"] > 0 and r["n_lex"] > 0
                                  and r["dt"] != XSD_STRING)
        out[r["p"]] = {"dt": None if mixed else r["dt"], "mixed": mixed,
                       "n": r["n"]}
    return out


def merge_catalogs(catalogs: list[dict]) -> dict:
    """Merge predicate catalogs (``catalog_of``) of several triple frames
    into the catalog of their union: exact agreement keeps the type; a
    string/IRI-only mix stays a plain string column; any other
    disagreement is a mixed predicate (the judgement catalog_of makes
    within one frame, so the merge equals a recompute over the union).
    An rdf:langString type, as catalogs persisted before catalog_of folded
    it hold, merges as xsd:string. Counts add; catalogs persisted without
    counts merge as count 0."""
    merged: dict[str, dict] = {}
    for cat in catalogs:
        for p, info in cat.items():
            if info.get("dt") == RDF_LANGSTRING:
                info = {**info, "dt": XSD_STRING}
            cur = merged.get(p)
            if cur is None:
                merged[p] = dict(info)
                continue
            # compare the TYPE judgement only — entries also carry the
            # selectivity count "n", and comparing full dicts misflagged
            # identically-typed predicates as mixed whenever their counts
            # differed
            n = cur.get("n", 0) + info.get("n", 0)
            if (cur.get("dt"), cur.get("mixed")) == \
                    (info.get("dt"), info.get("mixed")):
                merged[p] = {**cur, "n": n}
                continue
            dts = {cur.get("dt"), info.get("dt")}
            if (not cur["mixed"] and not info["mixed"]
                    and dts <= {None, XSD_STRING}):
                merged[p] = {"dt": XSD_STRING if XSD_STRING in dts else None,
                             "mixed": False, "n": n}
            else:
                merged[p] = {"dt": None, "mixed": True, "n": n}
    return merged


class GraphStore:
    """A knowledge graph held as a Spark DataFrame of triples.

    A triple pattern with a constant predicate reads that predicate's own
    relation (:meth:`vp`, S2RDF's vertical partitioning): a predicate of at
    most ``VP_INLINE_MAX_ROWS`` triples is collected once into a driver-side
    LocalRelation, so BGP joins over small predicates never rescan the
    graph; a larger one is a ``p`` filter over the triples DataFrame,
    which on a predicate-partitioned parquet table (:meth:`materialized`)
    is a pruned scan of its one partition.
    """

    def __init__(self, spark: SparkSession, df: DataFrame | None = None):
        self.spark = spark
        self.df = df if df is not None else spark.createDataFrame([], TRIPLES_SCHEMA)
        self._pred_dt: dict[str, dict] | None = None

    @property
    def df(self) -> DataFrame:
        return self._df

    @df.setter
    def df(self, df: DataFrame) -> None:
        # every per-predicate relation was read from the old frame
        self._df = df
        self._vp: dict[str, DataFrame] = {}

    def predicate_datatypes(self) -> dict[str, dict]:
        """Per-predicate object-datatype catalog (see ``catalog_of``),
        computed lazily and cached per store: the compiler uses it to type
        object variables at compile time, which removes the Engine's
        per-query datatype probe job and makes mixed-datatype detection
        exact instead of probe-window-limited. add_triples_df merges the
        added frame's catalog into a cached one."""
        if self._pred_dt is None:
            self._pred_dt = catalog_of(self.df)
        return self._pred_dt

    def predicate_count(self, predicate: str) -> int | None:
        """Triple count for a predicate from the catalog (None when the
        catalog predates counts or the predicate is absent)."""
        info = self.predicate_datatypes().get(predicate)
        return None if info is None else info.get("n")

    def vp(self, predicate: str) -> DataFrame:
        """The triples of one predicate, memoized per store. A predicate the
        catalog counts at most ``VP_INLINE_MAX_ROWS`` times is collected
        once, JVM-side (exact column types, no Python round trip), into its
        own LocalRelation (job ``otit:vp``); any other predicate is a ``p``
        filter over :attr:`df`. Built on the first compile that reads the
        predicate, not in the catalog pass: a parquet store's catalog comes
        from its sidecar with no job, and an eager build would add one to
        set-up."""
        rel = self._vp.get(predicate)
        if rel is not None:
            return rel
        rel = self._df.filter(F.col("p") == predicate)
        cap = VP_INLINE_MAX_ROWS
        n = self.predicate_count(predicate)
        if n is not None and n <= cap:
            with job_description(self.spark, "otit:vp"):
                # the limit guards a count gone stale under a replaced df
                jrows = rel.limit(cap + 1)._jdf.collectAsList()
            if jrows.size() <= cap:
                rel = DataFrame(self.spark._jsparkSession.createDataFrame(
                    jrows, rel._jdf.schema()), self.spark)
        self._vp[predicate] = rel
        return rel

    # -- constructors ------------------------------------------------------

    @classmethod
    def from_triples(
        cls, spark: SparkSession, triples: Iterable[tuple[Term, Term, Term]]
    ) -> "GraphStore":
        rows = [triple_row(s, p, o) for (s, p, o) in triples]
        return cls(spark, spark.createDataFrame(rows, TRIPLES_SCHEMA))

    @classmethod
    def from_ntriples(cls, spark: SparkSession, text: str) -> "GraphStore":
        triples = list(parse_ntriples(text))
        return cls.from_triples(spark, triples)

    @classmethod
    def from_sparql_insert(cls, spark: SparkSession, text: str) -> "GraphStore":
        """Parse the reference testdata format: PREFIX decls + INSERT DATA {...}."""
        triples = list(parse_turtle_lite(text))
        return cls.from_triples(spark, triples)

    @classmethod
    def read_parquet(cls, spark: SparkSession, path: str) -> "GraphStore":
        return cls(spark, spark.read.parquet(path))

    @classmethod
    def from_endpoint(
        cls,
        spark: SparkSession,
        url: str,
        page_size: int = 10_000,
        max_pages: int = 100_000,
        http_post=None,
        distributed: bool = True,
        num_partitions: int | None = None,
    ) -> "GraphStore":
        """Pull a remote SPARQL endpoint into the triples DataFrame — API
        parity with the reference's HTTP data path
        (hybrid/src/static_sparql.rs:46-99), restructured Spark-first: the
        graph is fetched ONCE and joined in-plan afterwards, instead of one
        POST per query.

        Default (``distributed=True``): ONE tiny driver POST counts the
        graph, then N offset-range pages are fetched in parallel by
        executor tasks (``mapInPandas`` over a page-index range frame) —
        the driver never materializes the triples, so graph size is bounded
        by cluster memory, not driver memory. The pulled frame is persisted
        so repeated queries hit the cache instead of the endpoint.
        Consistency note (same as the reference's LIMIT/OFFSET paging): the
        endpoint must serve a stable snapshot across the pulls.

        ``distributed=False`` falls back to sequential driver-side paging —
        for endpoints without COUNT support or when a closure-injected
        ``http_post`` must not cross process boundaries.

        Pages ``SELECT ?s ?p ?o`` with LIMIT/OFFSET and parses
        application/sparql-results+json. ``http_post(url, query) -> dict``
        is injectable (tests, auth, retry policies); the default uses
        urllib. Distributed posters are pickled to executors — use
        module-level functions or self-contained closures."""
        poster = http_post or _default_sparql_post
        if not distributed:
            rows: list[tuple] = []
            offset = 0
            for _ in range(max_pages):
                q = (f"SELECT ?s ?p ?o WHERE {{ ?s ?p ?o }} "
                     f"LIMIT {page_size} OFFSET {offset}")
                doc = poster(url, q)
                bindings = doc.get("results", {}).get("bindings", [])
                rows.extend(triple_row(*(sparql_json_term(b[k]) for k in "spo"))
                            for b in bindings)
                if len(bindings) < page_size:
                    break
                offset += page_size
            return cls(spark, spark.createDataFrame(rows, TRIPLES_SCHEMA))

        doc = poster(url, "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }")
        n = int(doc["results"]["bindings"][0]["n"]["value"])
        n_pages = min(max_pages, max(1, -(-n // page_size)))
        parts = num_partitions or max(
            1, min(n_pages, spark.sparkContext.defaultParallelism))
        cols = [f.name for f in TRIPLES_SCHEMA]

        def pull(batches):
            import pandas as pd

            for pdf in batches:
                for page in pdf["id"].tolist():
                    q = (f"SELECT ?s ?p ?o WHERE {{ ?s ?p ?o }} "
                         f"LIMIT {page_size} OFFSET {page * page_size}")
                    d = poster(url, q)
                    rows = [triple_row(*(sparql_json_term(b[k]) for k in "spo"))
                            for b in d.get("results", {}).get("bindings", [])]
                    yield pd.DataFrame(rows, columns=cols)

        pages = spark.range(0, n_pages, numPartitions=parts)
        return cls(spark, pages.mapInPandas(pull, TRIPLES_SCHEMA).persist())

    # -- mutation ----------------------------------------------------------

    def add_triples_df(self, df: DataFrame) -> "GraphStore":
        df = df.select(*[f.name for f in TRIPLES_SCHEMA])
        kept = self._vp
        self.df = self.df.unionByName(df)
        if self._pred_dt is not None:
            # the catalog is a per-predicate summary that merges exactly:
            # aggregate the added triples only, not the whole graph again
            added = catalog_of(df)
            self._pred_dt = merge_catalogs([self._pred_dt, added])
            # only the added triples' predicates changed
            self._vp = {p: rel for p, rel in kept.items() if p not in added}
        return self

    # -- sinks -------------------------------------------------------------

    def write_parquet(self, path: str, partition_by_predicate: bool = False) -> None:
        w = self.df.write.mode("overwrite")
        if partition_by_predicate:
            w = w.partitionBy("p")
        w.parquet(path)

    def materialized(self, path: str, overwrite: bool = False) -> "GraphStore":
        """Materialize predicate-partitioned (S2RDF-style vertical
        partitioning) and return a store reading from the layout: each BGP
        triple pattern then scans exactly one predicate partition
        (PartitionFilters) instead of re-deriving the triple view. Skips
        the write if ``path`` already exists unless ``overwrite``.

        The predicate->datatype catalog is persisted alongside the layout
        (``_pred_datatypes.json`` — parquet readers skip ``_``-prefixed
        files), so a fresh session opening the store types object variables
        at compile time without re-aggregating the graph."""
        import json
        import os

        cat_path = os.path.join(path, "_pred_datatypes.json")
        if overwrite or not os.path.exists(path):
            self.write_parquet(path, partition_by_predicate=True)
        store = GraphStore.read_parquet(self.spark, path)
        if os.path.exists(cat_path):
            with open(cat_path) as fh:
                store._pred_dt = json.load(fh)
        else:
            catalog = (self._pred_dt if self._pred_dt is not None
                       else store.predicate_datatypes())
            store._pred_dt = catalog
            try:
                with open(cat_path, "w") as fh:
                    json.dump(catalog, fh)
            except OSError:
                pass  # read-only layout: catalog stays session-local
        return store

    def bucketed(self, table_name: str, path: str, n_buckets: int = 64,
                 overwrite: bool = False) -> "GraphStore":
        """Materialize the graph subject-bucketed and subject-sorted
        (``bucketBy(n, "s").sortBy("s")``): BGP self-joins on a shared
        subject variable then run as shuffle-FREE sort-merge joins — bucket
        co-location replaces the per-pattern exchange, the dominant cost of
        star-shaped patterns on a fact-scale graph. Complements
        :meth:`materialized` (predicate partitioning prunes the scan;
        subject bucketing removes the join shuffle).

        Bucket metadata lives in the session catalog; an existing layout
        on disk is RE-REGISTERED (``CREATE TABLE ... CLUSTERED BY``)
        without rewriting, so the one-time write survives in-memory-catalog
        sessions too (a shared metastore makes even that step unnecessary
        on a real cluster)."""
        import os

        exists = self.spark.catalog.tableExists(table_name)
        if overwrite or (not exists and not os.path.exists(path)):
            if exists:
                self.spark.sql(f"DROP TABLE {table_name}")
            (self.df.write.mode("overwrite").format("parquet")
             .bucketBy(n_buckets, "s").sortBy("s")
             .option("path", path).saveAsTable(table_name))
        elif not exists:  # layout on disk from a prior session: re-register
            cols = ", ".join(f"{f.name} STRING" for f in TRIPLES_SCHEMA)
            self.spark.sql(
                f"CREATE TABLE {table_name} ({cols}) USING parquet "
                f"CLUSTERED BY (s) SORTED BY (s) INTO {n_buckets} BUCKETS "
                f"LOCATION '{path}'")
        store = GraphStore(self.spark, self.spark.table(table_name))
        store._pred_dt = self._pred_dt
        return store

    def to_ntriples_df(self) -> DataFrame:
        """Serialize to one N-Triples line per row, column ``value``
        (reference: mapper/src/mapping/ntriples_write.rs:52), escaping a
        literal like ``Literal.ntriples`` (``terms.NT_ESCAPES``). Pure
        built-in functions — stays in whole-stage codegen."""
        df = self.df
        s_term = F.when(F.col("s").startswith("_:"), F.col("s")).otherwise(
            F.concat(F.lit("<"), F.col("s"), F.lit(">"))
        )
        esc = F.col("o_lex")
        for ch, echar in NT_ESCAPES:
            esc = F.replace(esc, F.lit(ch), F.lit(echar))
        lit_term = (
            F.when(
                F.col("o_lang").isNotNull(),
                F.concat(F.lit('"'), esc, F.lit('"@'), F.col("o_lang")),
            )
            .when(
                F.col("o_dt").isNotNull() & (F.col("o_dt") != XSD_STRING),
                F.concat(F.lit('"'), esc, F.lit('"^^<'), F.col("o_dt"), F.lit(">")),
            )
            .otherwise(F.concat(F.lit('"'), esc, F.lit('"')))
        )
        o_term = (
            F.when(F.col("o_iri").isNotNull() & F.col("o_iri").startswith("_:"), F.col("o_iri"))
            .when(F.col("o_iri").isNotNull(), F.concat(F.lit("<"), F.col("o_iri"), F.lit(">")))
            .otherwise(lit_term)
        )
        return df.select(
            F.concat_ws(
                " ", s_term, F.concat(F.lit("<"), F.col("p"), F.lit(">")), o_term, F.lit(".")
            ).alias("value")
        )

    def write_ntriples(self, path: str) -> None:
        self.to_ntriples_df().write.mode("overwrite").text(path)


def _default_sparql_post(url: str, query: str) -> dict:
    """POST a SPARQL query (form-encoded, like the reference's reqwest call
    in static_sparql.rs:46-99) and decode the SPARQL-JSON response."""
    import json
    from urllib import parse, request

    data = parse.urlencode({"query": query}).encode()
    req = request.Request(url, data=data, headers={
        "Accept": "application/sparql-results+json",
        "Content-Type": "application/x-www-form-urlencoded",
    })
    with request.urlopen(req, timeout=120) as resp:
        return json.loads(resp.read().decode("utf-8"))


# -- text parsers (driver-side; graphs arrive as small text documents) -----

_IRIREF = r"<([^>]*)>"
_PNAME = r"([A-Za-z_][\w.-]*)?:([A-Za-z_][\w.-]*)"
_BNODE = r"_:([A-Za-z_][\w.-]*)"
_STRING = r'"((?:[^"\\]|\\.)*)"'

#: an IRI, a string, or a comment: ``#`` to the end of the line outside the
#: other two
_COMMENT_RE = re.compile(rf"{_IRIREF}|{_STRING}|#[^\r\n]*")


def _strip_comments(text: str) -> str:
    """``text`` with every comment turned into whitespace."""
    return _COMMENT_RE.sub(
        lambda m: " " if m.group(0).startswith("#") else m.group(0), text)


_TOKEN_RE = re.compile(
    rf"""(?x)
    (?P<iri>{_IRIREF})
  | (?P<string>{_STRING})(?:\^\^<(?P<dt_iri>[^>]*)>|\^\^(?P<dt_pn>{_PNAME})|@(?P<lang>[A-Za-z-]+))?
  | (?P<bnode>{_BNODE})
  | (?P<a>\ba\b)
  | (?P<pname>{_PNAME})
  | (?P<num>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<bool>\btrue\b|\bfalse\b)
  | (?P<punct>[;,.\{{\}}])
  """
)

_PREFIX_RE = re.compile(r"(?i)PREFIX\s+([A-Za-z_][\w-]*)?\s*:\s*<([^>]*)>")
_INSERT_RE = re.compile(r"(?i)INSERT\s+DATA\s*\{")


def parse_turtle_lite(text: str) -> Iterable[tuple[Term, Term, Term]]:
    """Parse PREFIX decls + triples in Turtle-ish syntax, with optional
    ``INSERT DATA { ... }`` wrapper. Supports `;` and `,` continuation,
    `a` for rdf:type, prefixed names, typed/tagged literals, numbers,
    booleans, ``#`` comments."""
    text = _strip_comments(text)
    prefixes = dict(_PREFIX_RE.findall(text))
    prefixes = {(k or ""): v for k, v in prefixes.items()}
    body = _PREFIX_RE.sub(" ", text)
    m = _INSERT_RE.search(body)
    if m:
        start = m.end()
        end = body.rfind("}")
        body = body[start:end]

    def resolve(prefix: str, local: str) -> IRI:
        if prefix not in prefixes:
            raise ValueError(f"unknown prefix '{prefix}:' in graph document")
        return IRI(prefixes[prefix] + local)

    terms: list[Term | str] = []
    for tok in _TOKEN_RE.finditer(body):
        # NOT tok.lastgroup: for suffixed strings ("x"@en, "x"^^xsd:t) the
        # last *matched* named group is the suffix (or an unnamed pname
        # capture), so lastgroup misidentifies — probe the alternatives.
        kind = next(k for k in ("iri", "string", "bnode", "a", "pname",
                                "num", "bool", "punct")
                    if tok.group(k) is not None)
        if kind == "iri":
            terms.append(IRI(tok.group(2)))
        elif kind == "string":
            lex = unescape(tok.group(4))
            if tok.group("dt_iri"):
                terms.append(Literal(lex, tok.group("dt_iri")))
            elif tok.group("dt_pn"):
                pfx, local = tok.group("dt_pn").split(":", 1)
                terms.append(Literal(lex, resolve(pfx, local).value))
            elif tok.group("lang"):
                terms.append(Literal(lex, RDF_LANGSTRING, tok.group("lang")))
            else:
                terms.append(Literal(lex))
        elif kind == "bnode":
            terms.append(BlankNode(tok.group(0)[2:]))
        elif kind == "a":
            terms.append(IRI(RDF_TYPE))
        elif kind == "pname":
            pfx = tok.group(0).split(":", 1)
            terms.append(resolve(pfx[0], pfx[1]))
        elif kind == "num":
            terms.append(Literal(tok.group(0), numeric_datatype(tok.group(0))))
        elif kind == "bool":
            terms.append(Literal(tok.group(0), XSD_BOOLEAN))
        elif kind == "punct":
            terms.append(tok.group(0))

    s = p = None
    expect = "s"
    for t in terms:
        if t in ("{", "}"):
            continue
        if t == ".":
            s = p = None
            expect = "s"
            continue
        if t == ";":
            expect = "p"
            continue
        if t == ",":
            expect = "o"
            continue
        if expect == "s":
            s = t
            expect = "p"
        elif expect == "p":
            p = t
            expect = "o"
        else:
            yield (s, p, t)
            expect = "punct_or_o"


_NT_LINE = re.compile(
    rf"""(?x)^\s*
    (?:<(?P<s>[^>]*)>|(?P<sb>_:[A-Za-z_][\w.-]*))\s+
    <(?P<p>[^>]*)>\s+
    (?:<(?P<o>[^>]*)>
      |(?P<ob>_:[A-Za-z_][\w.-]*)
      |{_STRING}(?:\^\^<(?P<dt>[^>]*)>|@(?P<lang>[A-Za-z-]+))?)
    \s*\.\s*$"""
)


def parse_ntriples(text: str) -> Iterable[tuple[Term, Term, Term]]:
    # lines end at CR or LF only: str.splitlines would also split a
    # literal holding a form feed or a line separator
    for line in re.split(r"[\r\n]", _strip_comments(text)):
        line = line.strip()
        if not line:
            continue
        m = _NT_LINE.match(line)
        if not m:
            raise ValueError(f"bad N-Triples line: {line!r}")
        s: Term = IRI(m.group("s")) if m.group("s") else BlankNode(m.group("sb")[2:])
        p = IRI(m.group("p"))
        if m.group("o") is not None:
            o: Term = IRI(m.group("o"))
        elif m.group("ob"):
            o = BlankNode(m.group("ob")[2:])
        else:
            lex = unescape(m.group(6))
            lang = m.group("lang")
            dt = RDF_LANGSTRING if lang else m.group("dt") or XSD_STRING
            o = Literal(lex, dt, lang)
        yield (s, p, o)
