"""Engine — the hybrid query entry point.

Reference parity: ``Engine.execute_hybrid_query``
(hybrid/src/engine.rs:57-134, Python surface py_otit_swt_query/src/lib.rs).
The reference's eight lifecycle stages (parse, preprocess, static rewrite,
endpoint execution, TSQ completion, pushdown prep, TS execution, combine)
collapse to three here: parse -> compile to one DataFrame plan -> finalize
output types. Catalyst performs the optimizations the reference hand-rolls
(SURVEY §4.1).
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession, functions as F

from otit_swt_spark.graph import GraphStore, merge_catalogs
from otit_swt_spark.session import job_description
from otit_swt_spark.sparql.compiler import Compiler, SolutionMapping
from otit_swt_spark.sparql.parser import parse_query
from otit_swt_spark.terms import XSD_STRING, spark_type_for_xsd
from otit_swt_spark.timeseries import TimeSeriesTable


#: Most compiled plans an Engine keeps, least recently used out first. A
#: plan holds the rows of every Flight result it inlined (at most
#: ``sources.flight.INLINE_MAX_ROWS`` per read), so the bound caps what
#: the cache keeps on the driver. With one 20,000-row 3-column read per
#: plan (Spark local[2]), 240 distinct query texts held the driver JVM's
#: heap at 100-113 MB; unbounded it grew about 2 MB per plan, to 561 MB.
PLAN_CACHE_MAX = 16


class InconsistentDatatype(Exception):
    """A projected variable binds literals of incompatible datatypes, so no
    single column type is sound. Reference parity:
    ``OrchestrationError::InconsistentDatatype`` (hybrid/src/engine.rs:20-43,
    137-198). Construct the Engine with ``strict_types=False`` to coerce
    instead (non-parsing lexical forms become null via try_cast)."""


class Engine:
    def __init__(self, spark: SparkSession, graph: GraphStore | DataFrame | None = None,
                 strict_types: bool = True, http_post=None):
        self.spark = spark
        #: injectable SPARQL-over-HTTP poster (url, query) -> SPARQL-JSON
        #: dict, used by unregistered http(s) SERVICE endpoints; None uses
        #: the stdlib urllib poster. Injectable for tests/auth/retries.
        self.http_post = http_post
        if isinstance(graph, DataFrame):
            graph = GraphStore(spark, graph)
        self.graph = graph or GraphStore(spark)
        self.ts_tables: list[TimeSeriesTable] = []
        #: endpoint IRI -> GraphStore for SERVICE federation
        self.services: dict[str, GraphStore] = {}
        #: graph IRI -> GraphStore for GRAPH patterns (named graphs)
        self.named_graphs: dict[str, GraphStore] = {}
        #: raise InconsistentDatatype for statically-detected mixed-datatype
        #: output variables (reference behavior); False = coerce to the first
        #: observed datatype, nulling lexical forms that do not parse
        self.strict_types = strict_types
        #: prepared-plan cache: query text -> finalized lazy DataFrame. Plan
        #: *construction* is driver-side work (parse + algebra + hundreds of
        #: DataFrame calls); like any database's prepared-statement cache, a
        #: repeated query reuses the compiled plan and only re-executes it.
        #: Results are NOT cached — the DataFrame is lazy, but a bounded
        #: Flight read is inlined into it. Holds at most PLAN_CACHE_MAX
        #: plans, all compiled against the triple frames in _plan_frames:
        #: a query that finds any store's ``df`` replaced or a store added
        #: (set_graph, update, GraphStore.add_triples_df, register_service,
        #: register_named_graph) clears it first, and adding a TS table
        #: clears it.
        self._plan_cache: OrderedDict[str, DataFrame] = OrderedDict()
        self._plan_frames: list[DataFrame] = []

    def set_graph(self, graph: GraphStore | DataFrame) -> "Engine":
        self.graph = GraphStore(self.spark, graph) if isinstance(graph, DataFrame) else graph
        return self

    def _frames(self) -> list[DataFrame]:
        """The triple frames a plan is compiled against: the default
        graph's, then every registered service's and named graph's."""
        return [self.graph.df, *(g.df for g in self.services.values()),
                *(g.df for g in self.named_graphs.values())]

    def add_timeseries_table(self, table: TimeSeriesTable) -> "Engine":
        self.ts_tables.append(table)
        self._plan_cache.clear()
        return self

    def register_service(self, endpoint_iri: str, graph: "GraphStore | DataFrame") -> "Engine":
        """Attach a second graph under an endpoint IRI for SERVICE patterns
        (in-process federation). Remote endpoints: load once with
        ``GraphStore.from_endpoint(url)`` and register the result."""
        if isinstance(graph, DataFrame):
            graph = GraphStore(self.spark, graph)
        self.services[endpoint_iri] = graph
        return self

    def register_named_graph(self, graph_iri: str, graph: "GraphStore | DataFrame") -> "Engine":
        """Attach a named graph for GRAPH patterns (additive — the reference
        rejects datasets, splitter.rs:41-48). ``GRAPH <iri> {...}`` evaluates
        against it; ``GRAPH ?g {...}`` unions all registered named graphs
        with ?g bound."""
        if isinstance(graph, DataFrame):
            graph = GraphStore(self.spark, graph)
        self.named_graphs[graph_iri] = graph
        return self

    # -- entry point 1 (reference engine.rs:57-134) -------------------------

    def execute_hybrid_query(self, sparql: str) -> DataFrame:
        """Parse + compile + type-finalize. Returns a lazy DataFrame; the
        caller collects (the reference collects internally at engine.rs:127)."""
        frames = self._frames()
        if len(frames) != len(self._plan_frames) or any(
                a is not b for a, b in zip(frames, self._plan_frames)):
            self._plan_cache.clear()
            self._plan_frames = frames
        cached = self._plan_cache.get(sparql)
        if cached is not None:
            self._plan_cache.move_to_end(sparql)
            return cached
        from otit_swt_spark.sparql import algebra as A

        query = parse_query(sparql)
        graph_df = self.graph.df
        pred_dt = self.graph.predicate_datatypes
        vp = self.graph.vp
        named = self.named_graphs
        if getattr(query, "dataset_default", None):
            # FROM <iri>...: this query's default graph is the merge of the
            # listed (registered) graphs — SPARQL 1.1 §13.2
            parts = []
            for iri in query.dataset_default:
                store = self.named_graphs.get(iri.value)
                if store is None:
                    raise ValueError(
                        f"FROM <{iri.value}>: graph not registered "
                        "(Engine.register_named_graph)")
                parts.append(store.df)
            graph_df = parts[0]
            for p in parts[1:]:
                graph_df = graph_df.unionByName(p)
            if len(parts) == 1:  # ``store`` is that one graph
                pred_dt, vp = store.predicate_datatypes, store.vp
            else:
                # the union has no per-predicate relations of its own: its
                # patterns filter the union
                vp = None
                merged = merge_catalogs(
                    [self.named_graphs[iri.value].predicate_datatypes()
                     for iri in query.dataset_default])
                pred_dt = lambda m=merged: m  # noqa: E731
        if getattr(query, "dataset_named", None):
            named = {}
            for iri in query.dataset_named:
                store = self.named_graphs.get(iri.value)
                if store is None:
                    raise ValueError(
                        f"FROM NAMED <{iri.value}>: graph not registered "
                        "(Engine.register_named_graph)")
                named[iri.value] = store
        compiler = Compiler(self.spark, graph_df, self.ts_tables,
                            pred_datatypes=pred_dt,
                            services=self.services,
                            named_graphs=named,
                            http_post=self.http_post, vp=vp)
        if isinstance(query, A.AskQuery):
            sm = compiler.compile_pattern(query.pattern, None)
            out = (sm.df.limit(1)
                   .agg(F.count(F.lit(1)).alias("__n"))
                   .select((F.col("__n") > 0).alias("ask")))
        elif isinstance(query, A.ConstructQuery):
            sm = compiler.compile_pattern(query.pattern, None)
            out = self._construct(sm, query.template)
        elif isinstance(query, A.DescribeQuery):
            out = self._describe(compiler, query)
        elif isinstance(query, A.UpdateQuery):
            raise ValueError(
                "query() got a SPARQL Update — use Engine.update() for "
                "INSERT/DELETE forms")
        else:
            sm = compiler.compile_query(query)
            out = self._finalize(sm, query.variables)
        self._plan_cache[sparql] = out
        if len(self._plan_cache) > PLAN_CACHE_MAX:
            self._plan_cache.popitem(last=False)
        return out

    def ask(self, sparql: str) -> bool:
        """Execute an ASK query and return the boolean."""
        return bool(self.query(sparql).first()["ask"])

    def update(self, sparql: str) -> "Engine":
        """Execute a SPARQL 1.1 Update (INSERT/DELETE DATA, DELETE WHERE,
        DELETE/INSERT ... WHERE) against the default graph. Exceeds the
        reference (read-only engine; graphs are built via the mapper).
        Deletes apply before inserts from one WHERE evaluation (SPARQL 1.1
        Update §3.1.3); the store keeps set semantics."""
        from otit_swt_spark.graph import TRIPLES_SCHEMA
        from otit_swt_spark.sparql import algebra as A
        from otit_swt_spark.terms import Variable, triple_row

        q = parse_query(sparql)
        if not isinstance(q, A.UpdateQuery):
            raise ValueError("Engine.update expects an update form; use "
                             "query() for SELECT/ASK/CONSTRUCT/DESCRIBE")

        def ground_df(tpl):
            rows = []
            for tp in tpl:
                pred = tp.p.iri if isinstance(tp.p, A.PathPredicate) else tp.p
                for term in (tp.s, pred, tp.o):
                    if isinstance(term, Variable):
                        raise ValueError(
                            "INSERT/DELETE DATA requires ground triples; "
                            f"found variable ?{term.name}")
                rows.append(triple_row(tp.s, pred, tp.o))
            return self.spark.createDataFrame(rows, TRIPLES_SCHEMA)

        if q.data_only:
            delete_df = ground_df(q.delete) if q.delete else None
            insert_df = ground_df(q.insert) if q.insert else None
        else:
            compiler = Compiler(self.spark, self.graph.df, self.ts_tables,
                                pred_datatypes=self.graph.predicate_datatypes,
                                services=self.services,
                                named_graphs=self.named_graphs,
                                http_post=self.http_post,
                                vp=self.graph.vp)
            sm = compiler.compile_pattern(q.pattern, None)
            delete_df = self._construct(sm, q.delete) if q.delete else None
            insert_df = self._construct(sm, q.insert) if q.insert else None

        cols = [f.name for f in TRIPLES_SCHEMA]

        def nullsafe_anti(left: DataFrame, right: DataFrame) -> DataFrame:
            # both sides may share lineage with graph.df (templates compile
            # from the same scan): alias to avoid ambiguous self-join refs,
            # and join null-safely on all six term columns
            l, r = left.alias("__l"), right.alias("__r")
            cond = None
            for c in cols:
                eq = F.col(f"__l.{c}").eqNullSafe(F.col(f"__r.{c}"))
                cond = eq if cond is None else cond & eq
            return l.join(r, cond, "left_anti")

        df = self.graph.df
        if delete_df is not None:
            df = nullsafe_anti(df, delete_df)
        if insert_df is not None:
            # set semantics: only triples not already present are added
            fresh = nullsafe_anti(insert_df.dropDuplicates(cols), df)
            df = df.unionByName(fresh)
        self.graph.df = df
        # a delete cannot be merged out of the datatype catalog (unlike
        # add_triples_df's merge): it is recomputed on the next read
        self.graph._pred_dt = None
        return self

    def query(self, sparql: str) -> DataFrame:
        return self.execute_hybrid_query(sparql)

    def explain(self, sparql: str, mode: str = "formatted") -> str:
        """Return Spark's explain output for a SPARQL query — the rebuild's
        window into what the reference's rewrite stages became (pushdown,
        pruning, join selection are visible in the physical plan)."""
        df = self.execute_hybrid_query(sparql)
        return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), mode)

    def register_views(self, triples_view: str = "triples",
                       ts_view: str = "timeseries") -> "Engine":
        """Spark-first interop: expose the triple store and the (unioned)
        normalized time-series tables as temp views so users can mix
        ``spark.sql`` with engine queries on the same session."""
        self.graph.df.createOrReplaceTempView(triples_view)
        if self.ts_tables:
            ts, _ = Compiler._harmonize_ts_union(
                [t.normalized(self.spark) for t in self.ts_tables])
            ts.createOrReplaceTempView(ts_view)
        return self

    # -- entry point 3 (reference dsl/src/translator.rs via §3.3) -----------

    @classmethod
    def from_endpoint(cls, spark: SparkSession, endpoint: str,
                      http_post=None, page_size: int = 10000,
                      **kwargs) -> "Engine":
        """Reference-parity constructor (py_otit_swt_query lib.rs:33,
        ``Engine::new(endpoint)``): pull the remote store's triples through
        the paged executor-side loader and wrap them as this engine's
        default graph. Per-pattern remote execution stays available via
        SERVICE; this form is for the reference's workflow of binding one
        endpoint up front."""
        graph = GraphStore.from_endpoint(spark, endpoint,
                                         http_post=http_post,
                                         page_size=page_size)
        return cls(spark, graph, http_post=http_post, **kwargs)

    def set_arrow_flight_sql(self, location: str, query: str,
                             **kwargs) -> "Engine":
        """Reference-parity registration (lib.rs:42): read a Flight SQL
        result set and register it as this engine's time-series table."""
        from otit_swt_spark.sources.flight import flight_timeseries

        return self.add_timeseries_table(
            flight_timeseries(self.spark, location, query, **kwargs))

    def set_opcua_history_read(self, opcua, node_ids: list[str] | None = None,
                               start_time: float = 0.0, end_time: float = 0.0,
                               **kwargs) -> "Engine":
        """Reference-parity registration (lib.rs:67). With a configured
        session transport (``session_factory`` — an in-process fake in
        tests, a real client adapter in production) this registers the
        history read as a TimeSeriesTable; without one it raises the
        documented ``NotImplementedError`` (no OPC UA stack in this
        environment — see sources/opcua.py)."""
        if getattr(opcua, "session_factory", None) is None:
            opcua.execute()  # raises NotImplementedError with guidance
            return self
        return self.add_timeseries_table(opcua.timeseries_table(
            self.spark, node_ids or [], start_time, end_time, **kwargs))

    def name_predicate(self, predicate: str) -> "Engine":
        """Reference-parity DSL configuration (py_otit_swt_query/src/lib.rs
        :112): the predicate whose string object names an element; used to
        build the default name/type-name templates for
        :meth:`execute_dsl_query`."""
        self._dsl_name_predicate = predicate
        return self

    def connective_mapping(self, mapping: dict[str, str]) -> "Engine":
        """Reference-parity DSL configuration (lib.rs:117): connective text
        (".", "--", ...) -> predicate IRI."""
        self._dsl_connective_mapping = dict(mapping)
        return self

    def execute_dsl_query(self, dsl: str, translator=None) -> DataFrame:
        """Path-DSL entry point: parse the ts query, translate to SPARQL
        (otit_swt_spark.dsl.Translator), execute as one DataFrame plan.
        With no explicit translator, builds the reference's default name /
        type-name templates from :meth:`name_predicate` +
        :meth:`connective_mapping` (lib.rs:122-159)."""
        from otit_swt_spark.dsl import parse_ts_query

        if translator is None:
            pred = getattr(self, "_dsl_name_predicate", None)
            conn = getattr(self, "_dsl_connective_mapping", None)
            if pred is None or conn is None:
                raise ValueError(
                    "execute_dsl_query needs a translator, or prior "
                    "name_predicate(...) + connective_mapping(...) calls")
            from otit_swt_spark.dsl.translator import Translator

            rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
            name_template = [
                ("?replace_variable", f"<{pred}>", '"replace_str"')]
            type_name_template = [
                ("?replace_variable", f"<{rdf_type}>", "?type_var"),
                ("?type_var", f"<{pred}>", '"replace_str"')]
            translator = Translator(name_template, type_name_template, conn)
        return self.query(translator.translate(parse_ts_query(dsl)))

    def _construct(self, sm: SolutionMapping, template) -> DataFrame:
        """Instantiate a CONSTRUCT template per solution. Output is a graph
        (TRIPLES_SCHEMA columns, set semantics): one select per template
        triple over the solution frame, unioned, incomplete instantiations
        (unbound s/p/o, literal subjects) dropped per SPARQL 1.1 §16.2."""
        from otit_swt_spark.graph import TRIPLES_SCHEMA
        from otit_swt_spark.sparql import algebra as A
        from otit_swt_spark.terms import IRI, Literal, Variable, xsd_for_spark_type

        def mint_bnode(name: str):
            """Template blank nodes mint one fresh node per solution, shared
            across the template's triples (SPARQL 1.1 §16.2.1); derived from
            the solution values, so identical solutions collapse with the
            graph's set semantics."""
            return F.concat(F.lit(f"_:{name[len('__bnode_'):]}_"),
                            F.abs(F.xxhash64(*[F.col(c) for c in sm.df.columns]))
                            .cast("string"))

        def node_col(term):
            """(value-col, is-literal-possible-guard) for s/p positions."""
            if isinstance(term, Variable):
                if term.name.startswith("__bnode_") and term.name not in sm.vars:
                    return mint_bnode(term.name)
                m = sm.vars.get(term.name)
                if m is None:
                    return F.lit(None).cast("string")
                if m.kind != "term" and m.hint != "iri":
                    # a native value (double/long/bool/timestamp) is a
                    # literal — never a legal subject/predicate; emitting
                    # it unguarded minted invalid RDF (SPARQL 16.2 says
                    # drop the triple)
                    return F.lit(None).cast("string")
                col = F.col(term.name).cast("string")
                dt = sm.dt_col(term.name) if m.kind == "term" else None
                if dt is not None:  # literal binding -> no triple
                    col = F.when(dt.isNull(), col)
                return col
            if isinstance(term, IRI):
                return F.lit(term.value)
            return F.lit(str(term))

        def object_cols(term):
            if isinstance(term, Variable):
                if term.name.startswith("__bnode_") and term.name not in sm.vars:
                    return [mint_bnode(term.name).alias("o_iri"),
                            F.lit(None).cast("string").alias("o_lex"),
                            F.lit(None).cast("string").alias("o_dt"),
                            F.lit(None).cast("string").alias("o_lang")]
                m = sm.vars.get(term.name)
                if m is None:
                    return [F.lit(None).cast("string").alias(c)
                            for c in ("o_iri", "o_lex", "o_dt", "o_lang")]
                val = F.col(term.name).cast("string")
                if m.kind == "term":
                    dt = sm.dt_col(term.name)
                    lang = sm.lang_col(term.name)
                    if dt is None:  # no companions (an IRI-only object): IRI
                        return [val.alias("o_iri"),
                                F.lit(None).cast("string").alias("o_lex"),
                                F.lit(None).cast("string").alias("o_dt"),
                                F.lit(None).cast("string").alias("o_lang")]
                    return [F.when(dt.isNull(), val).alias("o_iri"),
                            F.when(dt.isNotNull(), val).alias("o_lex"),
                            dt.alias("o_dt"),
                            (lang if lang is not None
                             else F.lit(None).cast("string")).alias("o_lang")]
                if m.hint == "iri":
                    return [val.alias("o_iri"),
                            F.lit(None).cast("string").alias("o_lex"),
                            F.lit(None).cast("string").alias("o_dt"),
                            F.lit(None).cast("string").alias("o_lang")]
                xsd = xsd_for_spark_type(sm.df.schema[term.name].dataType)
                return [F.lit(None).cast("string").alias("o_iri"),
                        val.alias("o_lex"), F.lit(xsd).alias("o_dt"),
                        F.lit(None).cast("string").alias("o_lang")]
            if isinstance(term, Literal):
                return [F.lit(None).cast("string").alias("o_iri"),
                        F.lit(term.lexical).alias("o_lex"),
                        F.lit(term.datatype).alias("o_dt"),
                        F.lit(term.language).cast("string").alias("o_lang")]
            return [F.lit(term.value if isinstance(term, IRI) else str(term)).alias("o_iri"),
                    F.lit(None).cast("string").alias("o_lex"),
                    F.lit(None).cast("string").alias("o_dt"),
                    F.lit(None).cast("string").alias("o_lang")]

        parts = []
        for tp in template:
            pred = tp.p.iri if isinstance(tp.p, A.PathPredicate) else tp.p
            part = sm.df.select(
                node_col(tp.s).alias("s"), node_col(pred).alias("p"),
                *object_cols(tp.o))
            parts.append(part.filter(
                F.col("s").isNotNull() & F.col("p").isNotNull()
                & (F.col("o_iri").isNotNull() | F.col("o_lex").isNotNull())))
        if not parts:
            return self.spark.createDataFrame([], TRIPLES_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    def _describe(self, compiler: Compiler, query) -> DataFrame:
        """All triples whose subject is a described node (minimal CBD)."""
        from otit_swt_spark.terms import IRI, Variable

        iris = [t.value for t in query.terms if isinstance(t, IRI)]
        var_names = [t.name for t in query.terms if isinstance(t, Variable)]
        nodes = None
        if var_names:
            if query.pattern is None:
                raise ValueError("DESCRIBE ?var requires a WHERE pattern")
            sm = compiler.compile_pattern(query.pattern, None)
            for v in var_names:
                part = sm.df.select(F.col(v).cast("string").alias("s")).distinct()
                nodes = part if nodes is None else nodes.unionByName(part).distinct()
        if iris:
            iri_df = self.spark.createDataFrame([(i,) for i in iris], "s string")
            nodes = iri_df if nodes is None else nodes.unionByName(iri_df).distinct()
        return self.graph.df.join(F.broadcast(nodes), "s", "left_semi")

    def _finalize(self, sm: SolutionMapping,
                  variables: list[str]) -> DataFrame:
        """Type the output like the reference's dtype-inference over SPARQL
        JSON solutions (hybrid/src/sparql_result_to_polars.rs:119-160).

        Term columns carrying a compile-time datatype (from the graph's
        predicate catalog, GraphStore.predicate_datatypes) are cast directly
        — no extra Spark job. Variables the catalog flags as mixed raise
        InconsistentDatatype (reference hybrid/src/engine.rs:137-198) under
        strict_types, else coerce. Only catalog-blind variables (variable
        predicates, path objects) fall back to the first-non-null ``__dt``
        probe job (``otit:dt-probe``)."""
        term_vars = [v for v in variables if sm.vars.get(v) and sm.vars[v].kind == "term"
                     and v in sm.dt_vars]
        mixed = [v for v in term_vars if sm.vars[v].mixed]
        if mixed and self.strict_types:
            raise InconsistentDatatype(
                f"variable(s) {', '.join('?' + v for v in mixed)} bind literals of "
                "inconsistent datatypes; pass strict_types=False to coerce")
        dt_of: dict[str, str | None] = {
            v: sm.vars[v].xsd for v in term_vars
            if sm.vars[v].xsd is not None and not sm.vars[v].mixed}
        probe_vars = [v for v in term_vars if v not in dt_of]
        if probe_vars:
            # probe only a prefix — datatype columns are constant per variable
            # in practice, and this avoids executing the full plan twice; a
            # catalog-blind prefix binding an IRI or a second datatype keeps
            # the terms (a catalog-mixed one coerces)
            with job_description(self.spark, "otit:dt-probe"):
                probe = (
                    sm.df.select(*probe_vars,
                                 *[f"{v}__dt" for v in probe_vars])
                    .limit(100)
                    .agg(*[c for v in probe_vars for c in (
                        F.first(f"{v}__dt", ignorenulls=True).alias(v),
                        F.count_distinct(F.when(
                            F.col(v).isNotNull(),
                            F.coalesce(f"{v}__dt", F.lit("")))).alias(
                                f"{v}__n"))])
                    .first()
                )
            dt_of.update((v, probe[v]) for v in probe_vars  # one global row
                         if probe[f"{v}__n"] == 1 or sm.vars[v].mixed)
        cols = []
        for v in variables:
            m = sm.vars.get(v)
            if m is None:
                cols.append(F.lit(None).cast("string").alias(v))
            elif m.kind == "term" and dt_of.get(v) and dt_of[v] != XSD_STRING:
                # try_cast: under Spark 4's ANSI default a bare cast aborts
                # the query on any malformed lexical form; SPARQL semantics
                # (and the documented try_cast policy in expressions.py) is
                # null for ill-typed literals
                cols.append(F.col(v).try_cast(spark_type_for_xsd(dt_of[v])).alias(v))
            else:
                cols.append(F.col(v).alias(v))
        return sm.df.select(*cols)
