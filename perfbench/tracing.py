"""Tracing from outside the program: wrappers around each layer's public
entry points record spans, and Spark job groups tag the jobs of each phase.

``Tracer.install()`` patches the library's module and class attributes in
this process only; nothing under ``otit_swt_spark/`` changes. Spans stay in
memory and are written once at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import time

#: (module path, attribute path, span name). Both the parser module's
#: ``parse_query`` and the name ``engine`` imported from it are wrapped.
WRAPPED = [
    ("otit_swt_spark.session", "get_spark", "session"),
    ("otit_swt_spark.sparql.parser", "parse_query", "sparql.parser"),
    ("otit_swt_spark.engine", "parse_query", "sparql.parser"),
    ("otit_swt_spark.sparql.compiler", "Compiler.compile_query", "sparql.compiler"),
    ("otit_swt_spark.engine", "Engine.execute_hybrid_query", "engine"),
    ("otit_swt_spark.engine", "Engine.execute_dsl_query", "engine.dsl"),
    ("otit_swt_spark.dsl", "parse_ts_query", "dsl.parse"),
    ("otit_swt_spark.dsl.translator", "Translator.translate", "dsl.translate"),
    ("otit_swt_spark.mapper.mapping", "Mapping.from_str", "mapper.parse"),
    ("otit_swt_spark.mapper.mapping", "Mapping.expand", "mapper.expand"),
    ("otit_swt_spark.mapper.mapping", "Mapping.triples_df", "mapper.expand"),
    ("otit_swt_spark.graph", "GraphStore.from_triples", "graph.load"),
    ("otit_swt_spark.graph", "GraphStore.materialized", "graph.load"),
    ("otit_swt_spark.graph", "GraphStore.predicate_datatypes", "graph.catalog"),
    ("otit_swt_spark.graph", "GraphStore.write_parquet", "graph.write"),
    ("otit_swt_spark.graph", "GraphStore.add_triples_df", "graph.refresh"),
    ("otit_swt_spark.tpch_graph", "load_events", "timeseries.load"),
    ("otit_swt_spark.sources.flight", "flight_sql_read", "sources.flight"),
    ("otit_swt_spark.sources.flight",
     "FlightTimeSeriesTable._probe_one_row", "sources.flight"),
]

#: wrappers that run their call under their own Spark job group, so the
#: jobs they launch are told apart from the rest of the phase
JOB_GROUP_SPANS = {"sparql.compiler": "compile", "graph.catalog": "catalog"}


class Tracer:
    """Span recorder. ``active`` is False in untraced runs: the wrappers
    are then not installed at all."""

    def __init__(self, spark_context_getter, active: bool):
        self.active = active
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._group: str | None = None
        self._sc = spark_context_getter
        self.qid: str | None = None
        self._undo: list = []

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "qid": self.qid,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    # -- Spark job groups ----------------------------------------------------
    def set_group(self, phase: str | None):
        """Tag the following Spark jobs ``<qid>:<phase>``; None clears."""
        if not self.active:
            return
        sc = self._sc()
        self._group = None if phase is None else f"{self.qid}:{phase}"
        if self._group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(self._group, self._group)

    @contextlib.contextmanager
    def group(self, phase: str):
        prev = self._group
        self.set_group(phase)
        try:
            yield
        finally:
            if self.active:
                if prev is None:
                    self.set_group(None)
                else:
                    self._sc().setJobGroup(prev, prev)
                    self._group = prev

    # -- wrappers ------------------------------------------------------------
    def install(self):
        import importlib

        if not self.active:
            return
        for mod_name, attr, span_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            owner = mod
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            raw = owner.__dict__[leaf]
            is_cm = isinstance(raw, classmethod)
            fn = raw.__func__ if is_cm else raw
            wrapped = self._wrap(fn, span_name)
            setattr(owner, leaf, classmethod(wrapped) if is_cm else wrapped)
            self._undo.append((owner, leaf, raw))

    def uninstall(self):
        for owner, leaf, raw in reversed(self._undo):
            setattr(owner, leaf, raw)
        self._undo.clear()

    def _wrap(self, fn, span_name):
        phase = JOB_GROUP_SPANS.get(span_name)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                if phase is None or self.qid is None:
                    return fn(*args, **kwargs)
                with self.group(phase):
                    return fn(*args, **kwargs)

        return wrapper

    # -- reading spans -------------------------------------------------------
    def durations(self, name: str, qid: str | None = None) -> list[float]:
        """Durations of the outermost spans named ``name`` (of one query
        when ``qid`` is given): spans nested in a span of the same name are
        dropped, so recursive or layered calls are not counted twice."""
        out = []
        for s in self.spans:
            if s["name"] != name or (qid is not None and s["qid"] != qid):
                continue
            if self._has_ancestor(s, name):
                continue
            out.append(s["end"] - s["start"])
        return out

    def _has_ancestor(self, s: dict, name: str) -> bool:
        p = s["parent"]
        while p is not None:
            if self.spans[p]["name"] == name:
                return True
            p = self.spans[p]["parent"]
        return False

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover (children never overlap: one client thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child[i])
        return out


def group_stats(sc, group: str) -> dict:
    """Jobs, stages, task time and bytes of one job group, read from the
    status tracker and the AppStatusStore (the store
    ``otit_swt_spark/metrics.py`` reads)."""
    out = {"jobs": 0, "job_s": 0.0, "stages": 0, "stages_skipped": 0,
           "task_s": 0.0, "shuffle_bytes": 0, "input_bytes": 0}
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    if not job_ids:
        return out
    store = sc._jsc.sc().statusStore()
    jvm, gw = sc._jvm, sc._gateway
    no_status = jvm.java.util.ArrayList()
    no_quantiles = gw.new_array(jvm.double, 0)
    seen_stages: set[int] = set()
    for jid in job_ids:
        job = store.job(int(jid))
        out["jobs"] += 1
        out["stages_skipped"] += int(job.numSkippedStages())
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            out["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            sid = int(stage_ids.apply(i))
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            out["stages"] += 1
            try:
                attempts = store.stageData(sid, False, no_status, False,
                                           no_quantiles)
            except Exception:  # noqa: BLE001 - a skipped stage has no data
                continue
            for k in range(attempts.size()):
                st = attempts.apply(k)
                out["task_s"] += int(st.executorRunTime()) / 1e3
                out["shuffle_bytes"] += int(st.shuffleWriteBytes())
                out["input_bytes"] += int(st.inputBytes())
    return out
