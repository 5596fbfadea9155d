"""Hybrid-query benchmark for otit_swt_spark: SPARQL, path-DSL and mapper
ingest workloads driven by one closed-loop client.

Run from the repository root:

    python3 perfbench/run.py --workload windpower_flight --seed 1 \
        --seconds 20 --trace 0

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). Every answer is checked against DuckDB. The
full run record (labels, per-op latencies, spans) goes to
``perfbench/.work/records/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("windpower_flight", "mapper_ingest")
#: bump when generated data changes, so primed caches are rebuilt
DATA_VERSION = "2"
WARMUP_REPEATS = 5
#: the calibration probe's time on a lightly loaded 4-core x86 host
IDLE_CALIB_S = 0.25

MAPPING_DOC = """
@prefix ex:<urn:tmpl:>.
ex:Order [xsd:anyURI ?order, xsd:anyURI ?cust, ?priority, ?totalprice] :: {
    ottr:Triple(?order, <urn:p:byCustomer>, ?cust),
    ottr:Triple(?order, <urn:p:priority>, ?priority),
    ottr:Triple(?order, <urn:p:totalprice>, ?totalprice)
} .
ex:Line [xsd:anyURI ?item, xsd:anyURI ?order, ?qty, ?price, ?batch] :: {
    ottr:Triple(?item, <urn:p:ofOrder>, ?order),
    ottr:Triple(?item, <urn:p:quantity>, ?qty),
    ottr:Triple(?item, <urn:p:extendedprice>, ?price),
    ottr:Triple(?item, <urn:p:inBatch>, ?batch)
} .
"""

END_TO_END = {"setup_s": "s", "cold_query_p50_s": "s", "warm_query_p50_s": "s",
              "queries_per_s": "1/s", "cold_queries_per_s": "1/s",
              "warm_queries_per_s": "1/s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "graph.load_s": "s", "graph.catalog_s": "s",
    "graph.catalog_jobs": "count", "timeseries.load_s": "s",
    "sparql.parse_s": "s", "sparql.compile_s": "s",
    "sparql.compile_jobs": "count", "sparql.compile_job_s": "s",
    "engine.plan_s": "s", "engine.plan_jobs": "count",
    "engine.plan_cache_hit_ratio": "ratio",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.stages_skipped": "count", "exec.task_s": "s",
    "exec.core_busy_ratio": "ratio", "exec.shuffle_mb": "MB",
    "exec.input_mb": "MB", "exec.result_rows": "count",
    "flight.remote_queries": "count", "flight.probe_requests": "count",
    "flight.rows_served": "count", "flight.bytes_served_mb": "MB",
    "flight.rows_served_per_result_row": "ratio",
    "mapper.expand_jobs": "count", "mapper.triples": "count",
    "mapper.triples_per_s": "1/s",
}
# The times of layers that only one workload calls (flight.server_busy_s,
# dsl.translate_s, mapper.parse_s, mapper.expand_s, graph.write_s,
# graph.refresh_s) read 0.0 on every run of the other workload, so they
# are in the run record's per_layer dict but not in the result line.


def pin_environment(root: str, work: str, cpus: int) -> None:
    """Process-wide settings, fixed before Spark or the library load:
    the library's on-disk caches and the JVM's scratch files go under the
    benchmark's own TMPDIR, timestamps are UTC, and the driver JVM is
    capped at 2 GB."""
    import shlex

    tmp = os.path.join(work, "tmp")
    spark_local = os.path.join(tmp, "spark")
    os.makedirs(spark_local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the JVM ignores TMPDIR: point java.io.tmpdir and Spark's block
    # manager there, and turn off the hsperfdata file it writes to /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.local.dir={spark_local}"),
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "pyspark-shell"])
    # executor Python workers import the library from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, BENCH_DIR, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None


def cpu_ticks() -> tuple[int, int]:
    """Cumulative busy and hypervisor-steal ticks over all CPUs
    (/proc/stat)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def unstolen(wall_s: float, t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """``wall_s`` less the share of it in which the hypervisor ran another
    tenant on the CPUs this interval's work was waiting for: the steal
    ticks over the busy plus steal ticks between ``t0`` and ``t1``. Steal
    only accrues on a vCPU that has work, so, with the benchmark the only
    busy work on the machine, that share is the share of the program's
    CPU time taken away."""
    busy, steal = t1[0] - t0[0], t1[1] - t0[1]
    return wall_s * busy / (busy + steal) if busy + steal > 0 else wall_s


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, args, work: str, cpus: int):
        from oracle import Oracle
        from streams import Stream
        from tracing import Tracer

        self.args = args
        self.workload = args.workload
        self.work, self.cpus = work, cpus
        self.traced = bool(args.trace)
        self.spark = None
        self.engine = None
        self.tracer = Tracer(lambda: self.spark.sparkContext, self.traced)
        self.stream = Stream(self.workload, args.seed)
        self.oracle = Oracle()
        self._expected: dict[str, list] = {}
        self.flight_proc = None
        self.flight_client = None
        self.flight_location = None
        self.ops: list[dict] = []
        self.setup_jobs = 0
        self.batches: list[str] = []
        self.failed = 0
        self.attempted = 0
        self.labels: dict = {"cpus": os.cpu_count(), "local_n": cpus}
        self.run_dir = os.path.join(work, "run", str(os.getpid()))

    # -- preparation (not timed) ---------------------------------------------
    def prepare(self) -> None:
        import datagen

        if self.workload.startswith("windpower"):
            wind = datagen.wind_frame()
            self.oracle.register_frame("wind", wind)
            self._start_flight()
        else:
            self.tpch_dir = self._prime_tpch_data()
            self.oracle.register_parquet(
                self.tpch_dir, ("region", "nation", "customer", "supplier",
                                "orders", "events"))
        os.makedirs(self.run_dir, exist_ok=True)

    def _prime_tpch_data(self) -> str:
        """Generate the TPC-H-like parquet once per checkout and let the
        library materialize its predicate-partitioned KG (with the
        ``_pred_datatypes.json`` catalog) under the pinned TMPDIR, in a
        child process, so no timed set-up pays for it or finds the JVM
        already started. A marker written last makes an interrupted
        priming start over."""
        data = os.path.join(self.work, "data", "tpch")
        marker = os.path.join(self.work, f"primed-v{DATA_VERSION}")
        if os.path.exists(marker):
            self.labels["primed"] = "reused"
            return data
        t0 = time.perf_counter()
        subprocess.run([sys.executable, os.path.abspath(__file__), "--prime"],
                       check=True, timeout=600)
        self.labels["primed"] = (
            "generated the tpch parquet, materialized the KG and checked "
            f"the registry twins in {time.perf_counter() - t0:.1f} s")
        return data

    def _start_flight(self) -> None:
        import pyarrow.flight as flight

        from flight_server import DUCKDB_THREADS

        self.flight_proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "flight_server.py")],
            stdout=subprocess.PIPE, text=True)
        line = self.flight_proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "PORT":
            raise RuntimeError("flight store did not start")
        self.flight_location = f"grpc://127.0.0.1:{line[1]}"
        self.flight_client = flight.FlightClient(self.flight_location)
        self.labels["flight_store"] = (
            f"child process on the same {os.cpu_count()} cores as Spark: "
            "gRPC's default handler pool, handlers serialized by one lock, "
            f"DuckDB with {DUCKDB_THREADS} thread, 2 endpoints per query")

    def flight_stats(self) -> dict:
        if self.flight_client is None:
            return {"remote_queries": 0, "probe_requests": 0, "rows_served": 0,
                    "bytes_served": 0, "busy_s": 0.0}
        from flight_server import read_stats

        return read_stats(self.flight_client)

    # -- set-up (timed) --------------------------------------------------------
    def setup(self) -> None:
        """Session started, KG loaded, time-series table registered and the
        predicate catalog derived: a ready engine."""
        from otit_swt_spark.session import get_spark

        tr = self.tracer
        tr.qid = "setup"
        with tr.span("setup"):
            # get_spark is wrapped: its span is "session"
            self.spark = get_spark(f"perfbench-{self.workload}", cpus=self.cpus)
            if self.workload.startswith("windpower"):
                self._setup_windpower()
            else:
                self._setup_tpch()
        if self.traced:
            from tracing import group_stats

            self.setup_jobs = group_stats(self.spark.sparkContext,
                                          "setup:catalog")["jobs"]

    def _setup_windpower(self) -> None:
        import datagen
        from otit_swt_spark import windpower
        from otit_swt_spark.engine import Engine
        from otit_swt_spark.graph import TRIPLES_SCHEMA, GraphStore
        from otit_swt_spark.sources.flight import flight_timeseries
        from otit_swt_spark.terms import XSD_DOUBLE

        spark, tr = self.spark, self.tracer
        with tr.span("graph.load"):
            base = GraphStore.from_triples(spark, windpower.kg_triples(
                datagen.WIND_TURBINES))
            naming = spark.createDataFrame(datagen.wind_naming_triples(),
                                           TRIPLES_SCHEMA)
            graph = GraphStore(spark, base.df.unionByName(naming).cache())
        with tr.span("timeseries.load"):
            ts = flight_timeseries(spark, self.flight_location,
                                   "SELECT id, timestamp, value FROM ts",
                                   value_datatype=XSD_DOUBLE)
            engine = Engine(spark, graph).add_timeseries_table(ts)
        engine.name_predicate(datagen.NAME).connective_mapping(
            {"-": datagen.DASH, ".": datagen.DOT})
        graph.predicate_datatypes()
        self.engine = engine

    def _setup_tpch(self) -> None:
        from otit_swt_spark import tpch_graph

        self.engine = tpch_graph.build_engine(self.spark, self.tpch_dir)
        self.engine.graph.predicate_datatypes()

    def stop_spark(self) -> None:
        """Stop the SparkContext and the driver JVM (and with it the Python
        workers), and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- ops -------------------------------------------------------------------
    def expected(self, op) -> list:
        if op.text not in self._expected:
            self._expected[op.text] = self.oracle.rows(op.oracle)
        return self._expected[op.text]

    def run_op(self, op, qid: str, warm: bool) -> dict:
        """Run one op. Its latency is the program's time only: the call to
        the last row collected, or an ingest's expand, write and refresh;
        the answer check and the benchmark's own batch preparation are
        outside it."""
        from oracle import same_rows

        tr = self.tracer
        tr.qid = qid
        rec = {"qid": qid, "cls": op.cls, "warm": warm, "kind": op.kind}
        self.attempted += 1
        ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        try:
            if op.kind == "ingest":
                rec.update(self.ingest(op))
            else:
                with tr.group("plan"):
                    if op.kind == "dsl":
                        df = self.engine.execute_dsl_query(op.text)
                    else:
                        df = self.engine.query(op.text)
                t1 = time.perf_counter()
                with tr.group("exec"), tr.span("exec"):
                    rows = df.collect()
                t2 = time.perf_counter()
                rec.update(plan_s=t1 - t0, exec_s=t2 - t1, rows=len(rows),
                           latency_s=t2 - t0)
                why = same_rows([tuple(r) for r in rows], self.expected(op))
                if why is not None:
                    self.failed += 1
                    rec["error"] = why
                    print(f"# wrong answer {qid} ({op.cls}): {why}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            self.failed += 1
            rec["error"] = f"{type(e).__name__}: {e}"
            print(f"# failed {qid} ({op.cls}): {rec['error']}", file=sys.stderr)
        rec.setdefault("latency_s", time.perf_counter() - t0)
        rec["unstolen_s"] = unstolen(rec["latency_s"], ticks0, cpu_ticks())
        tr.set_group(None)
        return rec

    def ingest(self, op) -> dict:
        import pyarrow.parquet as pq

        import datagen
        from otit_swt_spark.graph import GraphStore
        from otit_swt_spark.mapper import Mapping

        spark, tr, b = self.spark, self.tracer, op.params["batch"]
        orders, lineitem = datagen.ingest_batch(self.args.seed, b)
        self.oracle.register_frame(f"batch_orders_{b}", orders)
        self.oracle.register_frame(f"batch_lineitem_{b}", lineitem)
        self.batches.append(f"batch_orders_{b}")
        self.oracle.register_parquet(self.tpch_dir, ["orders"], self.batches)
        odf = spark.createDataFrame(orders.assign(
            Key=orders.o_orderkey.astype(str),
            order="urn:order:" + orders.o_orderkey.astype(str),
            cust="urn:cust:" + orders.o_custkey.astype(str),
            priority=orders.o_orderpriority,
            totalprice=orders.o_totalprice)[
                ["Key", "order", "cust", "priority", "totalprice"]])
        ldf = spark.createDataFrame(lineitem.assign(
            Key=lineitem.l_linenumber.astype(str),
            item=f"urn:li:b{b}-" + lineitem.l_linenumber.astype(str),
            order="urn:order:" + lineitem.l_orderkey.astype(str),
            qty=lineitem.l_quantity, price=lineitem.l_extendedprice,
            batch=f"b{b}")[["Key", "item", "order", "qty", "price", "batch"]])
        path = os.path.join(self.run_dir, f"batch_{b}")
        t0 = time.perf_counter()
        with tr.group("expand"):
            m = Mapping.from_str(MAPPING_DOC, spark=spark)
            m.expand("urn:tmpl:Order", odf)
            m.expand("urn:tmpl:Line", ldf)
            triples = m.triples_df()
        t1 = time.perf_counter()
        with tr.group("write"):
            GraphStore(spark, triples).write_parquet(path, partition_by_predicate=True)
        t2 = time.perf_counter()
        with tr.group("refresh"), tr.span("graph.refresh"):
            self.engine.graph.add_triples_df(spark.read.parquet(path))
            self.engine.set_graph(self.engine.graph)
            self.engine.graph.predicate_datatypes()
        t3 = time.perf_counter()
        n = sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                for d, _, files in os.walk(path) for f in files
                if f.endswith(".parquet"))
        want = 3 * len(orders) + 4 * len(lineitem)
        if n != want:
            raise RuntimeError(f"batch b{b} wrote {n} triples, expected {want}")
        return {"expand_s": t1 - t0, "write_s": t2 - t1, "refresh_s": t3 - t2,
                "triples": n, "latency_s": t3 - t0}

    # -- the run ---------------------------------------------------------------
    def run(self, process_start: float) -> dict:
        ticks0, wall0 = cpu_ticks(), time.perf_counter()
        self.prepare()
        prep_s = time.perf_counter() - wall0
        self.tracer.install()
        ticks_setup = cpu_ticks()
        self.setup()
        # process start to a ready engine, less the benchmark's own
        # preparation (data and oracle generation, the Flight store)
        setup_raw_s = time.perf_counter() - process_start - prep_s
        setup_s = unstolen(setup_raw_s, ticks_setup, cpu_ticks())
        t_ready = time.perf_counter()
        self.labels["prep_s"] = prep_s
        self.labels["calib_s"] = self.calibrate()

        # warm-up: one cycle's cold ops, each query text then repeated so
        # the plan-cache path is JIT-compiled before timing starts
        for i, op in enumerate(self.stream.warmup()):
            for k in range(1 if op.kind == "ingest" else 1 + WARMUP_REPEATS):
                self.run_op(op, f"w{i}.{k}", warm=k > 0)
        warm_failed, self.failed, self.attempted = self.failed, 0, 0
        self.labels["warmup_s"] = time.perf_counter() - t_ready

        seen: set[str] = set()
        fl0 = self._fl_prev = self.flight_stats()
        first_cycle = None
        t_start = time.perf_counter()
        pattern = self.stream.cycle()
        # closed loop, one op at a time, over the whole cycles of the
        # pattern that fill --seconds at its nominal cycle time. Every run
        # sends the same ops whatever the host's speed: the JVM is still
        # warming up, so a slow host that finished fewer cycles would also
        # leave out the faster later ones. The first cycle is the base of
        # the count metrics.
        cycles = max(1, round(self.args.seconds / self.stream.cycle_s()))
        for n in range(cycles * len(pattern)):
            op = self.stream.next(pattern[n % len(pattern)])
            warm = op.kind != "ingest" and op.text in seen
            seen.add(op.text)
            rec = self.run_op(op, f"q{n}", warm)
            if self.traced:
                self._trace_op(rec)
            self.ops.append(rec)
            if n + 1 == len(pattern):
                first_cycle = {"ops": n + 1, "flight": self._delta(self.flight_stats(), fl0)}
        t_end = time.perf_counter()
        self.tracer.uninstall()
        fl1 = self.flight_stats()

        self.labels["warmup_failed"] = warm_failed
        self.labels["measured_s"] = t_end - t_start
        self.labels["cycles"] = cycles
        pid_jvm = self._jvm_pid()
        rss = vm_hwm_mb("self") + (vm_hwm_mb(pid_jvm) if pid_jvm else 0.0)
        ticks1 = cpu_ticks()
        busy, steal = ticks1[0] - ticks0[0], ticks1[1] - ticks0[1]
        pct = steal / os.sysconf("SC_CLK_TCK") / (time.perf_counter() - wall0) * 100
        self.labels["steal_pct_of_one_cpu"] = round(pct, 2)
        self.labels["stolen_share"] = round(steal / (busy + steal), 4) if busy + steal else 0.0
        # another tenant held the cores: hypervisor steal, or a calibration
        # probe at more than twice its idle time
        self.labels["contaminated"] = (
            pct > 5.0 or self.labels["calib_s"] > 2 * IDLE_CALIB_S)
        # the end-to-end times leave out the hypervisor's steal (see
        # unstolen); the same figures from wall time are kept in the record
        e2e = self.end_to_end("unstolen_s", setup_s, rss)
        e2e_wall = self.end_to_end("latency_s", setup_raw_s, rss)
        record = {"workload": self.workload, "seed": self.args.seed,
                  "seconds": self.args.seconds, "trace": int(self.traced),
                  "labels": self.labels, "end_to_end": e2e,
                  "end_to_end_wall": e2e_wall,
                  "first_cycle": first_cycle,
                  "flight_total": self._delta(fl1, fl0), "ops": self.ops}
        if self.traced:
            record["per_layer"] = self.per_layer(first_cycle)
            record["self_time_s"] = self.tracer.self_times()
            record["spans"] = self.tracer.spans
        self._write_record(record)
        metrics = record["per_layer"] if self.traced else e2e
        units = PER_LAYER if self.traced else END_TO_END
        return {"correct": self.failed == 0 and warm_failed == 0,
                "attempted": self.attempted, "failed": self.failed,
                "metrics": {k: {"value": metrics[k], "unit": u}
                            for k, u in units.items()}}

    def end_to_end(self, key: str, setup_s: float, rss: float) -> dict:
        """The end-to-end metrics over the ops' ``key`` times."""
        queries = [r for r in self.ops if r["kind"] != "ingest"]
        cold = [r[key] for r in queries if not r["warm"]]
        warm = [r[key] for r in queries if r["warm"]]
        self.labels["samples"] = {"cold": len(cold), "warm": len(warm),
                                  "ops": len(self.ops)}
        return {
            "setup_s": setup_s,
            "cold_query_p50_s": median(cold),
            "warm_query_p50_s": median(warm),
            # over the time spent in the program (the sum of op times,
            # ingests included), so the benchmark's answer checks and batch
            # preparation between ops do not count; the cold/warm mix is the
            # stream pattern's, so each class is also reported alone
            "queries_per_s": len(queries) / sum(r[key] for r in self.ops),
            "cold_queries_per_s": len(cold) / sum(cold),
            "warm_queries_per_s": len(warm) / sum(warm),
            "peak_rss_mb": rss,
        }

    def calibrate(self) -> float:
        """Fixed CPU-bound probe (hash-fold 20M longs over all cores),
        median of 3: a run label that separates host load from change."""
        from pyspark.sql import functions as F

        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            self.spark.range(0, 20_000_000, 1, self.cpus).select(
                F.expr("bit_xor(xxhash64(id))")).collect()
            samples.append(time.perf_counter() - t0)
        return statistics.median(samples)

    def _jvm_pid(self):
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    @staticmethod
    def _delta(a: dict, b: dict) -> dict:
        return {k: a[k] - b[k] for k in a}

    def _trace_op(self, rec: dict) -> None:
        from tracing import group_stats

        sc = self.spark.sparkContext
        phases = (("expand", "write", "refresh") if rec["kind"] == "ingest"
                  else ("plan", "compile", "exec"))
        rec["groups"] = {p: group_stats(sc, f"{rec['qid']}:{p}") for p in phases}
        if self.flight_client is not None:
            now = self.flight_stats()
            rec["flight"] = self._delta(now, self._fl_prev)
            self._fl_prev = now

    def per_layer(self, first_cycle: dict) -> dict:
        tr = self.tracer
        ok = [r for r in self.ops if "error" not in r]
        qids = {r["qid"]: r for r in ok}
        queries = [r for r in ok if r["kind"] != "ingest"]
        cold = [r for r in queries if not r["warm"]]
        batches = [r for r in ok if r["kind"] == "ingest"]
        first = self.ops[:first_cycle["ops"]]

        def per(ops, f):
            return statistics.fmean(f(r) for r in ops) if ops else 0.0

        def span_sum(name, r):
            return sum(tr.durations(name, r["qid"]))

        def g(r, phase, key):
            return r.get("groups", {}).get(phase, {}).get(key, 0)

        exec_s = sum(r.get("exec_s", 0.0) for r in queries)
        task_s = sum(g(r, "exec", "task_s") for r in queries)
        engine_calls = [s for s in tr.spans if s["name"] == "engine"
                        and s["qid"] in qids]
        parsed = {c["parent"] for c in tr.spans if c["name"] == "sparql.parser"}
        hits = sum(1 for i, s in enumerate(tr.spans) if s["name"] == "engine"
                   and s["qid"] in qids and i not in parsed)
        flight_ops = [r for r in queries if r.get("flight")]
        fl_total = {k: sum(r["flight"][k] for r in flight_ops)
                    for k in ("remote_queries", "probe_requests", "rows_served",
                              "bytes_served", "busy_s")} if flight_ops else None
        result_rows = sum(r.get("rows", 0) for r in queries)
        first_fl = first_cycle["flight"]
        setup_spans = {name: sum(tr.durations(name, "setup"))
                       for name in ("session", "graph.load", "graph.catalog",
                                    "timeseries.load")}
        expand_s = sum(r["expand_s"] for r in batches)
        write_s = sum(r["write_s"] for r in batches)
        return {
            "session.start_s": setup_spans["session"],
            "graph.load_s": setup_spans["graph.load"],
            "graph.catalog_s": setup_spans["graph.catalog"],
            "graph.catalog_jobs": self.setup_jobs,
            "timeseries.load_s": setup_spans["timeseries.load"],
            "sparql.parse_s": per(cold, lambda r: span_sum("sparql.parser", r)),
            "sparql.compile_s": per(cold, lambda r: span_sum("sparql.compiler", r)),
            "sparql.compile_jobs": sum(g(r, "compile", "jobs") for r in first),
            "sparql.compile_job_s": per(cold, lambda r: g(r, "compile", "job_s")),
            "dsl.translate_s": per(
                [r for r in queries if r["kind"] == "dsl"],
                lambda r: span_sum("dsl.parse", r) + span_sum("dsl.translate", r)),
            "engine.plan_s": per(queries, lambda r: r["plan_s"]),
            "engine.plan_jobs": per(queries, lambda r: g(r, "plan", "jobs")
                                    + g(r, "compile", "jobs")),
            "engine.plan_cache_hit_ratio": hits / len(engine_calls) if engine_calls else 0.0,
            "exec.s": per(queries, lambda r: r["exec_s"]),
            "exec.jobs": per(queries, lambda r: g(r, "exec", "jobs")),
            "exec.stages": per(queries, lambda r: g(r, "exec", "stages")),
            "exec.stages_skipped": per(queries, lambda r: g(r, "exec", "stages_skipped")),
            "exec.task_s": per(queries, lambda r: g(r, "exec", "task_s")),
            "exec.core_busy_ratio": task_s / (exec_s * self.cpus) if exec_s else 0.0,
            "exec.shuffle_mb": per(queries, lambda r: g(r, "exec", "shuffle_bytes") / 1e6),
            "exec.input_mb": per(queries, lambda r: g(r, "exec", "input_bytes") / 1e6),
            "exec.result_rows": sum(r.get("rows", 0) for r in first),
            "flight.remote_queries": first_fl["remote_queries"],
            "flight.probe_requests": first_fl["probe_requests"],
            "flight.rows_served": first_fl["rows_served"],
            "flight.bytes_served_mb": (fl_total["bytes_served"] / len(flight_ops) / 1e6
                                       if fl_total else 0.0),
            "flight.server_busy_s": (fl_total["busy_s"] / len(flight_ops)
                                     if fl_total else 0.0),
            "flight.rows_served_per_result_row": (
                fl_total["rows_served"] / result_rows if fl_total and result_rows
                else 0.0),
            "mapper.parse_s": per(batches, lambda r: span_sum("mapper.parse", r)),
            "mapper.expand_s": per(batches, lambda r: r["expand_s"]),
            "mapper.expand_jobs": per(batches, lambda r: g(r, "expand", "jobs")),
            "mapper.triples": sum(r.get("triples", 0) for r in first),
            "mapper.triples_per_s": (sum(r["triples"] for r in batches)
                                     / (expand_s + write_s) if batches else 0.0),
            "graph.write_s": per(batches, lambda r: r["write_s"]),
            "graph.refresh_s": per(batches, lambda r: r["refresh_s"]),
        }

    def _write_record(self, record: dict) -> None:
        out = os.path.join(self.work, "records")
        os.makedirs(out, exist_ok=True)
        name = (f"{self.workload}_seed{self.args.seed}_trace{int(self.traced)}_"
                f"{time.strftime('%Y%m%dT%H%M%S')}_{os.getpid()}.json")
        with open(os.path.join(out, name), "w") as fh:
            json.dump(record, fh, default=str)

    def close(self) -> None:
        self.tracer.uninstall()
        self.stop_spark()
        if self.flight_proc is not None:
            import pyarrow.flight as flight

            try:
                list(self.flight_client.do_action(flight.Action("shutdown", b"")))
            except Exception:  # noqa: BLE001 - fall back to terminate
                self.flight_proc.terminate()
            try:
                self.flight_proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.flight_proc.kill()
                self.flight_proc.wait()
        self.oracle.close()
        shutil.rmtree(self.run_dir, ignore_errors=True)


def process_start() -> float:
    """This process's start on the ``time.perf_counter`` clock, from
    /proc (10 ms resolution), so set-up time includes interpreter start
    and imports."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def check_registry_twins(engine, data: str) -> None:
    """At their default parameters the flagship templates are the
    registry's ``sparql_orders_agg`` and ``sparql_hybrid_ts_agg``: their
    Spark answers and the benchmark's own oracle SQL must both match the
    registry's DuckDB twins in ``__spark_entry__.oracle_sql()``."""
    import __spark_entry__
    from oracle import Oracle, same_rows
    from streams import tpch_orders, tpch_ts_agg

    twins = __spark_entry__.oracle_sql()
    oracle = Oracle()
    try:
        oracle.register_parquet(data, ("region", "nation", "customer",
                                       "supplier", "orders", "events"))
        for name, op in (("sparql_orders_agg", tpch_orders()),
                         ("sparql_hybrid_ts_agg", tpch_ts_agg())):
            want = oracle.rows(twins[name])
            got = [tuple(r) for r in engine.query(op.text).collect()]
            for side, rows in (("Spark", got), ("benchmark oracle",
                                                oracle.rows(op.oracle))):
                why = same_rows(rows, want)
                if why is not None:
                    raise RuntimeError(f"{name}: {side} answer differs from "
                                       f"the registry twin: {why}")
    finally:
        oracle.close()


def prime(work: str, cpus: int) -> None:
    """One-time work before measured runs: the TPC-H-like parquet, and the
    library's materialized KG with its catalog under the pinned TMPDIR."""
    import datagen
    from otit_swt_spark import tpch_graph
    from otit_swt_spark.session import get_spark

    shutil.rmtree(os.path.join(work, "data"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "tmp", "otit_swt_spark_cache"),
                  ignore_errors=True)
    data = os.path.join(work, "data", "tpch")
    datagen.write_tpch(data)
    spark = get_spark("perfbench-prime", cpus=cpus)
    try:
        engine = tpch_graph.build_engine(spark, data)
        engine.graph.predicate_datatypes()
        check_registry_twins(engine, data)
    finally:
        spark.stop()
    with open(os.path.join(work, f"primed-v{DATA_VERSION}"), "w") as fh:
        fh.write("tpch parquet, kg_*.parquet, _pred_datatypes.json\n")


def main(argv=None) -> int:
    t_process = process_start()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prime", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not args.prime and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "otit_swt_spark", "engine.py")):
        print("perfbench: run from the repository root; otit_swt_spark/ "
              "is not in the current directory", file=sys.stderr)
        return 2
    # two task threads leave cores to the client's Python, the JVM's
    # compiler and GC threads and the Flight store: on a 4-core host,
    # local[4] ran the wind-power stream slower and with two to three
    # times the run-to-run spread
    cpus = min(2, os.cpu_count() or 1)
    work = os.path.join(BENCH_DIR, ".work")
    pin_environment(root, work, cpus)
    sys.path[:0] = [BENCH_DIR, root]
    if args.prime:
        prime(work, cpus)
        return 0

    bench = Bench(args, work, cpus)
    try:
        result = bench.run(t_process)
    finally:
        bench.close()
    print(f"# process wall {time.perf_counter() - t_process:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
