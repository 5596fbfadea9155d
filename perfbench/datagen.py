"""Benchmark inputs: the wind-power frame and KG naming triples, the fixed
TPC-H-like tables behind the ``tpch_kg`` knowledge graph, and the seeded
lineitem/orders batches that ``mapper_ingest`` expands.

Everything here is pure numpy/pandas/pyarrow. Data that the program keeps
on disk is generated once per checkout from a constant seed (the ``--seed``
argument varies the query stream and the ingest batches, not the tables),
so the library's on-disk caches can be primed once and ``setup_s`` means the
same thing in every run.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pandas as pd

#: the reference CSVs: 3 days at 10 s cadence per series
WIND_POINTS = 25_920
WIND_TURBINES = 8
WIND_CADENCE_S = 10
WIND_BASE = pd.Timestamp("2022-08-01 00:00:00")
#: signal label -> external-id prefix (the reference's ep/wsp/wdir CSVs)
SIGNALS = {"Production": "ep", "WindSpeed": "wsp", "WindDirection": "wdir"}

WP = "https://github.com/magbak/otit_swt/windpower_example#"
OTIT = "https://github.com/magbak/otit_swt#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
#: benchmark-owned vocabulary that lets DSL paths address each signal
NAME = "urn:perfbench:name"
DASH = "urn:perfbench:dash"
DOT = "urn:perfbench:dot"
SITE_TYPE = "urn:perfbench:SiteType"
SITE_NAME = "Wind Mountain"

#: TPC-H sf0.1 cardinalities; events: 100k points over 1,500 series
TPCH_ROWS = {"region": 5, "nation": 25, "customer": 15_000,
             "supplier": 1_000, "orders": 150_000, "events": 100_000}
N_USERS = 1_500
EVENTS_START = pd.Timestamp("2024-01-01 00:00:00")
EVENTS_DAYS = 30
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TPCH_DATA_SEED = 20_160_905


def wind_frame() -> pd.DataFrame:
    """Tall (id, timestamp, value) frame: 24 series x 25,920 points,
    values uniform [0, 100) rounded to 3 decimals from a crc32(id)-seeded
    stream, so every process builds the same bytes."""
    ts = WIND_BASE + pd.to_timedelta(
        np.arange(WIND_POINTS) * WIND_CADENCE_S, unit="s")
    frames = []
    for i in range(1, WIND_TURBINES + 1):
        for prefix in SIGNALS.values():
            sid = f"{prefix}{i}"
            rng = np.random.default_rng(zlib.crc32(sid.encode()))
            frames.append(pd.DataFrame({
                "id": sid, "timestamp": ts,
                "value": rng.uniform(0, 100, WIND_POINTS).round(3)}))
    return pd.concat(frames, ignore_index=True)


def wind_naming_triples() -> list[tuple]:
    """Triples that give the site, each turbine and each turbine's signals
    a name under one predicate, with a ``-`` (site -> turbine) and ``.``
    (turbine -> signal) connective, so ``Site-"A3"."Production"`` resolves
    to the series ``ep3``. Rows are in GraphStore's triples schema."""
    rows = []

    def iri(s, p, o):
        rows.append((s, p, o, None, None, None))

    def name(s, text):
        rows.append((s, NAME, None, text,
                     "http://www.w3.org/2001/XMLSchema#string", None))

    site = WP + "WindMountain"
    iri(site, RDF_TYPE, SITE_TYPE)
    name(SITE_TYPE, "Site")
    name(site, SITE_NAME)
    for i in range(1, WIND_TURBINES + 1):
        turbine = WP + f"A{i}"
        iri(site, DASH, turbine)
        name(turbine, f"A{i}")
        for label, prefix in SIGNALS.items():
            sig = WP + f"A{i}_{label}"
            iri(turbine, DOT, sig)
            name(sig, label)
            iri(sig, OTIT + "hasTimeseries", WP + f"ts_{prefix}{i}")
    return rows


def tpch_tables() -> dict[str, pd.DataFrame]:
    """The tables ``otit_swt_spark.tpch_graph`` builds its KG from, at
    sf0.1 cardinalities and with the columns it reads."""
    rng = np.random.default_rng(TPCH_DATA_SEED)
    n = TPCH_ROWS
    region = pd.DataFrame({
        "r_regionkey": np.arange(n["region"], dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(n["nation"], dtype=np.int32),
        "n_name": [f"NATION_{k:02d}" for k in range(n["nation"])],
        "n_regionkey": (np.arange(n["nation"]) % n["region"]).astype(np.int32)})
    ck = np.arange(1, n["customer"] + 1, dtype=np.int64)
    customer = pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, n["nation"], ck.size).astype(np.int32),
        "c_acctbal": rng.uniform(-999.99, 9999.99, ck.size).round(2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, ck.size)]})
    sk = np.arange(1, n["supplier"] + 1, dtype=np.int64)
    supplier = pd.DataFrame({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, n["nation"], sk.size).astype(np.int32),
        "s_acctbal": rng.uniform(-999.99, 9999.99, sk.size).round(2)})
    orders = _orders(rng, np.arange(1, n["orders"] + 1, dtype=np.int64))
    m = n["events"]
    events = pd.DataFrame({
        "event_id": np.arange(1, m + 1, dtype=np.int64),
        "ts": (EVENTS_START + pd.to_timedelta(
            rng.integers(0, EVENTS_DAYS * 86_400, m), unit="s")).astype(
                "datetime64[us]"),
        "user_id": rng.integers(1, N_USERS + 1, m).astype(np.int64),
        "event_type": np.array(["view", "click", "buy"])[rng.integers(0, 3, m)],
        "value": rng.uniform(0, 1000, m).round(2),
        "props": "{}"})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "orders": orders, "events": events}


def _orders(rng, keys: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({
        "o_orderkey": keys,
        "o_custkey": rng.integers(1, TPCH_ROWS["customer"] + 1,
                                  keys.size).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, keys.size)],
        "o_totalprice": rng.uniform(900.0, 500_000.0, keys.size).round(2),
        "o_orderdate": (pd.Timestamp("1992-01-01") + pd.to_timedelta(
            rng.integers(0, 2_400, keys.size), unit="D")).astype("datetime64[us]"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, keys.size)]})


def write_tpch(dir_path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dir_path, exist_ok=True)
    for name, pdf in tpch_tables().items():
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(dir_path, f"{name}.parquet"))


#: rows per ingest batch: lineitems (4 triples each) over new orders
#: (3 triples each)
BATCH_LINEITEMS = 20_000
BATCH_ORDERS = 5_000


def ingest_batch(seed: int, batch: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Seeded (orders, lineitem) rows for one ingest batch. Order keys
    start past the base table's, one disjoint range per batch, and orders
    reference existing customers, so read-your-writes queries join the new
    batch to the base graph."""
    rng = np.random.default_rng([seed, batch])
    first = TPCH_ROWS["orders"] + 1 + batch * BATCH_ORDERS
    orders = _orders(rng, np.arange(first, first + BATCH_ORDERS, dtype=np.int64))
    k = BATCH_LINEITEMS
    lineitem = pd.DataFrame({
        "l_orderkey": orders["o_orderkey"].to_numpy()[
            rng.integers(0, BATCH_ORDERS, k)],
        "l_linenumber": np.arange(k, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, k).astype(np.int64),
        "l_extendedprice": rng.uniform(900.0, 100_000.0, k).round(2),
    })
    return orders, lineitem
