"""Mid-tier high-SF scaling record (r13 verdict item 9 prerequisite):
before touching the 1-2 s mid-tier entries, measure whether they have
100 TB-relevant structure at all — every one of them sits at the AQE
stage-latency floor at sf0.1, so only an amplified-input record can
separate "shuffle-bound, worth surgery" from "fixed-size / latency-bound,
leave alone".

Entries and how each scales honestly:
- minhash_lsh_pairs, tpch_q3_topk: directly over build_amplified(x8)
  (documents are content-perturbed; lineitem/orders key-shifted).
- er_golden_records: `part` is a DIM the amplifier keeps fixed, so a
  local override unions key-shifted replicas whose names carry pairwise
  Levenshtein-3 prefixes ("qqq " vs "www " ...): cross-replica pairs
  stay above max_distance=2, so entity clusters grow LINEARLY (the
  correct corpus-growth expectation), never quadratically in replicas.
- dbscan_customers: the registry entry is bounded (c_custkey <= 2000) by
  design; the scaled variant grows the bound to 2000*amp (capped by the
  table) and widens hash_coords' area by sqrt(n/2000) so point DENSITY —
  which controls eps-pair mass — stays constant: linear growth is the
  honest expectation for a spatial corpus.
- image_phash_neardup: scaling_curve.SCALE_OVERRIDES (group count scales
  with the corpus, constant cluster size).
- windpower_10min_avg: engine built with amp x REFERENCE_POINTS points
  (warm-store regime, like the bench).

Usage: SPARK_GRAFT_CPUS=32 python scripts/scaling_midtier.py [amp] [out.json]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from otit_swt_spark.metrics import (  # noqa: E402
    shuffle_write_delta,
    stage_shuffle_writes,
)
from otit_swt_spark.session import get_spark  # noqa: E402
from scaling_curve import (  # noqa: E402
    BASE,
    SCALE_OVERRIDES,
    SHIFT,
    build_amplified,
)

# pairwise Levenshtein distance 3 (> max_distance=2), fixed length, so
# every cross-replica name pair fails the verify: clusters stay
# within-replica and entity mass grows linearly with amplification
_PREFIXES = ["qqq ", "www ", "kkk ", "vvv ", "jjj ", "fff ", "hhh "]


def _er_scaled(amp: int):
    # one distinct prefix per replica: a repeated prefix would put two
    # replicas' names at distance 0 and merge their clusters
    assert amp - 1 <= len(_PREFIXES), (
        f"amplification {amp} needs {amp - 1} name prefixes, "
        f"have {len(_PREFIXES)}")

    def fn(spark, sf_dir):
        from otit_swt_spark.pipelines.fuzzy import er_golden_records

        part = entry_mod._t(spark, BASE, "part")
        rep = part
        for i in range(1, amp):
            rep = rep.unionByName(part.select(
                (F.col("p_partkey") + F.lit(i * SHIFT)).alias("p_partkey"),
                F.concat(F.lit(_PREFIXES[i - 1]),
                         F.col("p_name")).alias("p_name"),
                *[c for c in part.columns
                  if c not in ("p_partkey", "p_name")]))
        return er_golden_records(rep, "p_name", "p_partkey")

    return fn


def _dbscan_scaled(amp: int):
    n_rows: list[int] = []

    def fn(spark, sf_dir):
        from otit_swt_spark.pipelines.spatial import (dbscan_clusters,
                                                      hash_coords)

        cust = (entry_mod._t(spark, BASE, "customer")
                .where(F.col("c_custkey") <= 2000 * amp).select("c_custkey"))
        if not n_rows:
            # widen by the rows the bound actually keeps (the table caps
            # it); counted once, at _time's untimed warm-up call
            n_rows.append(cust.count())
        c = hash_coords(cust, "c_custkey",
                        scale=1000.0 * math.sqrt(n_rows[0] / 2000.0))
        return dbscan_clusters(c, "c_custkey", eps=25.0, min_pts=4)

    return fn


_ENGINES: dict[int, object] = {}


def _windpower_10min(points: int):
    def fn(spark, sf_dir):
        from otit_swt_spark.windpower import build_engine, query_10min_avg

        eng = _ENGINES.get(points)
        if eng is None:
            eng = build_engine(spark, points=points)
            eng.ts_tables[0].load(spark).cache().count()
            _ENGINES[points] = eng
        return eng.query(query_10min_avg(
            t_lo="2022-08-01T08:46:53", t_hi="2022-08-01T21:46:53"))

    return fn


def _time(spark, fn, sf_dir, reps: int = 3) -> dict:
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    samples.sort()
    pre = stage_shuffle_writes(spark)
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return {"sec": round(samples[len(samples) // 2], 3),
            "min": round(samples[0], 3), "max": round(samples[-1], 3),
            "shuffle_mb": round(shuffle_write_delta(spark, pre) / 1e6, 2)}


def main() -> None:
    amp = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark("scaling_midtier", cpus=cpus)
    amp_dir = build_amplified(spark, amp)

    from otit_swt_spark.windpower import REFERENCE_POINTS

    plans = {
        "minhash_lsh_pairs": {
            "base": (entry_mod._QUERIES["minhash_lsh_pairs"], BASE),
            "amp": (entry_mod._QUERIES["minhash_lsh_pairs"], amp_dir)},
        "tpch_q3_topk": {
            "base": (entry_mod._QUERIES["tpch_q3_topk"], BASE),
            "amp": (entry_mod._QUERIES["tpch_q3_topk"], amp_dir)},
        "er_golden_records": {
            "base": (_er_scaled(1), BASE),
            "amp": (_er_scaled(amp), BASE)},
        "dbscan_customers": {
            "base": (_dbscan_scaled(1), BASE),
            "amp": (_dbscan_scaled(amp), BASE)},
        "image_phash_neardup": {
            "base": (SCALE_OVERRIDES["image_phash_neardup"], BASE),
            "amp": (SCALE_OVERRIDES["image_phash_neardup"], amp_dir)},
        "windpower_10min_avg": {
            "base": (_windpower_10min(REFERENCE_POINTS), BASE),
            "amp": (_windpower_10min(REFERENCE_POINTS * amp), BASE)},
    }

    out: dict = {"cpus": cpus, "amplification": amp, "entries": {}}
    for name, arms in plans.items():
        rec = {}
        for scale, (fn, sf_dir) in arms.items():
            spark.sparkContext.setJobDescription(f"midscale:{name}:{scale}")
            rec[scale] = _time(spark, fn, sf_dir)
            print(f"# {name} {scale} ({cpus}c): {rec[scale]}",
                  file=sys.stderr, flush=True)
        spark.sparkContext.setJobDescription(None)
        out["entries"][name] = rec
    out["loadavg"] = os.getloadavg()
    print(json.dumps(out))
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
