"""Summarize run records written by ``perfbench/run.py``.

    python3 perfbench/summarize.py [records-dir]

Per workload, for each end-to-end metric: the median over untraced runs,
the spread (distance between the first and third quartile as a share of
the median, as ``statistics.quantiles(values, n=4)`` gives them), the
median over traced runs and the tracing overhead (traced minus untraced
median), then the untraced median and spread of the same figure taken from
wall time, before the hypervisor's steal is left out. Then, for traced
runs that share a seed, whether the counts meant to repeat exactly did so.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

#: per-layer counts that must repeat exactly across runs with one seed
EXACT_COUNTS = ("sparql.compile_jobs", "flight.remote_queries",
                "flight.rows_served", "mapper.triples", "exec.result_rows")


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(records_dir: str) -> None:
    runs = defaultdict(lambda: {0: [], 1: []})
    for path in sorted(glob.glob(os.path.join(records_dir, "*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        runs[rec["workload"]][rec["trace"]].append(rec)
    for workload, by_trace in sorted(runs.items()):
        untraced, traced = by_trace[0], by_trace[1]
        print(f"## {workload}: {len(untraced)} untraced, {len(traced)} traced runs")
        print("| metric | untraced median | spread | traced median | overhead "
              "| wall median | wall spread |")
        print("| --- | --- | --- | --- | --- | --- | --- |")
        names = (untraced or traced)[0]["end_to_end"]
        for name in names:
            u = [r["end_to_end"][name] for r in untraced]
            t = [r["end_to_end"][name] for r in traced]
            um = statistics.median(u) if u else float("nan")
            tm = statistics.median(t) if t else float("nan")
            w = [r["end_to_end_wall"][name] for r in untraced]
            wm = statistics.median(w) if w else float("nan")
            print(f"| {name} | {um:.4g} | {spread(u):.1%} | {tm:.4g} | {tm - um:+.4g} "
                  f"| {wm:.4g} | {spread(w):.1%} |")
        steal = [r["labels"].get("steal_pct_of_one_cpu", 0) for r in untraced + traced]
        calib = [r["labels"]["calib_s"] for r in untraced + traced]
        print(f"\nlabels: calib_s {min(calib):.3f}-{max(calib):.3f}, "
              f"steal % of one CPU {min(steal)}-{max(steal)}, contaminated runs "
              f"{sum(bool(r['labels'].get('contaminated')) for r in untraced + traced)}")
        by_seed = defaultdict(list)
        for r in traced:
            by_seed[r["seed"]].append(r["per_layer"])
        for seed, layers in sorted(by_seed.items()):
            if len(layers) < 2:
                continue
            same = {k: len({round(p[k], 9) for p in layers}) == 1 for k in EXACT_COUNTS}
            print(f"seed {seed}: {len(layers)} traced runs; exact counts repeat: "
                  + ", ".join(f"{k}={'yes' if ok else 'NO'}" for k, ok in same.items()))
        print()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".work", "records"))
