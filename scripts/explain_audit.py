"""Plan audit: for each headline query, dump scan pushdown / join strategy /
codegen evidence from the executed plan. Usage:

    python scripts/explain_audit.py [sf_dir] [name ...]

Prints one block per query: scans with PushedFilters + read schema width,
join operators, exchange count, and whole-stage-codegen span count — the
things that must stay healthy for the 100 TB posture (SURVEY §4).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from otit_swt_spark.session import get_spark  # noqa: E402


def _single_partition_windows(plan: str) -> int:
    """Count Window operators with an EMPTY partition spec — the ones
    WindowExec warns about ("Moving all data to a single partition").
    In plan text a window node prints its NON-EMPTY specs as top-level
    bracket groups: ``Window [exprs], [part], [order]`` when fully
    specified, ``Window [exprs], [spec]`` when only one of
    partition/order exists, ``Window [exprs]`` when neither. The
    single remaining spec is an ORDER spec iff it carries sort
    directions (``ASC``/``DESC`` — partition specs never do), so:
    1 group, or 2 groups with a directed second group => empty
    partition spec => single-partition execution. Brackets nest inside
    windowspecdefinition; groups are counted by bracket depth.
    A global window is FINE over a bounded frame (bucket prefixes,
    per-day rollups) and a scale bug over an unbounded one — this
    count surfaces regressions in the audit diff (round-7 verdict
    item 8)."""
    n = 0
    for line in plan.splitlines():
        # plain Window nodes only: WindowGroupLimit prints its partition
        # spec as the FIRST bracket group (2 groups even when
        # partitioned), and it always accompanies the Window node it
        # limits, so counting it would double- and over-report
        m = re.match(r"[\s:+-]*(?:\*\(\d+\)\s*)?Window ", line)
        if not m:
            continue
        depth = 0
        groups = []
        for pos, ch in enumerate(line[m.end() - 1:], start=m.end() - 1):
            if ch == "[":
                if depth == 0:
                    groups.append([pos + 1, pos + 1])
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups[-1][1] = pos
        if len(groups) == 1:
            n += 1
        elif len(groups) == 2:
            second = line[groups[1][0]:groups[1][1]]
            if re.search(r"\b(ASC|DESC)\b", second):
                n += 1
    return n


def audit(name: str, df) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(r"FileScan parquet \[([^\]]*)\][^\n]*", plan)
    pushed = re.findall(r"DataFilters: \[([^\]]*)\]", plan)
    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                       r"BroadcastNestedLoopJoin|CartesianProduct)", plan)
    print(f"== {name}")
    print(f"   scans: {len(scans)}; columns per scan: "
          f"{[len(s.split(',')) for s in scans]}")
    for p in pushed[:6]:
        print(f"   pushed: {p[:140]}")
    print(f"   joins: {dict((j, joins.count(j)) for j in set(joins))}")
    # executedPlan().toString() marks whole-stage-codegen membership with a
    # "*(n)" prefix per operator (the literal WholeStageCodegen node name
    # only appears in the formatted explain), so count distinct span ids
    codegen = len(set(re.findall(r"\*\((\d+)\)", plan)))
    print(f"   exchanges: {plan.count('Exchange')}, "
          f"codegen spans: {codegen}, "
          f"single-partition windows: {_single_partition_windows(plan)}")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or None
    spark = get_spark("explain_audit")
    # Audit the STATIC plan: with AQE on, the pre-execution executedPlan is
    # an AdaptiveSparkPlan placeholder that hides codegen span markers and
    # final join choices. Disabling AQE here keeps the audit compile-only
    # (no per-entry execution) while showing real operator/codegen shapes;
    # production sessions keep AQE, which only improves on these plans
    # (runtime broadcast conversion, partition coalescing, skew splitting).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        try:
            audit(name, fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"== {name}: ERROR {type(e).__name__}: {str(e)[:160]}")


if __name__ == "__main__":
    main()
