"""Generate docs/OPERATORS.md: one row per registry entry with its oracle
status and first docstring line — the complete, greppable inventory of what
a user of the reference (or of a training-data pipeline) can run here.

    python scripts/gen_operator_docs.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402

HEADER = """# Operator inventory — every driver entry

Generated by `python scripts/gen_operator_docs.py` from the live registry:
one row per `queries()` entry, its oracle status ("SQL" = full DuckDB
rowcount+schema+value-hash twin, the driver's strongest check; "rows" =
rows-only, with the reason), and what it computes. `tests/
test_oracle_sweep.py` replays every SQL twin at sf0.01 inside the default
pytest run; `scripts/check_oracle.py` does the same standalone at any
scale factor.
"""


def main() -> None:
    qs = entry_mod._QUERIES
    oracles = entry_mod.oracle_sql()
    lines = [HEADER, "| entry | oracle | what it computes |", "|---|---|---|"]
    n_sql = 0
    for name, fn in qs.items():
        # first docstring paragraph, collapsed and clipped
        para = (fn.__doc__ or "").strip().split("\n\n")[0]
        doc = " ".join(para.split()) or "(see registry source)"
        if len(doc) > 140:
            doc = doc[:137].rsplit(" ", 1)[0] + "..."
        doc = doc.replace("|", "\\|")
        if name in oracles:
            status = "SQL"
            n_sql += 1
        else:
            status = "rows"
        lines.append(f"| `{name}` | {status} | {doc} |")
    lines.append("")
    lines.append(f"{n_sql} of {len(qs)} entries have full SQL oracles; "
                 f"the rest are rows-only by nature (iterative or "
                 f"heuristic algorithms with invariant pytests instead).")
    out = "\n".join(lines) + "\n"
    with open(os.path.join(ROOT, "docs", "OPERATORS.md"), "w") as f:
        f.write(out)
    print(f"wrote docs/OPERATORS.md: {len(qs)} entries, {n_sql} SQL oracles")


if __name__ == "__main__":
    main()
