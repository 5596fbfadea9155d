"""Registry-wide entry contracts — always-on, compile-only (no execution).

1. Scalar-columns guard: the grading driver canonicalizes each entry's
   output with a pandas sort before hashing; a column holding arrays /
   maps / structs crashes that sort (``TypeError: unhashable type:
   'list'`` — the round-5 ``quantize_embeddings`` red row). Every entry
   must therefore emit only scalar columns; library functions may return
   arrays, but the ENTRY must reshape (posexplode) them long-form.

2. Docs-drift guard: ``docs/OPERATORS.md`` is generated from the live
   registry (``scripts/gen_operator_docs.py``); the r3/r4/r5 verdicts all
   flagged it lagging late-round additions. Pin the generated counts to
   the registry so the drift class is structurally impossible — if you add
   an entry, this test fails until you re-run the generator.
"""

import os
import re

import pyspark.sql.types as T

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

COMPLEX = (T.ArrayType, T.MapType, T.StructType)


def test_all_entry_schemas_scalar(spark):
    failures = []
    for name, fn in entry_mod.queries().items():
        try:
            schema = fn(spark, SF_DIR).schema
        except Exception as e:  # pragma: no cover - surfaced as failure
            failures.append(f"{name}: schema build error {type(e).__name__}: {e}")
            continue
        bad = [f.name for f in schema.fields if isinstance(f.dataType, COMPLEX)]
        if bad:
            failures.append(f"{name}: non-scalar output column(s) {bad}")
    assert not failures, "\n".join(failures)


def test_operators_md_matches_registry():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    with open(os.path.join(ROOT, "docs", "OPERATORS.md")) as f:
        text = f.read()
    doc_entries = set(re.findall(r"^\| `([a-z0-9_]+)` \|", text, re.M))
    missing = sorted(set(qs) - doc_entries)
    stale = sorted(doc_entries - set(qs))
    assert not missing and not stale, (
        f"docs/OPERATORS.md drift — run scripts/gen_operator_docs.py; "
        f"missing={missing} stale={stale}")
    # oracle coverage line stays honest too
    n_sql_doc = len(re.findall(r"^\| `[a-z0-9_]+` \| SQL \|", text, re.M))
    assert n_sql_doc == len(set(qs) & set(oracles)), (
        f"OPERATORS.md SQL-oracle rows {n_sql_doc} != registry "
        f"{len(set(qs) & set(oracles))}")


def test_every_entry_has_oracle_or_documented_exception():
    """Repo rule since r2: no entry without a SQL oracle unless it's in the
    documented rows-only allowlist (genuinely non-SQL-expressible)."""
    qs = set(entry_mod.queries())
    oracles = set(entry_mod.oracle_sql())
    rows_only = qs - oracles
    allowed = set(getattr(entry_mod, "ROWS_ONLY_OK", set()))
    undocumented = sorted(rows_only - allowed)
    assert not undocumented, (
        f"entries without oracle_sql and not in ROWS_ONLY_OK: {undocumented}")


def test_bench_names_exist_in_registry():
    """Every HEADLINE/EXTENDED name bench.py times must be a registry
    entry — a typo here would silently shrink the driver's BENCH."""
    import importlib.util

    import __spark_entry__ as entry_mod

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(ROOT, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    keys = set(entry_mod._QUERIES)
    missing = [n for n in bench.HEADLINE + bench.EXTENDED
               if n not in keys]
    assert not missing, missing


def test_plan_audit_covers_registry():
    """Plan-audit drift guard (round-7 verdict item 4): the committed
    PLAN_AUDIT file must contain a block for EVERY registry entry —
    adding an entry without regenerating the audit
    (``python scripts/explain_audit.py /root/testdata/sf0.001 >
    docs/PLAN_AUDIT_r<N>.md``) fails here, the same structural
    protection OPERATORS.md already has."""
    import glob

    audits = sorted(glob.glob(os.path.join(ROOT, "docs", "PLAN_AUDIT_r*.md")),
                    key=lambda p: int(re.search(r"_r(\d+)", p).group(1)))
    assert audits, "no committed PLAN_AUDIT_r*.md"
    with open(audits[-1]) as f:
        text = f.read()
    audited = set(re.findall(r"^== ([a-z0-9_]+)$", text, re.M))
    missing = sorted(set(entry_mod.queries()) - audited)
    assert not missing, (
        f"{audits[-1]} misses {len(missing)} registry entries "
        f"(regenerate with scripts/explain_audit.py): {missing[:10]}")
