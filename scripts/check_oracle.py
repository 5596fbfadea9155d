"""Local stand-in for the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() twin on DuckDB at the given sf, compare
row count, column set, and order-insensitive values."""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from otit_swt_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


# --- dtype faithfulness (r6 post-mortem) -------------------------------
# The driver canonicalizes both result sets through pandas frames before
# hashing, so a DuckDB HUGEINT (sum of any integer type) or DECIMAL wider
# than int64 materializes as float64/object and hash-mismatches Spark's
# long even when the stringified values are identical.  fetchall()+str()
# erased exactly that class (r5 quantize red, both r6 bpe reds), so the
# sweep now also compares dtype FAMILIES between the Spark schema and the
# DuckDB declared result types (via DESCRIBE, which binds without
# executing).

_SPARK_INT = {"byte", "short", "int", "integer", "bigint", "long"}
_SPARK_FLOAT = {"float", "double"}
_DUCK_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
_DUCK_FLOAT = {"FLOAT", "REAL", "DOUBLE"}


def spark_family(dt_simple: str) -> str:
    s = dt_simple.lower()
    if s in _SPARK_INT:
        return "int"
    if s in _SPARK_FLOAT:
        return "float"
    if s.startswith("decimal"):
        return "decimal"
    return "other"


def duck_family(type_str: str) -> str:
    t = type_str.upper()
    if t in _DUCK_INT:
        return "int"
    if t in _DUCK_FLOAT:
        return "float"
    if t in ("HUGEINT", "UHUGEINT"):
        return "hugeint"
    if t.startswith("DECIMAL"):
        # DECIMAL(p,s): p > 18 can't live in an int64/float64 pandas col
        try:
            prec = int(t.split("(")[1].split(",")[0])
        except (IndexError, ValueError):
            prec = 38
        return "decimal_wide" if prec > 18 else "decimal"
    return "other"


def duck_result_types(con, sql: str) -> dict[str, str]:
    """Column -> declared DuckDB type for the query's final projection."""
    rows = con.execute(f"DESCRIBE {sql}").fetchall()
    return {r[0]: r[1] for r in rows}


def dtype_drift(spark_schema, duck_types: dict[str, str]) -> list[str]:
    """Return human-readable drift findings between the Spark schema and
    DuckDB declared types — the cases that survive str() equality but
    break the driver's pandas-frame hash."""
    sfam = {f.name: spark_family(f.dataType.simpleString())
            for f in spark_schema.fields}
    bad = []
    for col, dtyp in duck_types.items():
        dfam = duck_family(dtyp)
        sf = sfam.get(col)
        if sf is None:
            continue  # schema-mismatch check reports missing columns
        if dfam in ("hugeint", "decimal_wide"):
            bad.append(f"{col}: duckdb {dtyp} (pandas float64/object) "
                       f"vs spark {sf}")
        elif sf == "int" and dfam in ("float", "decimal"):
            bad.append(f"{col}: spark int-family vs duckdb {dtyp}")
        elif sf == "float" and dfam in ("int", "decimal"):
            bad.append(f"{col}: spark float vs duckdb {dtyp}")
    return bad


def run_sweep(spark, sf_dir: str = "/root/testdata/sf0.01",
              only: list[str] | None = None) -> list[tuple[str, str]]:
    """Run every queries() entry (or only the ``only`` names) on Spark
    and its oracle_sql() twin on DuckDB, returning (name, reason)
    failures; a name in ``only`` that is not a queries() entry is a
    failure. Importable so the pytest suite runs the full sweep by
    default (driver subsetting can't hide drift)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = [n for n in qs if not only or n in only]
    unknown = [n for n in only or () if n not in qs]
    failures = [(n, "not a queries() entry") for n in unknown]
    for n in unknown:
        print(f"FAIL  {n}: not a queries() entry")
    for name in names:
        fn = qs[name]
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            pdf_rows = [tuple(r) for r in df.collect()]
            s_cols = df.columns
        except Exception as e:
            failures.append((name, f"SPARK ERROR {type(e).__name__}: {str(e)[:300]}"))
            print(f"FAIL  {name}: spark error {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(pdf_rows)} rows, {time.time()-t0:.1f}s)")
            if len(pdf_rows) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [c[0] for c in res.description]
            d_rows = res.fetchall()
            d_types = duck_result_types(con, oracles[name])
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {str(e)[:300]}"))
            print(f"FAIL  {name}: duckdb error {str(e)[:200]}")
            continue
        drift = dtype_drift(df.schema, d_types)
        if drift:
            failures.append((name, f"dtype drift: {'; '.join(drift)}"))
            print(f"FAIL  {name}: dtype drift {drift}")
            continue
        sc, sr = norm_rows(s_cols, pdf_rows)
        dc, dr = norm_rows(d_cols, d_rows)
        if sc != dc:
            failures.append((name, f"schema mismatch {sc} vs {dc}"))
            print(f"FAIL  {name}: schema {sc} vs {dc}")
        elif len(sr) != len(dr):
            failures.append((name, f"rowcount {len(sr)} vs {len(dr)}"))
            print(f"FAIL  {name}: rowcount {len(sr)} vs {len(dr)}")
        elif sr != dr:
            diff = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            failures.append((name, f"values differ, e.g. {diff}"))
            print(f"FAIL  {name}: values differ e.g. {diff}")
        else:
            print(f"PASS  {name} ({len(sr)} rows, {time.time()-t0:.1f}s)")
    checked = len(names) + len(unknown)
    print(f"\n{checked - len(failures)}/{checked} ok; {len(failures)} failures")
    for n, msg in failures:
        print(f"  - {n}: {msg}")
    return failures


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or None
    failures = run_sweep(get_spark("oracle_check"), sf_dir, only)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
