"""Registry-wide oracle dtype guard — no Spark needed.

The grading driver canonicalizes both result sets through pandas frames
before hashing.  DuckDB ``sum()`` over any integer type returns HUGEINT
(int128), and HUGEINT / DECIMAL wider than 18 digits materialize in
pandas as float64 or object — hash-mismatching Spark's int64 even when
every stringified value is identical.  This defect class caused the r5
``quantize_embeddings`` red and both r6 ``bpe_*`` reds, and was invisible
to the in-repo sweep because it stringified via fetchall().

This guard DESCRIBEs every oracle's final projection (bind only, no
execution) and fails on any HUGEINT / UHUGEINT / DECIMAL(p>18) column —
such aggregates must be ``CAST(... AS BIGINT)`` (or DOUBLE) in the final
SELECT.  The full sweep (scripts/check_oracle.py) additionally
cross-checks dtype families against the live Spark schema.
"""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

import __spark_entry__ as entry_mod  # noqa: E402
from check_oracle import TABLES, duck_family, duck_result_types  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_no_oracle_projects_wider_than_int64(con):
    failures = []
    for name, sql in entry_mod.oracle_sql().items():
        try:
            types = duck_result_types(con, sql)
        except Exception as e:  # bind errors are the sweep's job
            failures.append(f"{name}: DESCRIBE failed: {str(e)[:200]}")
            continue
        for col, dtyp in types.items():
            if duck_family(dtyp) in ("hugeint", "decimal_wide"):
                failures.append(
                    f"{name}.{col}: {dtyp} — cast the final aggregate "
                    f"(pandas renders it float64/object; driver hash red)")
    assert not failures, "\n".join(failures)


def test_guard_catches_uncast_sum(con):
    """Self-test: the guard must flag the exact shape that caused the r6
    reds (uncast sum of BIGINT in the final projection)."""
    types = duck_result_types(
        con, "SELECT o_custkey, sum(o_totalprice::BIGINT) AS s "
             "FROM orders GROUP BY 1")
    assert duck_family(types["s"]) == "hugeint"
