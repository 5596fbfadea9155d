"""Full oracle sweep as a default test: every queries() entry vs its DuckDB
oracle_sql() twin at sf0.01 — the same comparison the grading driver runs,
so a driver-side subset can never hide drift in unchecked entries.
Set SPARK_GRAFT_SKIP_SWEEP=1 to skip during quick inner-loop runs."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))


@pytest.mark.skipif(os.environ.get("SPARK_GRAFT_SKIP_SWEEP") == "1",
                    reason="sweep skipped by SPARK_GRAFT_SKIP_SWEEP")
def test_full_oracle_sweep_sf001(spark):
    from check_oracle import run_sweep

    failures = run_sweep(spark, "/root/testdata/sf0.01")
    assert failures == []


def test_sweep_subset_counts_only_checked_names(spark, capsys):
    """A NAME subset reports over the names it ran, and a name that is
    not a queries() entry fails instead of passing unchecked."""
    from check_oracle import run_sweep

    failures = run_sweep(spark,
                         only=["tpch_q12_shipmode", "no_such_entry"])
    assert failures == [("no_such_entry", "not a queries() entry")]
    assert "1/2 ok; 1 failures" in capsys.readouterr().out
