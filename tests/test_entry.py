"""Smoke tests for the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry


def test_registry_consistency():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(oracles) <= set(qs), "oracle for unknown query"
    assert len(qs) >= 20
    # every oracle-checked query is a distinct operator family exemplar
    assert len(oracles) >= 15


def test_entry_runs_and_has_rows(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) == 7  # one per derived column
    assert set(df.columns) == {
        "partition_id", "column", "role", "nulls",
        "conversion_errors", "passed", "reasons",
    }
    byc = {r["column"]: r for r in rows}
    assert byc["int_m"]["conversion_errors"] > 0
    assert not byc["year_str"]["passed"]  # injected invalid formats
    assert byc["tag"]["passed"]


def test_entry_count_is_driver_cap():
    # only the first 50 queries() entries get a correctness check; every
    # entry must be inside the cap and every entry must carry an oracle
    qs = entry.queries()
    assert len(qs) <= 50
    assert set(entry.oracle_sql()) == set(qs)


def test_no_cartesian_over_rdd_in_entry_plans(spark):
    """VERDICT r04 #2: no entry's physical plan may contain a
    CartesianProduct (r4's drift_report joined two RDD-backed 1-row frames
    on a constant key, which Catalyst folded into a condition-less 32x32
    slice cartesian — 13s of harness overhead). Eager entries assemble
    driver-side literal rows now; lazy entries must plan real joins.
    BroadcastNestedLoopJoin over broadcast(1-row) frames is fine and is
    not flagged."""
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"entry test data directory {sf_dir} is missing")
    offenders = {}
    for name, fn in entry.queries().items():
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders[name] = plan[:500]
    assert not offenders, f"cartesian plans: {sorted(offenders)}"
