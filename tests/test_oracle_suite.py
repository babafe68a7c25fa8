"""The whole declared query surface hash-matches the DuckDB oracle at
sf0.001 — the same comparison the driver's correctness gate runs at
sf0.01 (plans/oracle.py mirrors it)."""

from __future__ import annotations

from collections import Counter

import pytest

import __spark_entry__ as entrymod
from task_hive_spark.plans.oracle import run_all


def test_all_queries_match_oracle(spark, sf_dir):
    results = run_all(spark, sf_dir)
    assert results, "no queries registered"
    failures = [f"{r.name}: {r.detail}" for r in results if not r.ok]
    assert not failures, "oracle mismatches:\n" + "\n".join(failures)


def test_registry_names_are_unique_and_every_query_has_an_oracle():
    """queries()/oracle_sql() are plain unions over the registering
    modules, so a name registered by two modules would let one silently
    override the other; and every registered query has its oracle."""
    mods = entrymod._registry_modules()
    for attr in ("QUERIES", "ORACLES"):
        counts = Counter(k for m in mods for k in getattr(m, attr))
        dup = sorted(k for k, n in counts.items() if n > 1)
        assert not dup, f"{attr} names registered by more than one module: {dup}"
    assert set(entrymod.queries()) == set(entrymod.oracle_sql())


def test_run_all_rejects_unregistered_names(spark, sf_dir):
    """A typo in a query name must fail loudly, not report 0/0 matches."""
    with pytest.raises(ValueError, match="th_statz"):
        run_all(spark, sf_dir, only=["th_stats", "th_statz"])
