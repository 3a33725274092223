"""Replicates the driver's correctness gate locally: every queries() entry
with an oracle must match DuckDB on sf0.01 (rowcount + columns + values)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

import __spark_entry__ as entry_mod
from tests.harness import compare_query

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_every_oracle_has_query():
    assert set(ORACLES) == set(QUERIES)


def test_bnlj_whitelist_names_only_registered_queries():
    """scripts/plan_audit.py's BroadcastNestedLoopJoin whitelist must not
    outlive the queries it excuses."""
    spec = importlib.util.spec_from_file_location(
        "plan_audit", Path(entry_mod.__file__).parent / "scripts" / "plan_audit.py"
    )
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)
    assert audit.BNLJ_WHITELIST - set(QUERIES) == set()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_parity, name):
    problems = compare_query(spark, name, QUERIES[name], ORACLES[name], sf_parity)
    assert not problems, "\n".join(problems)
