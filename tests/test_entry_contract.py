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


def _script(name):
    spec = importlib.util.spec_from_file_location(
        name, Path(entry_mod.__file__).parent / "scripts" / f"{name}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bnlj_whitelist_names_only_registered_queries():
    """scripts/plan_audit.py's BroadcastNestedLoopJoin whitelist must not
    outlive the queries it excuses."""
    assert _script("plan_audit").BNLJ_WHITELIST - set(QUERIES) == set()


# Package definitions that no query, job, streaming module, analyzer or
# program reaches, kept on purpose; each names why it stays.
UNREACHED_ALLOWED = {
    "reassemble_conversations_chunked":
        "bounded-row reassembly of a mega-conversation; waits for the "
        "checkpointed job's layout decision (ROADMAP items 1 and 11)",
    "span_id":
        "the documented span-id contract that kernels/extract.py inlines; "
        "tests pin the inlined ids against it",
}


def test_no_definition_only_tests_reach():
    """Every top-level package definition is reached by a query, a job, a
    streaming module, the analyzer or a program (scripts/reachability.py),
    apart from the allowlist, which must not outlive its entries either."""
    dead = _script("reachability").unreached()
    unexpected = sorted(f"{d.module}:{d.name}" for d in dead if d.name not in UNREACHED_ALLOWED)
    stale = sorted(set(UNREACHED_ALLOWED) - {d.name for d in dead})
    assert not unexpected, f"only tests reach: {unexpected}"
    assert not stale, f"allowed but reached, drop from the allowlist: {stale}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_parity, name):
    problems = compare_query(spark, name, QUERIES[name], ORACLES[name], sf_parity)
    assert not problems, "\n".join(problems)
