"""Pre-flight for the driver's CORRECTNESS gate: run every queries() entry
and its oracle_sql() DuckDB twin at sf0.001, compare row count, column names,
and order-insensitive values (the driver does the same at sf0.01)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from pdftableextractor_spark import oracle_gate

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ddb():
    return oracle_gate.duckdb_views(SF_DIR)


ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


def test_all_oracle_keys_have_queries():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracle without query: {missing}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, ddb, name):
    oracle_gate.check(QUERIES[name](spark, SF_DIR), ddb, ORACLES[name])


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0


def test_every_query_is_oracled():
    """Round-2 milestone, pinned: NO rows-only queries remain — every
    driver query has a DuckDB twin (the parametrization above is empty by
    design and only exists as a safety net for future additions)."""
    assert set(QUERIES) == set(ORACLES)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
