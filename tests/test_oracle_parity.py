"""Run every registered query against its DuckDB oracle at sf0.001 —
the local replica of the driver's CORRECTNESS gate (it runs sf0.01)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.oracle_harness import compare, duck_con

SF = "/root/testdata/sf0.001"

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(spark, con, name):
    df = _QUERIES[name](spark, SF)
    compare(df, con, _ORACLES[name])


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
