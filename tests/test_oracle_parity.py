"""Every registered oracle-checked query must match DuckDB exactly —
the local replica of the driver's CORRECTNESS gate (SURVEY.md §5 item 1).
"""

from __future__ import annotations

import time

import pytest

from imdbmapreduce_spark import registry
from tests.oracle_util import compare, duckdb_connection

_NAMES = sorted(registry.all_oracles())

# Wall budget for one oracle in DuckDB at sf0.001. The slowest oracle
# takes under 4 s; an unrolled CTE chain that inlines its rounds instead
# of going through registry.unrolled_cte grows exponentially with the
# round count (minutes at 8-10 rounds) and fails here, not in a stall.
_ORACLE_BUDGET_S = 30.0


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", _NAMES)
def test_oracle_parity(spark, sf_dir, oracle_con, name):
    rq = registry.get(name)
    spark_pdf = rq.fn(spark, sf_dir).toPandas()
    t0 = time.perf_counter()
    result = oracle_con.execute(rq.oracle)
    oracle_s = time.perf_counter() - t0
    assert oracle_s <= _ORACLE_BUDGET_S, (name, round(oracle_s, 1))
    compare(spark_pdf, result.fetchdf(), name)


@pytest.mark.parametrize(
    "name", sorted(set(registry.all_queries()) - set(registry.all_oracles()))
)
def test_rows_only_queries_run(spark, sf_dir, name):
    """A query without an oracle must still run and have a stable schema."""
    df = registry.get(name).fn(spark, sf_dir)
    assert df.columns, name
    df.limit(5).collect()
