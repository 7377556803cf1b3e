"""Every catalog query with an oracle must match DuckDB exactly at sf0.01.

This mirrors the driver's t2 correctness gate (BASELINE.md) but with exact
value equality — stricter than the driver's hash.

A full run checks the catalog in the sharded sweep of ``tests/sweep.py``,
whose worker count and heap come from the host's CPUs and RAM; a ``-k``
selection of fewer than ``sweep.MIN_SELECTED`` parity and invariance
tests is checked inline on the shared session. Each parametrized test
asserts its own query's report either way.
"""

from __future__ import annotations

import pytest

from novi_pdq_etl_project_prod_spark.catalog import ORACLES, QUERIES
from tests import sweep
from tests.conftest import SF_ORACLE

#: the fast verify lane (VERDICT r14 #1): exact-value parity is the
#: core certification — `pytest tests/ -m fastverify` runs in <5 min
pytestmark = pytest.mark.fastverify

ORACLED = sorted(ORACLES)


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_parity(spark, sweep_reports, name):
    report = sweep.report(spark, sweep_reports, "parity", name)
    assert report["match"], f"{name}: {report}"


def test_all_queries_return_rows(spark):
    # analysis-only (no actions beyond what query-build itself does) —
    # thread-pooled: Catalyst analysis releases the GIL inside py4j, so
    # 8 threads cut the 220-query wall ~4-5x (VERDICT r08 item 4)
    from concurrent.futures import ThreadPoolExecutor

    def check(item):
        name, fn = item
        assert fn(spark, SF_ORACLE).columns, f"{name} has no columns"

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(check, QUERIES.items()))


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.columns) >= 3
