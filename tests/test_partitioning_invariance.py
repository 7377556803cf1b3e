"""Engine-wide partitioning-invariance sweep.

Every ORACLED catalog query is contractually bit-reproducible (exact
integer/decimal aggregation, tie-broken windows, content-addressed
sampling). That contract is usually checked against DuckDB at a fixed
session config; this sweep checks the OTHER axis a 1000-executor
cluster actually varies: the physical layout. Each query runs under two
deliberately different layouts — the standard test config (32 shuffle
partitions) and a hostile one (7 shuffle partitions, 64 KB
maxPartitionBytes so even the tiny fixtures scan multi-split, AQE
coalescing on) — and the collected results must be IDENTICAL, row for
row, value for value.

Catches the class of bug the oracle can't see when the bug doesn't fire
at the oracle's layout: partition-order-dependent float accumulation,
first/last-without-order, per-partition state leaking into results
(salts from task ids, monotonically_increasing_id), and Arrow-batch-
boundary effects in the vectorized ops.

sf0.001 keeps the sweep minutes-scale; the layout delta, not the data
volume, is what exercises the failure mode.

A full run checks the catalog in the sharded sweep of ``tests/sweep.py``
(one worker pool shared with the oracle-parity tests, sized from the
host's CPUs and RAM); a ``-k`` selection of fewer than
``sweep.MIN_SELECTED`` parity and invariance tests is checked inline on
the shared session.
"""

from __future__ import annotations

import pytest

from novi_pdq_etl_project_prod_spark.catalog import ORACLES, QUERIES
from tests import sweep

ORACLED = sorted(ORACLES)
#: No-oracle queries are *also* seeded-deterministic by design — LSH/
#: MinHash signatures are pure row functions, top-k windows tie-break on
#: ids, k-means trains on a deterministic sample, zlib/eigh are exact.
#: The two sketch queries are exercised too: HLL partial merges are
#: commutative, and percentile_approx's merge is order-sensitive in
#: principle, so a failure there would be excluded and documented, not
#: hidden — as of this round both pass at fixture scale.
NO_ORACLE = sorted(q for q in QUERIES if q not in ORACLES)


@pytest.mark.parametrize("name", ORACLED)
def test_partitioning_invariance(spark, sweep_reports, name):
    report = sweep.report(spark, sweep_reports, "invariance", name)
    assert report["match"], f"{name}: {report}"


@pytest.mark.parametrize("name", NO_ORACLE)
def test_partitioning_invariance_no_oracle(spark, sweep_reports, name):
    report = sweep.report(spark, sweep_reports, "invariance", name)
    assert report["match"], f"{name}: {report}"
