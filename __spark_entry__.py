"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``novi_pdq_etl_project_prod_spark``; this module is
a thin adapter over its query catalog. The one thing it adds is the ORDER
of the registry: the driver verifies only the first 50 keys, so queries
without a successful driver row (and the ``RECERTIFY`` set) lead, and
certified queries follow in catalog order.
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from novi_pdq_etl_project_prod_spark.catalog import ORACLES, QUERIES  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"

#: Queries that lead the registry although a green driver row exists:
#: their execution was rewritten after that row was recorded (Arrow
#: MinHash/SimHash, row-local span excision and scrub, fused funnel
#: actions, cached-plan AQE, cumulative and cut-fitting reshapes,
#: gram-join keys) without changing any declared result. The exact-value
#: parity suite re-proves them in-repo; leading the registry makes the
#: driver's own oracle sample re-run them too. Clear an entry once the
#: driver has re-certified it.
RECERTIFY = frozenset((
    "m8_minhash_near_dups m65_minhash_calibration "
    "m66_incremental_near_dups m67_dedup_canonicalize "
    "m13_near_dup_clusters m70_ingest_funnel m76_ingest_spans "
    "m82_retracted_funnel m87_retracted_grams m72_span_excision "
    "m71_repeated_spans m73_incremental_spans m86_rewrite_excised "
    "m53_copurchase_triangles m43_pair_components "
    "m55_component_size_histogram m63_supplier_pagerank d29_spearman "
    "m9_simhash_near_dups m60_boilerplate_scrub m42_curation_v2 "
    "d35_monthly_drift d24_weighted_median d19_mad_outliers "
    "d23_sample_quantiles d38_winsorized_mean m54_zipf_coverage "
    "d25_gini_spend d27_ks_statistic d28_mann_whitney "
    "w12_distributed_rank m39_containment_pairs m64_bpe_train"
).split())


def _derive_driver_certified(repo=None) -> set[str]:
    """Latest-wins union of CORRECTNESS_r*.json rows whose most recent
    driver outcome is successful: hash/rows green, or the documented
    ``no_oracle`` class — the latter only while the query is STILL
    oracle-less. A query that gained an oracle after its latest driver
    row is uncertified: the stale ``no_oracle`` row never verified the
    new oracle surface, so the query leads the registry until a
    hash-green row lands. Unreadable files are skipped; with no artifacts
    the set is empty.

    ``repo`` overrides the artifact root (default: this file's
    directory)."""
    repo = pathlib.Path(repo or os.path.dirname(os.path.abspath(__file__)))
    latest = {}
    for f in sorted(repo.glob("CORRECTNESS_r*.json")):
        try:
            rows = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            green = bool(row.get("hash_match") or row.get("rows_match"))
            latest[name] = green or (
                row.get("err") == "no_oracle" and name not in ORACLES
            )
    return {name for name, ok in latest.items() if ok}


def _driver_order() -> list[str]:
    """Catalog keys, uncertified and ``RECERTIFY`` queries first."""
    certified = _derive_driver_certified()
    lead = [q for q in QUERIES if q not in certified or q in RECERTIFY]
    lead_set = set(lead)
    return lead + [q for q in QUERIES if q not in lead_set]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Monthly-grain fact aggregation (SURVEY.md §2.4 A1 + §2.3 E4): the
    reference's core transform re-expressed Spark-first.
    """
    return QUERIES["a1_monthly_fact"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {q: QUERIES[q] for q in _driver_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; keys missing here are the genuinely
    non-SQL-expressible ops (driver records a rows-only check)."""
    return {q: ORACLES[q] for q in _driver_order() if q in ORACLES}
