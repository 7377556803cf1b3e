"""Registry-ordering contract for the external driver's 50-query budget.

The driver verifies exactly the first 50 registry keys each round
(CORRECTNESS_r01/r02 behavior). VERDICT r02 item 1/7: every query that has
never had a driver row must sit inside that window, and net-new additions
must not push an uncertified query out of it. The ordering lives in the
``__spark_entry__`` adapter; the catalog itself is a plain module-order
merge.
"""

import json
import pathlib

import pytest

import __spark_entry__ as entry
from novi_pdq_etl_project_prod_spark.catalog import ORACLES as CATALOG_ORACLES
from novi_pdq_etl_project_prod_spark.catalog import QUERIES as CATALOG_QUERIES

pytestmark = pytest.mark.fastverify

REPO = pathlib.Path(__file__).resolve().parents[1]
DRIVER_BUDGET = 50
QUERIES = entry.queries()
ORACLES = entry.oracle_sql()
DRIVER_CERTIFIED = entry._derive_driver_certified()


def _driver_rows() -> set:
    """Names whose *latest* driver row is successful: green (hash/rows
    match) or the documented ``no_oracle`` outcome — the latter only
    while the query is STILL oracle-less (VERDICT r13 #1: a query that
    graduates into ORACLES outgrows its stale no_oracle row and must
    re-enter the window until the driver hash-greens the new oracle).
    Latest-wins: a crashed row in a later round (r03's six events-schema
    crashes) revokes an earlier green and re-enters the query into the
    window."""
    latest = {}
    for f in sorted(REPO.glob("CORRECTNESS_r*.json")):
        for name, row in json.loads(f.read_text()).items():
            green = bool(row.get("hash_match") or row.get("rows_match"))
            latest[name] = green or (
                row.get("err") == "no_oracle" and name not in ORACLES
            )
    return {name for name, ok in latest.items() if ok}


def test_uncertified_queries_lead_the_registry():
    """Every query without a driver row is inside the first-50 window."""
    uncertified = [q for q in QUERIES if q not in DRIVER_CERTIFIED]
    first_window = list(QUERIES)[:DRIVER_BUDGET]
    missing = [q for q in uncertified if q not in first_window]
    assert not missing, (
        f"{len(uncertified)} uncertified queries but these fall outside the "
        f"driver's first-{DRIVER_BUDGET} window: {missing}"
    )


def test_recertify_entries_lead_the_window():
    """VERDICT r14 item 1: queries whose EXECUTION the optimization
    rounds rewrote re-enter the driver's first-50 sampling window (via
    the RECERTIFY literal) even though green driver rows exist — their
    rows predate the current execution. Budget check: the re-entry set
    plus any genuinely-uncertified queries must fit the window."""
    RECERTIFY = entry.RECERTIFY

    first_window = set(list(QUERIES)[:DRIVER_BUDGET])
    uncertified = {q for q in QUERIES if q not in DRIVER_CERTIFIED}
    assert len(RECERTIFY | uncertified) <= DRIVER_BUDGET, (
        "re-entry set no longer fits the driver budget — trim RECERTIFY"
    )
    outside = sorted((RECERTIFY | uncertified) - first_window)
    assert not outside, f"re-entry queries outside the window: {outside}"
    # every RECERTIFY entry is a real, oracled catalog query (a no_oracle
    # entry would burn a window slot to record no_oracle again)
    assert RECERTIFY <= set(QUERIES)
    assert RECERTIFY <= set(ORACLES)


def test_certified_list_matches_correctness_files():
    """The adapter's certified set is exactly the union of
    CORRECTNESS_r*.json rows that exist in the catalog (a row may cover
    a since-renamed query); ``_driver_rows`` is its independent twin."""
    rows = _driver_rows() & set(QUERIES)
    assert rows == set(DRIVER_CERTIFIED) & set(QUERIES), (
        "certified-list drift: "
        f"missing={sorted(rows - DRIVER_CERTIFIED)} "
        f"stale={sorted(set(DRIVER_CERTIFIED) - rows)}"
    )


def test_ledger_derivation_survives_future_driver_rounds(tmp_path):
    """Meta-test (VERDICT r06 item 1): the ledger derivation must stay
    correct when the driver drops NEXT-round artifacts into the repo root.
    Simulated in a tmp root: an r07 file that greens one query, reds a
    previously-green one, and adds a no_oracle row — latest-wins on all
    three, no crash on a malformed extra file. With no artifacts at all
    the certified set is empty (every query leads the registry)."""
    _derive_driver_certified = entry._derive_driver_certified

    (tmp_path / "CORRECTNESS_r06.json").write_text(json.dumps({
        "old_green": {"hash_match": True, "rows_match": True, "err": None},
        "newly_red": {"hash_match": True, "rows_match": True, "err": None},
    }))
    (tmp_path / "CORRECTNESS_r07.json").write_text(json.dumps({
        "newly_red": {"hash_match": False, "rows_match": False, "err": "boom"},
        "new_green": {"hash_match": True, "rows_match": True, "err": None},
        "new_sketch": {"hash_match": False, "rows_match": False,
                       "err": "no_oracle"},
    }))
    (tmp_path / "CORRECTNESS_r08.json").write_text("not json {")
    certified = _derive_driver_certified(tmp_path)
    assert certified == {"old_green", "new_green", "new_sketch"}
    assert _derive_driver_certified(tmp_path / "empty-missing") == set()


def test_adapter_reorders_the_plain_catalog():
    """The adapter's registry is a permutation of the catalog's plain
    module-order merge: same keys and callables, same oracle SQL, and
    the certified tail keeps catalog order."""
    assert set(QUERIES) == set(CATALOG_QUERIES)
    assert all(QUERIES[q] is CATALOG_QUERIES[q] for q in QUERIES)
    assert ORACLES == CATALOG_ORACLES
    assert list(ORACLES) == [q for q in QUERIES if q in CATALOG_ORACLES]
    lead = {q for q in QUERIES if q not in DRIVER_CERTIFIED} | entry.RECERTIFY
    tail = [q for q in QUERIES if q not in lead]
    assert tail == [q for q in CATALOG_QUERIES if q not in lead]
    assert list(QUERIES)[: len(QUERIES) - len(tail)] == [
        q for q in CATALOG_QUERIES if q in lead
    ]


def test_every_query_has_oracle_or_documented_exception():
    """Non-oracled queries must be the documented approximate/iterative set."""
    no_oracle = {q for q in QUERIES if q not in ORACLES}
    # m8/m9/m13/m24 graduated to exact DuckDB oracles in round 8
    # (md5-deterministic sketch paths) and left this list.
    documented = {
        "d2_approx_distinct",
        "d5_approx_percentiles",
        "m10_lsh_embedding_topk",
        "m17_ivf_embedding_topk",
        # m25 and m35 graduated to exact oracles in round 13 (bitwise
        # round/fold parity and the unrolled integer-Lloyd CTE chain;
        # committed evidence at sf0.01 AND sf0.1 in
        # tools/m35_parity_r14.json — ADVICE r13 low #4)
        "m37_ivf_related_pairs",
        # r05 fourth wave: DEFLATE isn't SQL (pytest byte-identity vs a
        # local zlib reference); eigendecomposition isn't SQL (pytest
        # spectral contract + partition independence)
        "m45_compression_signal",
        "m46_pca_project",
        # r12: approximate IVF dense channel (numpy k-means centroids) —
        # GT-recall-pinned against its exact oracled twin m84
        # (test_round12_ops::test_m85_ann_hybrid_recall_pin)
        "m85_hybrid_ann",
        # r13: the persisted-index form of m85 — pinned ROW-IDENTICAL to
        # m85 (test_round13_ops::test_m88_identical_to_m85), which
        # carries the correctness weight the missing SQL oracle can't
        "m88_hybrid_ann_persisted",
    }
    assert no_oracle <= documented, (
        f"undocumented no-oracle queries: {sorted(no_oracle - documented)}"
    )


def test_plan_audit_covers_every_catalog_query():
    """VERDICT r09 item 4: PLANS.md silently dropped to 216/222 because
    queries landed after the last regen and nothing failed. Pin:
    (PLANS.md table rows) ∪ (plan_report.SKIP, the documented iterative
    exceptions) == the catalog, exactly — red the next time a query is
    added without regenerating the audit (or a stale row survives a
    rename)."""
    import re
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    import plan_report  # noqa: E402

    rows = set(
        re.findall(
            r"^\| ([a-z][A-Za-z0-9]*_[A-Za-z0-9_]+) \|",
            (REPO / "PLANS.md").read_text(),
            re.M,
        )
    )
    skip = set(plan_report.SKIP)
    assert rows.isdisjoint(skip), f"skipped queries have rows: {rows & skip}"
    accounted = rows | skip
    missing = set(QUERIES) - accounted
    stale = accounted - set(QUERIES)
    assert not missing, f"queries without a plan-audit row: {sorted(missing)}"
    assert not stale, f"plan-audit rows for unknown queries: {sorted(stale)}"
