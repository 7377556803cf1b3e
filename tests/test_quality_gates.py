"""Unit tests for the raising DQ gates (the reference's hard-fail tasks)
and the backfill runner."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.operators.quality import (
    DataQualityError,
    assert_non_negative,
    assert_unique_grain,
)
from novi_pdq_etl_project_prod_spark.plans.pipeline import (
    run_backfill,
    run_monthly_pipeline,
)
from tests.test_reference_pipeline import LEASE_DSV, OPERATOR_DSV


def test_non_negative_gate_raises_on_violation(spark):
    good = spark.createDataFrame([(1, 2.0), (2, 0.0)], "k int, m double")
    assert_non_negative(good, ("m",))  # passes silently
    bad = spark.createDataFrame([(1, 2.0), (2, -0.5)], "k int, m double")
    with pytest.raises(DataQualityError, match="negative"):
        assert_non_negative(bad, ("m",))


def test_unique_grain_gate_raises_on_duplicates(spark):
    good = spark.createDataFrame([(1, 202401), (2, 202401)], "k int, yyyymm int")
    assert_unique_grain(good, ("k", "yyyymm"))
    bad = good.unionByName(
        spark.createDataFrame([(1, 202401)], "k int, yyyymm int")
    )
    with pytest.raises(DataQualityError, match="duplicate"):
        assert_unique_grain(bad, ("k", "yyyymm"))


def test_backfill_runs_month_list(spark, tmp_path):
    op = tmp_path / "op.dsv"
    lease = tmp_path / "lease.dsv"
    op.write_text(OPERATOR_DSV)
    lease.write_text(LEASE_DSV)
    root = str(tmp_path / "wh")
    results = run_backfill(
        spark, str(op), str(lease), root, months=[202401, 202402]
    )
    assert [r.yyyymm for r in results] == [202401, 202402]
    fact = spark.read.parquet(f"{root}/curated/fact_operator_monthly")
    assert {r.yyyymm for r in fact.select("yyyymm").distinct().collect()} == {
        202401,
        202402,
    }


def _month_fails(spark, tmp_path, operator_dsv, lease_dsv, match):
    op, lease = tmp_path / "op.dsv", tmp_path / "lease.dsv"
    op.write_text(operator_dsv)
    lease.write_text(lease_dsv)
    with pytest.raises(DataQualityError, match=match):
        run_monthly_pipeline(
            spark, str(op), str(lease), str(tmp_path / "wh"), 202401
        )


def test_pipeline_gate_catches_duplicate_operator_row(spark, tmp_path):
    """The unique-grain gate runs once over both facts; a repeated
    operator row must still fail the month."""
    row = next(line for line in OPERATOR_DSV.splitlines() if line.startswith("101}"))
    _month_fails(spark, tmp_path, OPERATOR_DSV + row + "\n", LEASE_DSV, "duplicate")


def test_pipeline_gate_catches_negative_lease_volume(spark, tmp_path):
    """The non-negative gate runs once over both facts' measures; one
    negative lease volume must still fail the month."""
    lease = LEASE_DSV.replace("}30.25}null}", "}-30.25}null}")
    assert lease != LEASE_DSV
    _month_fails(spark, tmp_path, OPERATOR_DSV, lease, "negative")


def test_approx_count_distinct_error_bound(spark):
    """d2_approx_distinct is no-oracle by design (HLL is approximate);
    pin its relative error against the exact count instead, mirroring the
    recall checks that back the other approximate operators."""
    from novi_pdq_etl_project_prod_spark.catalog import QUERIES
    from tests.conftest import SF_ORACLE

    row = QUERIES["d2_approx_distinct"](spark, SF_ORACLE).collect()[0]
    rel_err = abs(row.approx_parts - row.exact_parts) / row.exact_parts
    assert rel_err < 0.05, f"HLL rel error {rel_err:.4f} out of bound"


def test_approx_percentile_error_bound(spark):
    """d5_approx_percentiles has no oracle (sketches differ per engine);
    pin relative error vs the exact percentiles instead."""
    from novi_pdq_etl_project_prod_spark.catalog import QUERIES
    from tests.conftest import SF_ORACLE

    row = QUERIES["d5_approx_percentiles"](spark, SF_ORACLE).collect()[0]
    for approx, exact in (
        (row.approx_p50, row.exact_p50),
        (row.approx_p95, row.exact_p95),
    ):
        assert abs(approx - exact) / exact < 0.01, (approx, exact)


def test_salted_join_matches_plain_join(spark):
    """salted_join must be a pure physical rewrite: identical rows to the
    unsalted equi-join on skewed data (one hot key holding half the big
    side), for inner and left joins."""
    from novi_pdq_etl_project_prod_spark.operators.skew import salted_join

    big = spark.range(20_000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 0 ELSE id END AS k", "id AS payload"
    )
    small = spark.range(400).selectExpr("id AS k", "id * 10 AS attr")
    for how in ("inner", "left"):
        got = salted_join(big, small, "k", n_salts=8, how=how)
        want = big.join(small, "k", how)
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_salt_is_retry_and_layout_deterministic(spark):
    """ADVICE r04: the salt must be a pure row function — identical for
    the same row content under any partition layout (the observable twin
    of task-retry recomputation, SPARK-23207 class), and still cover the
    full salt domain when content varies."""
    from novi_pdq_etl_project_prod_spark.operators.skew import _content_salt

    df = spark.range(5_000).selectExpr("id % 7 AS k", "id AS payload")
    a = df.withColumn("__salt", _content_salt(df, 8))
    b_in = df.repartition(13, "payload")
    b = b_in.withColumn("__salt", _content_salt(b_in, 8))
    joined = a.alias("a").join(b.alias("b"), "payload")
    assert joined.where("a.__salt <> b.__salt").count() == 0
    # full domain coverage on a single-partition input (the r04
    # salt-domain-collapse regression)
    one_part = df.coalesce(1)
    n_distinct = (
        one_part.withColumn("__salt", _content_salt(one_part, 8))
        .select("__salt").distinct().count()
    )
    assert n_distinct == 8


def test_referential_orphans_detects_planted_orphan(spark):
    from novi_pdq_etl_project_prod_spark.operators.quality import (
        referential_orphans,
        referential_suite,
    )

    parent = spark.createDataFrame([(1,), (2,), (3,)], ["pk"])
    child = spark.createDataFrame(
        [(1, "a"), (2, "b"), (99, "orphan"), (98, "orphan2")], ["fk", "v"]
    )
    row = referential_orphans(child, parent, "fk", "pk", "child->parent").collect()[0]
    assert (row.relation, row.n_orphans) == ("child->parent", 2)
    suite = referential_suite(
        [
            (child, parent, "fk", "pk", "bad"),
            (parent, parent, "pk", "pk", "self"),
        ]
    )
    got = {r.relation: r.n_orphans for r in suite.collect()}
    assert got == {"bad": 2, "self": 0}
