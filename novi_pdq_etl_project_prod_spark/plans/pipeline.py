"""End-to-end monthly pipeline (SURVEY.md §3): the reference DAG

    wait_for_db >> [extract_operator, extract_lease] >> transform_operator
    >> transform_lease >> model_curated >> [dq_non_negative, dq_uniques]
    >> dq_rollup_log
    (reference ``dags/pdq_etl_dag.py:514-516``)

as one Python function over partitioned-Parquet medallion layers. The
orchestration-level operators map as (SURVEY.md §2.9): DAG edges →
call order (only needed at write boundaries — Spark fuses everything
else lazily); parameterized run → the ``yyyymm`` argument; retries /
chunk-gc → gone (executor memory management + task retry are built in).

Differences from the reference, by design:
- raw layer is partitioned parquet of (yyyymm, raw JSON, ingested_at) —
  JSONB → ``to_json``/``from_json`` (S4/P1);
- delete-month idempotency → dynamic partition overwrite (S7);
- dim upsert ON CONFLICT → latest-wins dedup + snapshot overwrite (S9);
- the transforms and DQ checks run from the same library operators the
  query catalog exposes, so the oracle harness covers their semantics.

Where the counts come from: every ``PipelineResult`` row count is an
observed metric (``sources.layers.observe_rows``) of the write that
produced those rows — the staging month, each merged dim snapshot, each
fact month — so no job re-counts what a write already saw. Only
``rollup_mismatches`` is a ``count()``: it is not a write. Every
re-read of a just-written table passes the schema the pipeline wrote
(``read_month(..., schema=...)``): Spark then skips Parquet schema
inference, which would otherwise cost one footer-reading job per read.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from novi_pdq_etl_project_prod_spark import cache
from novi_pdq_etl_project_prod_spark.operators.modeling import (
    dedup_dim,
    project_fact,
    upsert_dim,
)
from novi_pdq_etl_project_prod_spark.operators.quality import (
    assert_non_negative,
    assert_unique_grain,
    rollup_reconciliation_suite,
)
from novi_pdq_etl_project_prod_spark.operators.transform import (
    MEASURES,
    transform_lease_monthly,
    transform_operator_monthly,
)
from novi_pdq_etl_project_prod_spark.sources.dsv import read_dsv
from novi_pdq_etl_project_prod_spark.sources.json_raw import (
    encode_raw_json,
    parse_raw_json,
    tolerant_string_schema,
)
from novi_pdq_etl_project_prod_spark.sources.layers import (
    current_snapshot,
    observe_rows,
    overwrite_snapshot,
    read_month,
    table_path,
    write_month_idempotent,
)
from novi_pdq_etl_project_prod_spark.functions.keys import (
    YYYYMM_FLOOR,
    derive_yyyymm,
)
from novi_pdq_etl_project_prod_spark.operators.transform import (
    LEASE_FIELDS,
    OPERATOR_FIELDS,
)


@dataclass
class PipelineResult:
    yyyymm: int
    staging_operator_rows: int
    staging_lease_rows: int
    fact_operator_rows: int
    fact_lease_rows: int
    rollup_mismatches: int
    dims: dict = field(default_factory=dict)


def _extract_to_raw(
    spark: SparkSession, dsv_path: str, root: str, table: str, yyyymm: int
) -> StructType:
    """S1-S5: distributed DSV scan → month-keyed JSON raw rows →
    partition-overwrite write (replaces the pandas chunk loop,
    reference ``dags/pdq_etl_dag.py:168-251``). Returns the schema it
    wrote, for the transform's raw read."""
    df = read_dsv(spark, dsv_path)
    df = df.withColumn(
        "yyyymm", derive_yyyymm("CYCLE_YEAR_MONTH", "CYCLE_YEAR", "CYCLE_MONTH")
    ).where(
        F.col("yyyymm").isNotNull()
        & (F.col("yyyymm") >= F.lit(YYYYMM_FLOOR))
        & (F.col("yyyymm") == F.lit(yyyymm))
    )
    raw = encode_raw_json(df)
    write_month_idempotent(raw, root, "raw", table)
    return raw.schema


def _transform(
    spark: SparkSession,
    root: str,
    table: str,
    fields: list[str],
    transform_fn,
    yyyymm: int,
    raw_schema: StructType,
) -> tuple[DataFrame, Observation]:
    """S3+P1 read + typed transform → staging write (reference
    ``spark_jobs/transform_*.py``). Returns the staging month read back
    and the observation holding its written row count."""
    raw = read_month(spark, root, "raw", table, yyyymm, schema=raw_schema)
    parsed = parse_raw_json(raw, tolerant_string_schema(fields))
    typed = transform_fn(parsed.drop("yyyymm"), yyyymm=None)
    typed, rows = observe_rows(typed.where(F.col("yyyymm") == F.lit(yyyymm)))
    write_month_idempotent(typed, root, "staging", f"{table}_monthly")
    staged = read_month(
        spark, root, "staging", f"{table}_monthly", yyyymm, schema=typed.schema
    )
    return staged, rows


def run_monthly_pipeline(
    spark: SparkSession,
    operator_dsv: str,
    lease_dsv: str,
    root: str,
    yyyymm: int,
) -> PipelineResult:
    """The full reference DAG for one month. Idempotent: rerunning the
    same month overwrites exactly that month's partitions."""
    # extract (the reference fans these out; Spark jobs queue on the
    # scheduler anyway — sequential calls, parallel tasks)
    op_raw = _extract_to_raw(spark, operator_dsv, root, "operator_cycle", yyyymm)
    lease_raw = _extract_to_raw(spark, lease_dsv, root, "lease_cycle", yyyymm)

    # transform to typed staging
    op, op_rows = _transform(
        spark, root, "operator_cycle", OPERATOR_FIELDS, transform_operator_monthly,
        yyyymm, op_raw,
    )
    lease, lease_rows = _transform(
        spark, root, "lease_cycle", LEASE_FIELDS, transform_lease_monthly,
        yyyymm, lease_raw,
    )

    # model curated: dims (dedup + upsert) and facts (month overwrite)
    dims = {
        "dim_operator": dedup_dim(
            op.select("operator_no", "operator_name"), pk=("operator_no",)
        ),
        "dim_district": dedup_dim(lease.select("district_no"), pk=("district_no",)),
        "dim_field": dedup_dim(lease.select("field_no"), pk=("field_no",)),
        "dim_lease": dedup_dim(
            lease.select("lease_key", "district_no", "lease_no", "lease_name"),
            pk=("lease_key",),
        ),
    }
    dim_counts = {}
    for name, new in dims.items():
        pk = {"dim_operator": ("operator_no",), "dim_district": ("district_no",),
              "dim_field": ("field_no",), "dim_lease": ("lease_key",)}[name]
        # a dim with no live snapshot is new; one whose snapshot cannot
        # be read fails here instead of restarting from this month alone
        existing = None
        if current_snapshot(table_path(root, "curated", name)) is not None:
            existing = read_month(spark, root, "curated", name, schema=new.schema)
        merged, rows = observe_rows(upsert_dim(existing, new, pk=pk))
        # snapshot-pointer commit: the write consumes the old snapshot's
        # files before the atomic flip, so no checkpoint/materialization
        # of the read-modify-write input is needed
        overwrite_snapshot(merged, root, "curated", name)
        dim_counts[name] = rows.get["n_rows"]

    fact_op, fact_op_rows = observe_rows(project_fact(op, ("operator_no",), MEASURES))
    fact_lease, fact_lease_rows = observe_rows(
        project_fact(
            lease, ("lease_key", "operator_no", "district_no", "field_no"), MEASURES
        )
    )
    write_month_idempotent(fact_op, root, "curated", "fact_operator_monthly")
    write_month_idempotent(fact_lease, root, "curated", "fact_lease_monthly")

    # DQ gates (hard) + rollup reconciliation (soft, logged)
    f_op = read_month(
        spark, root, "curated", "fact_operator_monthly", yyyymm, schema=fact_op.schema
    )
    f_lease = read_month(
        spark, root, "curated", "fact_lease_monthly", yyyymm, schema=fact_lease.schema
    )
    assert_non_negative(f_op, MEASURES)
    assert_non_negative(f_lease, MEASURES)
    assert_unique_grain(f_op, ("operator_no", "yyyymm"))
    assert_unique_grain(f_lease, ("lease_key", "yyyymm"))
    mismatches = rollup_reconciliation_suite(
        f_op, f_lease, keys=("operator_no",), measures=MEASURES
    )
    result = PipelineResult(
        yyyymm=yyyymm,
        staging_operator_rows=op_rows.get["n_rows"],
        staging_lease_rows=lease_rows.get["n_rows"],
        fact_operator_rows=fact_op_rows.get["n_rows"],
        fact_lease_rows=fact_lease_rows.get["n_rows"],
        rollup_mismatches=mismatches.count(),
        dims=dim_counts,
    )
    # every output is written/counted above; free any operator-tracked
    # persists so a backfill over many months can't accumulate them
    cache.release()
    return result


def run_backfill(
    spark: SparkSession,
    operator_dsv: str,
    lease_dsv: str,
    root: str,
    months: list[int],
) -> list[PipelineResult]:
    """G2 generalized: sequential parameterized runs over a month list
    (the reference triggers one manual DAG run per month; partition
    overwrite makes re-running any subset safe). Months are independent
    partitions, so a scheduler may also fan these out across concurrent
    Spark jobs — writes never touch the same partition."""
    return [
        run_monthly_pipeline(spark, operator_dsv, lease_dsv, root, m)
        for m in months
    ]
