"""The benchmark's workloads. Each drives the library's public entry
points the way a user does and checks every op's output.

A workload is built once per run (set-up: inputs and expectations), then
driven by ``run.py`` as a closed loop: ``prepare`` (untimed) ->
``run`` (timed) -> ``check`` (untimed).
"""

from __future__ import annotations

import contextlib
import os
import random
import sys

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STAR_QUERIES = (
    "a1_monthly_fact", "j1_star_join", "dq_rollup_recon",
    "t1_pricing_summary", "t2_shipping_priority",
)
CURATION_QUERIES = (
    "m9_simhash_near_dups", "m72_span_excision",
)
ALL_QUERIES = STAR_QUERIES + CURATION_QUERIES

#: Input tables each query reads (rows_per_s counts their rows per pass).
QUERY_TABLES = {
    "a1_monthly_fact": ("lineitem",),
    "j1_star_join": ("lineitem", "orders", "customer", "nation", "region"),
    "dq_rollup_recon": ("lineitem", "orders"),
    "t1_pricing_summary": ("lineitem",),
    "t2_shipping_priority": ("lineitem", "orders", "customer"),
} | {q: ("documents",) for q in CURATION_QUERIES}


class _Workload:
    warmup = 1

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


class PdqMonthly(_Workload):
    """One op lands the next month with ``run_monthly_pipeline``, from a
    DSV pair holding only that month, into a warehouse that keeps its
    history. Leases and operators churn, so the dims grow each month."""

    def __init__(self, spark, work, seed, tracer=None):
        super().__init__(spark, work, seed, tracer)
        self.feed = gen.MonthlyFeed(seed, os.path.join(work, "dsv"))
        self.root = os.path.join(work, "warehouse")

    def prepare(self):
        return self.feed.write_next()

    def run(self, prepared):
        from novi_pdq_etl_project_prod_spark.plans.pipeline import run_monthly_pipeline

        op_dsv, lease_dsv, expect = prepared
        return run_monthly_pipeline(self.spark, op_dsv, lease_dsv, self.root, expect.yyyymm)

    def check(self, prepared, result) -> str | None:
        expect = prepared[2]
        if expect.matches(result):
            return None
        return f"pipeline {expect.yyyymm}: got {result}, expected {expect}"

    def rows(self, prepared) -> int:
        return prepared[2].dsv_rows


class CatalogPass(_Workload):
    """One op is a pass over ``queries`` in an order drawn from the seed,
    each result collected to the driver and compared with its DuckDB
    oracle (canonicalized as ``tests/oracle_harness.py`` does)."""

    queries: tuple[str, ...] = ()

    def __init__(self, spark, work, seed, tracer=None):
        super().__init__(spark, work, seed, tracer)
        self.data = os.path.join(work, "data")
        self.table_rows = self.write_inputs()
        self.rows_per_pass = sum(
            self.table_rows[t] for q in self.queries for t in QUERY_TABLES[q]
        )
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        from oracle_harness import duckdb_con
        from novi_pdq_etl_project_prod_spark.catalog import ORACLES

        con = duckdb_con(self.data)
        try:
            self.expected = {q: self.canon(con.execute(ORACLES[q]).df()) for q in self.queries}
        finally:
            con.close()
        self.order_rng = random.Random(seed)

    @staticmethod
    def canon(frame):
        from oracle_harness import _frame_to_rows

        return sorted(frame.columns), _frame_to_rows(frame)

    def write_inputs(self) -> dict[str, int]:
        raise NotImplementedError

    def prepare(self):
        return self.order_rng.sample(self.queries, len(self.queries))

    def run(self, order):
        from novi_pdq_etl_project_prod_spark import cache
        from novi_pdq_etl_project_prod_spark.catalog import QUERIES

        out = {}
        for q in order:
            with self.span(f"catalog.{q}"):
                out[q] = QUERIES[q](self.spark, self.data).toPandas()
                cache.release()
        return out

    def check(self, order, out) -> str | None:
        for q in order:
            if self.canon(out[q]) != self.expected[q]:
                return f"{q}: result differs from its DuckDB oracle"
        return None

    def rows(self, order) -> int:
        return self.rows_per_pass


class StarQueries(CatalogPass):
    """Read side of the star: scans, shuffles and codegen'd aggregates,
    no writes and no Python workers."""

    queries = STAR_QUERIES
    orders = 15_000
    warmup = 2  # the first timed passes still fall steeply after one

    def write_inputs(self):
        return gen.write_star(self.data, self.seed, self.orders)


class CurationSpans(CatalogPass):
    """The Arrow/Python boundary (the ``pandas_udf`` paths in
    ``operators.dedup``) and the span-family gram hashing."""

    queries = CURATION_QUERIES
    docs = 500

    def write_inputs(self):
        return {"documents": gen.write_documents(self.data, self.seed, self.docs)}


WORKLOADS = {
    "pdq_monthly": PdqMonthly,
    "star_queries": StarQueries,
    "curation_spans": CurationSpans,
}
