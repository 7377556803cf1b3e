"""Reference-faithful operator queries over the driver testdata
(SURVEY.md §2) with DuckDB oracle SQL.

The testdata star schema stands in for the reference's model (FIXTURES.md
§B role mapping): ``lineitem`` + ``l_shipdate``-derived ``yyyymm`` plays
the lease-cycle monthly grain, ``orders``/``customer`` the operator side,
``nation``/``region`` the district/field hierarchy, ``events.props`` the
raw JSONB payloads.

Numeric policy for oracle determinism: measures are cast to DECIMAL(18,2)
before aggregation (exact, associative — immune to Spark's partition-order
float summation), and final aggregates are cast to double.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.functions.casts import (
    to_int_robust,
    to_num_zero_default,
)
from novi_pdq_etl_project_prod_spark.functions.keys import (
    YYYYMM_FLOOR,
    composite_key,
    derive_yyyymm,
    yyyymm_from_date,
)
from novi_pdq_etl_project_prod_spark.operators.quality import (
    duplicate_keys,
    negative_measures,
)
from novi_pdq_etl_project_prod_spark.session import read_events, read_table as _t


def _dec(col, prec: int = 18, scale: int = 2):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


# ---------------------------------------------------------------------------
# A1 + E4 + P2 — flagship: monthly-grain fact aggregation
# (reference transform_lease.py:121-134 grain agg + :85-88 yyyymm derive)
# ---------------------------------------------------------------------------

def a1_monthly_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.withColumn("yyyymm", yyyymm_from_date("l_shipdate"))
        .groupBy("l_suppkey", "yyyymm")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


A1_SQL = """
SELECT l_suppkey,
       year(l_shipdate) * 100 + month(l_shipdate) AS yyyymm,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       COUNT(*) AS n_lines
FROM lineitem
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# P3 + P4 — month-equality filter with validity floor
# (reference transform_lease.py:109; dags/pdq_etl_dag.py:212-218)
# ---------------------------------------------------------------------------

def p3_month_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.withColumn("yyyymm", yyyymm_from_date("l_shipdate"))
        .where(F.col("yyyymm").isNotNull() & (F.col("yyyymm") >= F.lit(YYYYMM_FLOOR)))
        .where(F.col("yyyymm") == F.lit(200103))
        .select(
            "l_orderkey",
            "l_linenumber",
            "yyyymm",
            _dec("l_quantity").cast("double").alias("quantity"),
        )
    )


P3_SQL = """
SELECT l_orderkey, l_linenumber,
       year(l_shipdate) * 100 + month(l_shipdate) AS yyyymm,
       CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS quantity
FROM lineitem
WHERE year(l_shipdate) * 100 + month(l_shipdate) >= 200001
  AND year(l_shipdate) * 100 + month(l_shipdate) = 200103
"""


# ---------------------------------------------------------------------------
# P1 + E10 — JSON parse of raw payloads (reference transform_operator.py:67-73)
# ---------------------------------------------------------------------------

def p1_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


P1_SQL = """
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS INT) AS k
FROM events
"""


# ---------------------------------------------------------------------------
# E1/E2/E3/E7/E8 — robust tolerant-string casts, UDF-free
# (reference transform_lease.py:31-44, transform_operator.py:76-82,89)
# Dirty strings are manufactured deterministically from lineitem so the
# null-token and blank-to-zero paths are genuinely exercised.
# ---------------------------------------------------------------------------

def e1_robust_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    mod = F.col("l_linenumber") % 5
    dirty_int = (
        F.when(mod == 0, F.lit("NULL"))
        .when(mod == 1, F.lit(""))
        .when(mod == 2, F.lit("nan"))
        .when(mod == 3, F.concat(F.lit(" "), F.col("l_suppkey").cast("string"), F.lit(" ")))
        .otherwise(F.col("l_suppkey").cast("string"))
    )
    dirty_num = (
        F.when(mod == 0, F.lit("NaN"))
        .when(mod == 1, F.lit(""))
        .otherwise(_dec("l_quantity").cast("string"))
    )
    return (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            to_int_robust(dirty_int).alias("robust_int"),
            F.coalesce(to_int_robust(dirty_int), F.lit(0)).alias("robust_int_sentinel"),
            to_num_zero_default(dirty_num).alias("robust_num"),
        )
    )


E1_SQL = """
WITH dirty AS (
  SELECT l_orderkey, l_linenumber,
         CASE l_linenumber % 5
           WHEN 0 THEN 'NULL' WHEN 1 THEN '' WHEN 2 THEN 'nan'
           WHEN 3 THEN ' ' || CAST(l_suppkey AS VARCHAR) || ' '
           ELSE CAST(l_suppkey AS VARCHAR) END AS dirty_int,
         CASE l_linenumber % 5
           WHEN 0 THEN 'NaN' WHEN 1 THEN ''
           ELSE CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) END AS dirty_num
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       CASE WHEN regexp_matches(trim(dirty_int), '^[0-9]+$')
            THEN CAST(trim(dirty_int) AS INT) END AS robust_int,
       COALESCE(CASE WHEN regexp_matches(trim(dirty_int), '^[0-9]+$')
                     THEN CAST(trim(dirty_int) AS INT) END, 0) AS robust_int_sentinel,
       COALESCE(CASE WHEN trim(dirty_num) IN ('', 'NULL', 'null', 'NaN', 'nan') THEN NULL
                     ELSE TRY_CAST(trim(dirty_num) AS DOUBLE) END,
                0.0) AS robust_num
FROM dirty
"""


# ---------------------------------------------------------------------------
# E4 — yyyymm precedence derivation from tolerant string columns
# (reference transform_lease.py:85-88; pandas twin dags/pdq_etl_dag.py:120-140)
# CYCLE_YEAR_MONTH wins; fallback CYCLE_YEAR*100 + CYCLE_MONTH; floor P4.
# ---------------------------------------------------------------------------

def e4_yyyymm_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    ym = F.year("l_shipdate") * 100 + F.month("l_shipdate")
    staged = li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_linenumber") % 3 == 0, F.lit(None))
        .otherwise(ym.cast("string"))
        .alias("CYCLE_YEAR_MONTH"),
        F.year("l_shipdate").cast("string").alias("CYCLE_YEAR"),
        F.month("l_shipdate").cast("string").alias("CYCLE_MONTH"),
    )
    return (
        staged.withColumn(
            "yyyymm", derive_yyyymm("CYCLE_YEAR_MONTH", "CYCLE_YEAR", "CYCLE_MONTH")
        )
        .where(F.col("yyyymm").isNotNull() & (F.col("yyyymm") >= F.lit(YYYYMM_FLOOR)))
        .select("l_orderkey", "l_linenumber", "yyyymm")
    )


E4_SQL = """
WITH staged AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_linenumber % 3 = 0 THEN NULL
              ELSE CAST(year(l_shipdate) * 100 + month(l_shipdate) AS VARCHAR) END
           AS cym,
         CAST(year(l_shipdate) AS VARCHAR) AS cy,
         CAST(month(l_shipdate) AS VARCHAR) AS cm
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       COALESCE(CAST(cym AS INT), CAST(cy AS INT) * 100 + CAST(cm AS INT)) AS yyyymm
FROM staged
WHERE COALESCE(CAST(cym AS INT), CAST(cy AS INT) * 100 + CAST(cm AS INT)) >= 200001
"""


# ---------------------------------------------------------------------------
# E5 — composite key concat (reference transform_lease.py:106-109)
# ---------------------------------------------------------------------------

def e5_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = _t(spark, sf_dir, "customer")
    return cu.select(
        "c_custkey",
        composite_key("c_nationkey", "c_custkey").alias("cust_key"),
    )


E5_SQL = """
SELECT c_custkey,
       CAST(c_nationkey AS VARCHAR) || '-' || CAST(c_custkey AS VARCHAR) AS cust_key
FROM customer
"""


# ---------------------------------------------------------------------------
# A2 + P7 — duplicate-group diagnostic (reference transform_lease.py:112-118)
# ---------------------------------------------------------------------------

def a2_duplicate_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return duplicate_keys(li, ("l_orderkey",)).select(
        "l_orderkey", F.col("n").alias("n")
    )


A2_SQL = """
SELECT l_orderkey, COUNT(*) AS n
FROM lineitem
GROUP BY l_orderkey
HAVING COUNT(*) > 1
"""


# ---------------------------------------------------------------------------
# A4 + P5 — deterministic dedup (latest-wins survivor via row_number;
# deterministic variant of reference model_curated.py:144-166 dropDuplicates)
# ---------------------------------------------------------------------------

def a4_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.na.drop(subset=["o_custkey"])
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus")
    )


A4_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
  WHERE o_custkey IS NOT NULL
)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# P8 + A5 — non-negativity gate (reference dags/pdq_etl_dag.py:383-400)
# ---------------------------------------------------------------------------

def dq_non_negative(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        _dec("l_quantity").alias("q"),
        _dec("l_extendedprice").alias("p"),
        _dec("l_discount").alias("d"),
        _dec("l_tax").alias("t"),
    )
    viol = negative_measures(li, ("q", "p", "d", "t"))
    return viol.agg(F.count(F.lit(1)).alias("n_violations"))


DQ_NONNEG_SQL = """
SELECT COUNT(*) AS n_violations
FROM lineitem
WHERE CAST(l_quantity AS DECIMAL(18,2)) < 0
   OR CAST(l_extendedprice AS DECIMAL(18,2)) < 0
   OR CAST(l_discount AS DECIMAL(18,2)) < 0
   OR CAST(l_tax AS DECIMAL(18,2)) < 0
"""


# ---------------------------------------------------------------------------
# A5 + P7 — grain-uniqueness gate (reference dags/pdq_etl_dag.py:402-429)
# ---------------------------------------------------------------------------

def dq_grain_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dupes = duplicate_keys(li, ("l_orderkey", "l_linenumber"))
    return dupes.agg(F.count(F.lit(1)).alias("n_duplicate_keys"))


DQ_UNIQUE_SQL = """
SELECT COUNT(*) AS n_duplicate_keys
FROM (
  SELECT l_orderkey, l_linenumber
  FROM lineitem
  GROUP BY l_orderkey, l_linenumber
  HAVING COUNT(*) > 1
)
"""


# ---------------------------------------------------------------------------
# A3 + J1 + P6 + U1 + O1 — rollup reconciliation (reference
# dags/pdq_etl_dag.py:254-380): order-header totals vs line-level rollups,
# ±0.5 absolute tolerance, mismatches only, union-all'd and ordered.
# ---------------------------------------------------------------------------

def dq_rollup_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    hdr = o.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).alias("a_val")
    ).withColumnRenamed("o_custkey", "key")
    lines = (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(_dec("l_extendedprice")).alias("b_val"))
        .withColumnRenamed("o_custkey", "key")
    )
    joined = hdr.join(lines, on="key", how="left")
    mism = joined.where(
        F.abs(
            F.coalesce(F.col("a_val"), F.lit(0)) - F.coalesce(F.col("b_val"), F.lit(0))
        )
        > 0.5
    )
    return mism.select(
        F.lit("by_custkey").alias("check_type"),
        F.col("key").cast("long").alias("key"),
        F.col("a_val").cast("double").alias("a_val"),
        F.col("b_val").cast("double").alias("b_val"),
    )


DQ_ROLLUP_SQL = """
WITH hdr AS (
  SELECT o_custkey AS key, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS a_val
  FROM orders GROUP BY 1
), lines AS (
  SELECT o.o_custkey AS key, SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS b_val
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1
)
SELECT 'by_custkey' AS check_type,
       CAST(hdr.key AS BIGINT) AS key,
       CAST(a_val AS DOUBLE) AS a_val,
       CAST(b_val AS DOUBLE) AS b_val
FROM hdr LEFT JOIN lines ON hdr.key = lines.key
WHERE ABS(COALESCE(a_val, 0) - COALESCE(b_val, 0)) > 0.5
"""


# ---------------------------------------------------------------------------
# J1 (generalized) — star join: revenue per nation via
# customer ⋈ orders ⋈ lineitem ⋈ nation ⋈ region; dims broadcast.
# ---------------------------------------------------------------------------

def j1_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


J1_SQL = """
SELECT r_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# O2 + O3 — top-k (Catalyst TakeOrderedAndProject; reference
# transform_lease.py:114,118 sort+show)
# ---------------------------------------------------------------------------

def o3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", _dec("o_totalprice").cast("double").alias("total"))
    )


O3_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# U1 — union-all with aligned aliases (reference dags/pdq_etl_dag.py:332,349)
# ---------------------------------------------------------------------------

def u1_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    hi = o.where(F.col("o_totalprice") > 400000).select(
        F.lit("high").alias("bucket"), "o_orderkey",
        _dec("o_totalprice").cast("double").alias("total"),
    )
    lo = o.where(F.col("o_totalprice") < 1000).select(
        F.lit("low").alias("bucket"), "o_orderkey",
        _dec("o_totalprice").cast("double").alias("total"),
    )
    return hi.unionByName(lo)


U1_SQL = """
SELECT 'high' AS bucket, o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total
FROM orders WHERE o_totalprice > 400000
UNION ALL
SELECT 'low' AS bucket, o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total
FROM orders WHERE o_totalprice < 1000
"""


QUERIES = {
    "a1_monthly_fact": a1_monthly_fact,
    "p3_month_filter": p3_month_filter,
    "p1_json_flatten": p1_json_flatten,
    "e1_robust_casts": e1_robust_casts,
    "e4_yyyymm_derive": e4_yyyymm_derive,
    "e5_composite_key": e5_composite_key,
    "a2_duplicate_groups": a2_duplicate_groups,
    "a4_dedup_latest": a4_dedup_latest,
    "dq_non_negative": dq_non_negative,
    "dq_grain_unique": dq_grain_unique,
    "dq_rollup_recon": dq_rollup_recon,
    "j1_star_join": j1_star_join,
    "o3_topk": o3_topk,
    "u1_union_all": u1_union_all,
}

ORACLES = {
    "a1_monthly_fact": A1_SQL,
    "p3_month_filter": P3_SQL,
    "p1_json_flatten": P1_SQL,
    "e1_robust_casts": E1_SQL,
    "e4_yyyymm_derive": E4_SQL,
    "e5_composite_key": E5_SQL,
    "a2_duplicate_groups": A2_SQL,
    "a4_dedup_latest": A4_SQL,
    "dq_non_negative": DQ_NONNEG_SQL,
    "dq_grain_unique": DQ_UNIQUE_SQL,
    "dq_rollup_recon": DQ_ROLLUP_SQL,
    "j1_star_join": J1_SQL,
    "o3_topk": O3_SQL,
    "u1_union_all": U1_SQL,
}
