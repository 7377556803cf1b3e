"""Analytics extensions beyond the reference's literal surface
(SURVEY.md §7.2 M6 "richer analytics"): window functions, cube/rollup/
grouping sets, pivot, distinct counting, set ops, semi/anti joins,
TPC-H-style reporting, scalar-function surface. Every entry except the
approximate-aggregate demo ships with a DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.operators.rollup import (
    cube_agg,
    grouping_sets_agg,
    pivot_agg,
    rollup_agg,
)
from novi_pdq_etl_project_prod_spark.operators.windows import (
    ranked,
    top_n_per_group,
    with_lag_delta,
    with_moving_agg,
)


from novi_pdq_etl_project_prod_spark.session import read_table as _t


def _dec(col, prec: int = 18, scale: int = 2):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


def _monthly_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared base: exact decimal monthly quantity per supplier."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.withColumn("yyyymm", F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .groupBy("l_suppkey", "yyyymm")
        .agg(F.sum(_dec("l_quantity")).alias("qty_dec"))
    )


_MONTHLY_CTE = """
  SELECT l_suppkey,
         year(l_shipdate) * 100 + month(l_shipdate) AS yyyymm,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
  FROM lineitem GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# W1 — ranking within groups (rank over partition)
# ---------------------------------------------------------------------------

def w1_rank_in_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    out = ranked(
        c,
        partition_by=["c_nationkey"],
        order_by=[F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
        method="rank",
        alias="rnk",
    )
    return out.where(F.col("rnk") <= 5).select(
        "c_nationkey", "c_custkey",
        _dec("c_acctbal").cast("double").alias("acctbal"), "rnk",
    )


W1_SQL = """
SELECT c_nationkey, c_custkey,
       CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal, rnk
FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         rank() OVER (PARTITION BY c_nationkey
                      ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
  FROM customer
)
WHERE rnk <= 5
"""


# ---------------------------------------------------------------------------
# W2 — lag / month-over-month delta per supplier
# ---------------------------------------------------------------------------

def w2_month_over_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _monthly_supplier(spark, sf_dir)
    out = with_lag_delta(
        base,
        partition_by=["l_suppkey"],
        order_by=["yyyymm"],
        value_col="qty_dec",
        alias_prev="prev_qty",
        alias_delta="delta_qty",
    )
    return out.select(
        "l_suppkey",
        "yyyymm",
        F.col("qty_dec").cast("double").alias("qty"),
        F.col("prev_qty").cast("double").alias("prev_qty"),
        F.col("delta_qty").cast("double").alias("delta_qty"),
    )


W2_SQL = f"""
WITH monthly AS ({_MONTHLY_CTE})
SELECT l_suppkey, yyyymm,
       CAST(qty_dec AS DOUBLE) AS qty,
       CAST(lag(qty_dec) OVER w AS DOUBLE) AS prev_qty,
       CAST(qty_dec - lag(qty_dec) OVER w AS DOUBLE) AS delta_qty
FROM monthly
WINDOW w AS (PARTITION BY l_suppkey ORDER BY yyyymm)
"""


# ---------------------------------------------------------------------------
# W3 — trailing 3-month moving sum per supplier (rows frame)
# ---------------------------------------------------------------------------

def w3_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _monthly_supplier(spark, sf_dir)
    out = with_moving_agg(
        base,
        partition_by=["l_suppkey"],
        order_by=["yyyymm"],
        value_col="qty_dec",
        preceding=2,
        agg="sum",
        alias="qty_3mo",
    )
    return out.select(
        "l_suppkey", "yyyymm",
        F.col("qty_dec").cast("double").alias("qty"),
        F.col("qty_3mo").cast("double").alias("qty_3mo"),
    )


W3_SQL = f"""
WITH monthly AS ({_MONTHLY_CTE})
SELECT l_suppkey, yyyymm,
       CAST(qty_dec AS DOUBLE) AS qty,
       CAST(SUM(qty_dec) OVER (PARTITION BY l_suppkey ORDER BY yyyymm
                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS qty_3mo
FROM monthly
"""


# ---------------------------------------------------------------------------
# W4 — per-group top-k (row_number idiom; no global sort)
# ---------------------------------------------------------------------------

def w4_top3_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    out = top_n_per_group(
        o,
        partition_by=["o_custkey"],
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        n=3,
    )
    return out.select(
        "o_custkey", "o_orderkey", _dec("o_totalprice").cast("double").alias("total")
    )


W4_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
)
WHERE rn <= 3
"""


# ---------------------------------------------------------------------------
# R1 — ROLLUP with grouping flags (A3 generalized)
# ---------------------------------------------------------------------------

def r1_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    out = rollup_agg(
        o,
        dims=["o_orderstatus", "o_orderpriority"],
        aggs=[
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
            F.count(F.lit(1)).alias("n"),
        ],
    )
    return out


R1_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       COUNT(*) AS n,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_o_orderstatus,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_o_orderpriority
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


# ---------------------------------------------------------------------------
# R2 — CUBE with grouping flags
# ---------------------------------------------------------------------------

def r2_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return cube_agg(
        li,
        dims=["l_returnflag", "l_linestatus"],
        aggs=[
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        ],
    )


R2_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n,
       CAST(GROUPING(l_returnflag) AS INT) AS g_l_returnflag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_l_linestatus
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# W7 — share-of-total via an unpartitioned window over a pre-aggregated
# frame (the two-pass percent-of-total idiom: heavy agg first, then a
# window over the tiny grouped result — never a window over raw rows)
# ---------------------------------------------------------------------------

def w7_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    per_nation = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(_dec("l_quantity")).alias("qty_dec"))
    )
    w = Window.partitionBy()
    return per_nation.select(
        F.col("n_name").alias("nation"),
        F.col("qty_dec").cast("double").alias("qty"),
        (
            F.col("qty_dec").cast("double")
            / F.sum("qty_dec").over(w).cast("double")
        ).alias("share"),
    )


W7_SQL = """
WITH per_nation AS (
  SELECT n_name, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1
)
SELECT n_name AS nation,
       CAST(qty_dec AS DOUBLE) AS qty,
       CAST(qty_dec AS DOUBLE) / CAST(SUM(qty_dec) OVER () AS DOUBLE) AS share
FROM per_nation
"""


# ---------------------------------------------------------------------------
# R5 — GROUPING SETS via the DataFrame API (``df.groupingSets`` — the
# programmatic twin of the SQL form in R4; includes the grand total set)
# ---------------------------------------------------------------------------

def r5_grouping_sets_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return grouping_sets_agg(
        li,
        sets=[["l_returnflag"], ["l_linestatus"], []],
        aggs=[
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        ],
    )


R5_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n,
       CAST(GROUPING(l_returnflag) AS INT) AS g_l_returnflag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_l_linestatus
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


# ---------------------------------------------------------------------------
# R3 — pivot (explicit value list)
# ---------------------------------------------------------------------------

def r3_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "yyyymm", F.year("l_shipdate") * 100 + F.month("l_shipdate")
    )
    out = pivot_agg(
        li,
        group_by=["yyyymm"],
        pivot_col="l_returnflag",
        pivot_values=["R", "A", "N"],
        agg=F.sum(_dec("l_quantity")),
    )
    return out.select(
        "yyyymm",
        F.col("R").cast("double").alias("qty_r"),
        F.col("A").cast("double").alias("qty_a"),
        F.col("N").cast("double").alias("qty_n"),
    )


R3_SQL = """
SELECT year(l_shipdate) * 100 + month(l_shipdate) AS yyyymm,
       CAST(SUM(CASE WHEN l_returnflag = 'R'
                     THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r,
       CAST(SUM(CASE WHEN l_returnflag = 'A'
                     THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
       CAST(SUM(CASE WHEN l_returnflag = 'N'
                     THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n
FROM lineitem
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# R4 — explicit GROUPING SETS (the grouping-combination control cube/
# rollup can't express: exactly {(status), (priority)} and nothing else)
# ---------------------------------------------------------------------------

def r4_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
               COUNT(*) AS n,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
        FROM v_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


R4_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       COUNT(*) AS n,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
"""


# ---------------------------------------------------------------------------
# G1 — calendar dimension generator (the date spine the reference's
# yyyymm star schema implies): sequence + explode, zero input tables
# ---------------------------------------------------------------------------

def g1_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2000-01-01").cast("date"),
                F.lit("2001-12-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("d")
    )
    return days.select(
        F.date_format("d", "yyyy-MM-dd").alias("iso_day"),
        (F.year("d") * 100 + F.month("d")).alias("yyyymm"),
        F.year("d").alias("yr"),
        F.quarter("d").alias("qtr"),
        F.month("d").alias("mo"),
        F.dayofmonth("d").alias("dom"),
        (F.dayofweek("d")).alias("dow"),
        (F.dayofweek("d").isin(1, 7)).alias("is_weekend"),
    )


G1_SQL = """
SELECT strftime(d, '%Y-%m-%d') AS iso_day,
       CAST(year(d) * 100 + month(d) AS INT) AS yyyymm,
       CAST(year(d) AS INT) AS yr,
       CAST(quarter(d) AS INT) AS qtr,
       CAST(month(d) AS INT) AS mo,
       CAST(day(d) AS INT) AS dom,
       CAST(CASE WHEN dayofweek(d) = 0 THEN 1 ELSE dayofweek(d) + 1 END AS INT) AS dow,
       dayofweek(d) IN (0, 6) AS is_weekend
FROM (SELECT unnest(generate_series(DATE '2000-01-01', DATE '2001-12-31',
                                    INTERVAL 1 DAY))::DATE AS d)
"""


# ---------------------------------------------------------------------------
# J2 — left-semi join (EXISTS)
# ---------------------------------------------------------------------------

def j2_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    big = o.where(F.col("o_totalprice") > 300000)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_nationkey")
    )


J2_SQL = """
SELECT c_custkey, c_name, c_nationkey
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
"""


# ---------------------------------------------------------------------------
# J3 — left-anti join (NOT EXISTS)
# ---------------------------------------------------------------------------

def j3_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


J3_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# ---------------------------------------------------------------------------
# U2 — INTERSECT / U3 — EXCEPT (distinct set semantics, same as SQL)
# ---------------------------------------------------------------------------

def u2_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.where(F.col("o_totalprice") > 200000).select("o_custkey")
    return a.intersect(b)


U2_SQL = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_totalprice > 200000
"""


def u3_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    a = o.select("o_custkey")
    b = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.subtract(b)  # EXCEPT (set) semantics, not exceptAll (bag)


U3_SQL = """
SELECT o_custkey FROM orders
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


# ---------------------------------------------------------------------------
# D1 — exact distinct counting per group
# ---------------------------------------------------------------------------

def d1_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "yyyymm", F.year("l_shipdate") * 100 + F.month("l_shipdate")
    )
    return li.groupBy("yyyymm").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count(F.lit(1)).alias("n_lines"),
    )


D1_SQL = """
SELECT year(l_shipdate) * 100 + month(l_shipdate) AS yyyymm,
       COUNT(DISTINCT l_suppkey) AS n_supp,
       COUNT(DISTINCT l_partkey) AS n_part,
       COUNT(*) AS n_lines
FROM lineitem
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# D2 — approximate distinct counting (HyperLogLog++): genuinely
# approximate, so no SQL oracle — driver records rows-only; tests bound
# the relative error against the exact count.
# ---------------------------------------------------------------------------

def d2_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


def d5_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantiles next to their exact twins — the second
    member of the approximate family (with d2's HLL): at 100 TB exact
    percentiles need a full sort, while ``approx_percentile`` merges
    bounded per-partition sketches in one pass. No oracle (sketch
    algorithms differ across engines); the relative-error bound vs the
    exact values is pinned in test_quality_gates."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.percentile_approx(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)), 10_000
        ).cast("array<double>").alias("approx_p"),
        F.expr("percentile(l_extendedprice, array(0.5D, 0.95D))")
        .cast("array<double>")
        .alias("exact_p"),
    ).select(
        F.col("approx_p")[0].alias("approx_p50"),
        F.col("approx_p")[1].alias("approx_p95"),
        F.col("exact_p")[0].alias("exact_p50"),
        F.col("exact_p")[1].alias("exact_p95"),
    )


# ---------------------------------------------------------------------------
# T1 — TPC-H Q1 pricing summary (the canonical reporting aggregation)
# ---------------------------------------------------------------------------

def t1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(18,2)") + _dec("l_tax"))
    base = li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    out = base.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).alias("sum_qty_dec"),
        F.sum(_dec("l_extendedprice")).alias("sum_base_dec"),
        F.sum(disc_price).alias("sum_disc_dec"),
        F.sum(charge).alias("sum_charge_dec"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        F.col("sum_base_dec").cast("double").alias("sum_base_price"),
        F.col("sum_disc_dec").cast("double").alias("sum_disc_price"),
        F.col("sum_charge_dec").cast("double").alias("sum_charge"),
        (F.col("sum_qty_dec").cast("double") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_dec").cast("double") / F.col("count_order")).alias("avg_price"),
        F.col("count_order"),
    )


T1_SQL = """
WITH agg AS (
  SELECT l_returnflag, l_linestatus,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_dec,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_base_dec,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS sum_disc_dec,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
             * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS sum_charge_dec,
         COUNT(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
  GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus,
       CAST(sum_qty_dec AS DOUBLE) AS sum_qty,
       CAST(sum_base_dec AS DOUBLE) AS sum_base_price,
       CAST(sum_disc_dec AS DOUBLE) AS sum_disc_price,
       CAST(sum_charge_dec AS DOUBLE) AS sum_charge,
       CAST(sum_qty_dec AS DOUBLE) / count_order AS avg_qty,
       CAST(sum_base_dec AS DOUBLE) / count_order AS avg_price,
       count_order
FROM agg
"""


# ---------------------------------------------------------------------------
# T2 — TPC-H Q3-style shipping priority (join + agg + deterministic top-k)
# ---------------------------------------------------------------------------

def t2_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    out = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .where(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
            & (F.col("l_shipdate") > F.lit("1997-01-01"))
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).alias("revenue_dec"))
        .orderBy(F.col("revenue_dec").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )
    return out.select(
        "l_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        "o_orderpriority",
        F.col("revenue_dec").cast("double").alias("revenue"),
    )


T2_SQL = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1, 2, 3
ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) DESC,
         l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# F1 — scalar-function surface: string / math / conditional / date
# (generalizes the reference's thin E1-E11 scalar inventory)
# ---------------------------------------------------------------------------

def f1_scalar_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))).alias("brand_trim"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.round(_dec("p_retailprice") / 10, 1).cast("double").alias("price_tenth"),
        F.when(F.col("p_size") >= 30, F.lit("large"))
        .when(F.col("p_size") >= 15, F.lit("medium"))
        .otherwise(F.lit("small"))
        .alias("size_class"),
        F.coalesce(F.nullif(F.col("p_brand"), F.lit("Brand#00")), F.lit("unknown")).alias(
            "brand_or_unknown"
        ),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
    )


F1_SQL = """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       lower(p_brand) AS brand_lower,
       CAST(length(p_name) AS INT) AS name_len,
       substring(p_type, 1, 5) AS type_prefix,
       trim('  ' || p_brand || '  ') AS brand_trim,
       CAST(abs(p_size - 25) AS INT) AS size_dev,
       CAST(round(CAST(p_retailprice AS DECIMAL(18,2)) / 10, 1) AS DOUBLE) AS price_tenth,
       CASE WHEN p_size >= 30 THEN 'large'
            WHEN p_size >= 15 THEN 'medium'
            ELSE 'small' END AS size_class,
       COALESCE(nullif(p_brand, 'Brand#00'), 'unknown') AS brand_or_unknown,
       p_brand || '|' || p_type AS brand_type
FROM part
"""


# ---------------------------------------------------------------------------
# F2 — date/time function surface over events (reference has none; the
# engine supplies the full set: trunc, extract, diff, format)
# ---------------------------------------------------------------------------

def f2_datetime_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_2002"
        ),
    )


F2_SQL = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS yr,
       CAST(month(o_orderdate) AS INT) AS mo,
       CAST(day(o_orderdate) AS INT) AS dom,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       strftime(o_orderdate, '%Y-%m-%d') AS iso_day,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT)
         AS days_to_2002
FROM orders
"""


# ---------------------------------------------------------------------------
# T3 — TPC-H Q6-style selective scan (filter pushdown showcase: the whole
# query is scan → filter → one global agg, no shuffle but the final merge)
# ---------------------------------------------------------------------------

def t3_selective_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").between(0.02, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


T3_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.07
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# T4 — TPC-H Q12-style conditional counting (CASE aggregation in a join)
# ---------------------------------------------------------------------------

def t4_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .withColumn("yyyymm", F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .where(F.col("yyyymm").between(200001, 200012))
        .groupBy("yyyymm")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_lines"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_lines"),
        )
    )


T4_SQL = """
SELECT year(l_shipdate) * 100 + month(l_shipdate) AS yyyymm,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS high_lines,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS low_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE year(l_shipdate) * 100 + month(l_shipdate) BETWEEN 200001 AND 200012
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# T5 — TPC-H Q14: promo revenue share (conditional ratio over a join)
# ---------------------------------------------------------------------------

def t5_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-02-01"))
    )
    agg = joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev)).alias("promo_dec"),
        F.sum(rev).alias("total_dec"),
    )
    return agg.select(
        (
            F.lit(100.0)
            * F.col("promo_dec").cast("double")
            / F.col("total_dec").cast("double")
        ).alias("promo_share_pct"),
        F.col("promo_dec").cast("double").alias("promo_revenue"),
        F.col("total_dec").cast("double").alias("total_revenue"),
    )


T5_SQL = """
WITH agg AS (
  SELECT SUM(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
             END) AS promo_dec,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_dec
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
)
SELECT 100.0 * CAST(promo_dec AS DOUBLE) / CAST(total_dec AS DOUBLE) AS promo_share_pct,
       CAST(promo_dec AS DOUBLE) AS promo_revenue,
       CAST(total_dec AS DOUBLE) AS total_revenue
FROM agg
"""


# ---------------------------------------------------------------------------
# T6 — TPC-H Q18-style: large-volume orders (HAVING subselect + semi join)
# ---------------------------------------------------------------------------

def t6_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty_dec"))
        .where(F.col("qty_dec") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("qty_dec").cast("double").alias("total_qty"),
        )
    )


T6_SQL = """
SELECT c_custkey, c_name, l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(qty_dec AS DOUBLE) AS total_qty
FROM (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
  FROM lineitem GROUP BY 1 HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# ---------------------------------------------------------------------------
# T7 — TPC-H Q22-style: above-average customers per nation (uncorrelated
# scalar subquery as a cross-joined aggregate)
# ---------------------------------------------------------------------------

def t7_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        (
            F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal").cast("double") > F.col("avg_bal"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rich"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
        )
    )


T7_SQL = """
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, COUNT(*) AS n_rich,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer, avg_bal
WHERE CAST(c_acctbal AS DOUBLE) > avg_bal
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# D3 — exact order statistics + moment-based dispersion. Exact percentile
# (interpolated) matches quantile_cont; stddev is computed from DECIMAL
# moments so it is order-independent (stock stddev_samp accumulates
# doubles in partition order — unreproducible across engines).
# ---------------------------------------------------------------------------

def d3_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    q = _dec("l_quantity")
    # percentiles over the (flag, value, count) grain via the frequency
    # argument (value-cardinality-bounded buffers; the d11/d19/d24 scale
    # fix — quantity has ~50 distinct values, so this branch is tiny);
    # moment sums stay row-grain (map-side combinable). Bit-identical.
    pct = (
        li.groupBy("l_returnflag", q.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("l_returnflag")
        .agg(
            F.percentile(F.col("__v"), F.lit(0.5), F.col("__c")).alias("median_qty"),
            F.percentile(F.col("__v"), F.lit(0.9), F.col("__c")).alias("p90_qty"),
        )
    )
    mom = li.groupBy("l_returnflag").agg(
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    agg = pct.join(mom, "l_returnflag")
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    return agg.select(
        "l_returnflag",
        "median_qty",
        "p90_qty",
        F.sqrt((s2 - s1 * s1 / n) / (n - 1)).alias("stddev_qty"),
        "n",
    )


D3_SQL = """
WITH m AS (
  SELECT l_returnflag,
         quantile_cont(CAST(l_quantity AS DECIMAL(18,2)), 0.5) AS median_qty,
         quantile_cont(CAST(l_quantity AS DECIMAL(18,2)), 0.9) AS p90_qty,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s1,
         SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS s2,
         COUNT(*) AS n
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag,
       CAST(median_qty AS DOUBLE) AS median_qty,
       CAST(p90_qty AS DOUBLE) AS p90_qty,
       sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
            / (CAST(n AS DOUBLE) - 1)) AS stddev_qty,
       n
FROM m
"""


# ---------------------------------------------------------------------------
# SQL1 — the spark.sql surface: the reference's rollup-reconciliation CTE
# shape run as SQL text over registered views (SURVEY.md §3.3: "the CTE
# text can run nearly verbatim"). Same logical plan as the DataFrame
# variant — Catalyst does not care which API built it.
# ---------------------------------------------------------------------------

def sql1_rollup_recon_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        WITH hdr AS (
          SELECT o_custkey AS key, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS a_val
          FROM v_orders GROUP BY o_custkey
        ), lines AS (
          SELECT o.o_custkey AS key, SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS b_val
          FROM v_lineitem l JOIN v_orders o ON l.l_orderkey = o.o_orderkey
          GROUP BY o.o_custkey
        )
        SELECT 'by_custkey' AS check_type,
               CAST(hdr.key AS BIGINT) AS key,
               CAST(a_val AS DOUBLE) AS a_val,
               CAST(b_val AS DOUBLE) AS b_val
        FROM hdr LEFT JOIN lines ON hdr.key = lines.key
        WHERE ABS(COALESCE(a_val, 0) - COALESCE(b_val, 0)) > 0.5
        """
    )


SQL1_SQL = """
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


QUERIES = {
    "w1_rank_in_nation": w1_rank_in_nation,
    "w2_month_over_month": w2_month_over_month,
    "w3_moving_sum": w3_moving_sum,
    "w4_top3_orders_per_cust": w4_top3_orders_per_cust,
    "r1_rollup": r1_rollup,
    "r2_cube": r2_cube,
    "r3_pivot": r3_pivot,
    "r4_grouping_sets": r4_grouping_sets,
    "r5_grouping_sets_api": r5_grouping_sets_api,
    "w7_share_of_total": w7_share_of_total,
    "g1_calendar_dim": g1_calendar_dim,
    "j2_semi_join": j2_semi_join,
    "j3_anti_join": j3_anti_join,
    "u2_intersect": u2_intersect,
    "u3_except": u3_except,
    "d1_count_distinct": d1_count_distinct,
    "d2_approx_distinct": d2_approx_distinct,
    "d5_approx_percentiles": d5_approx_percentiles,
    "t1_pricing_summary": t1_pricing_summary,
    "t2_shipping_priority": t2_shipping_priority,
    "t3_selective_revenue": t3_selective_revenue,
    "t4_priority_lines": t4_priority_lines,
    "t5_promo_revenue": t5_promo_revenue,
    "t6_big_orders": t6_big_orders,
    "t7_rich_customers": t7_rich_customers,
    "d3_percentiles": d3_percentiles,
    "sql1_rollup_recon_sql_api": sql1_rollup_recon_sql_api,
    "f1_scalar_surface": f1_scalar_surface,
    "f2_datetime_surface": f2_datetime_surface,
}

ORACLES = {
    "w1_rank_in_nation": W1_SQL,
    "w2_month_over_month": W2_SQL,
    "w3_moving_sum": W3_SQL,
    "w4_top3_orders_per_cust": W4_SQL,
    "r1_rollup": R1_SQL,
    "r2_cube": R2_SQL,
    "r3_pivot": R3_SQL,
    "r4_grouping_sets": R4_SQL,
    "r5_grouping_sets_api": R5_SQL,
    "w7_share_of_total": W7_SQL,
    "g1_calendar_dim": G1_SQL,
    "j2_semi_join": J2_SQL,
    "j3_anti_join": J3_SQL,
    "u2_intersect": U2_SQL,
    "u3_except": U3_SQL,
    "d1_count_distinct": D1_SQL,
    "t1_pricing_summary": T1_SQL,
    "t2_shipping_priority": T2_SQL,
    "t3_selective_revenue": T3_SQL,
    "t4_priority_lines": T4_SQL,
    "t5_promo_revenue": T5_SQL,
    "t6_big_orders": T6_SQL,
    "t7_rich_customers": T7_SQL,
    "d3_percentiles": D3_SQL,
    "sql1_rollup_recon_sql_api": SQL1_SQL,
    "f1_scalar_surface": F1_SQL,
    "f2_datetime_surface": F2_SQL,
    # d2_approx_distinct intentionally has no oracle (approximate)
}
