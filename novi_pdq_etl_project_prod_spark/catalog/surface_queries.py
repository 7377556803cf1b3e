"""Function-surface breadth queries: window navigation, regex, arrays /
explode, correlated subqueries, and the full multi-key reconciliation
suite (the reference's three-block union shape).

All oracled. Regex patterns are RE2-safe (no lookarounds) so Spark's
Java regex and DuckDB's RE2 agree.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.operators.quality import (
    rollup_reconciliation_suite,
)


from novi_pdq_etl_project_prod_spark.session import read_table as _t


def _dec(col, prec: int = 18, scale: int = 2):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


# ---------------------------------------------------------------------------
# W5 — window navigation: first/last/nth value, ntile, cume_dist
# ---------------------------------------------------------------------------

def w5_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format(
            F.first("o_orderdate").over(w_full), "yyyy-MM-dd"
        ).alias("first_order"),
        F.date_format(
            F.last("o_orderdate").over(w_full), "yyyy-MM-dd"
        ).alias("last_order"),
        F.ntile(4).over(w).alias("quartile"),
        F.row_number().over(w).alias("order_seq"),
    )


W5_SQL = """
SELECT o_custkey, o_orderkey,
       strftime(first_value(o_orderdate) OVER w_full, '%Y-%m-%d') AS first_order,
       strftime(last_value(o_orderdate) OVER w_full, '%Y-%m-%d') AS last_order,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       CAST(row_number() OVER w AS INT) AS order_seq
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
       w_full AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# ---------------------------------------------------------------------------
# F3 — regex surface (RE2-compatible patterns only)
# ---------------------------------------------------------------------------

def f3_regex_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).alias("brand_num"),
        F.regexp_replace("p_type", r"\s+", "_").alias("type_snake"),
        F.col("p_name").rlike(r"(red|blue|green)").alias("has_color"),
        F.size(F.regexp_extract_all("p_type", F.lit(r"[A-Z]+"), F.lit(0))).alias(
            "n_upper_runs"
        ),
        F.split(F.col("p_type"), r"\s+").getItem(0).alias("type_first_word"),
    )


F3_SQL = """
SELECT p_partkey,
       COALESCE(regexp_extract(p_brand, 'Brand#(\\d+)', 1), '') AS brand_num,
       regexp_replace(p_type, '\\s+', '_', 'g') AS type_snake,
       regexp_matches(p_name, '(red|blue|green)') AS has_color,
       CAST(len(regexp_extract_all(p_type, '[A-Z]+')) AS INT) AS n_upper_runs,
       string_split_regex(p_type, '\\s+')[1] AS type_first_word
FROM part
"""


# ---------------------------------------------------------------------------
# A6 — array aggregation / explode round-trip: collect per-group sorted
# arrays, then explode back (lateral-view shape)
# ---------------------------------------------------------------------------

def a6_array_agg_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1000)
    arrays = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_linenumber")).alias("lines"),
        F.size(F.collect_set("l_suppkey")).alias("n_supps"),
    )
    return arrays.select(
        "l_orderkey",
        "n_supps",
        F.size(F.col("lines")).alias("n_lines"),
        F.explode(F.col("lines")).alias("linenumber"),
    )


A6_SQL = """
WITH arrays AS (
  SELECT l_orderkey,
         list_sort(list(l_linenumber)) AS lines,
         CAST(count(DISTINCT l_suppkey) AS INT) AS n_supps
  FROM lineitem WHERE l_orderkey < 1000
  GROUP BY 1
)
SELECT l_orderkey, n_supps,
       CAST(len(lines) AS INT) AS n_lines,
       unnest(lines) AS linenumber
FROM arrays
"""


# ---------------------------------------------------------------------------
# SQL2 — correlated scalar subquery (SQL feature surface; Catalyst
# rewrites it to an aggregate + join)
# ---------------------------------------------------------------------------

def sql2_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders2")
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total
        FROM v_orders2 o
        WHERE o_totalprice = (SELECT MAX(o_totalprice) FROM v_orders2 i
                              WHERE i.o_custkey = o.o_custkey)
        """
    )


SQL2_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total
FROM orders o
WHERE o_totalprice = (SELECT MAX(o_totalprice) FROM orders i
                      WHERE i.o_custkey = o.o_custkey)
"""


# ---------------------------------------------------------------------------
# DQ2 — the reference's full three-block reconciliation union (A3+J1+P6+
# U1+O1 as ONE suite): order totals vs line rollups reconciled by
# customer AND by nation, mismatch blocks union-all'd with aligned
# schemas and ordered (reference dags/pdq_etl_dag.py:320-365 shape)
# ---------------------------------------------------------------------------

def dq2_rollup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    side_a = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("o_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nationkey"),
        _dec("o_totalprice").alias("val"),
    )
    side_b = (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("c_nationkey").alias("nationkey"),
            _dec("l_extendedprice").alias("val"),
        )
    )
    return rollup_reconciliation_suite(
        side_a, side_b, keys=("custkey", "nationkey"), measures=("val",)
    )


DQ2_SQL = """
WITH a_rows AS (
  SELECT o_custkey AS custkey, c_nationkey AS nationkey,
         CAST(o_totalprice AS DECIMAL(18,2)) AS val
  FROM orders JOIN customer ON o_custkey = c_custkey
),
b_rows AS (
  SELECT o.o_custkey AS custkey, c.c_nationkey AS nationkey,
         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS val
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
),
by_cust AS (
  SELECT 'by_custkey' AS check_type, CAST(a.custkey AS BIGINT) AS key,
         CAST(a.s AS DOUBLE) AS a_val, CAST(b.s AS DOUBLE) AS b_val
  FROM (SELECT custkey, SUM(COALESCE(val, 0)) AS s FROM a_rows GROUP BY 1) a
  LEFT JOIN (SELECT custkey, SUM(COALESCE(val, 0)) AS s FROM b_rows GROUP BY 1) b
    ON a.custkey = b.custkey
  WHERE ABS(COALESCE(a.s, 0) - COALESCE(b.s, 0)) > 0.5
),
by_nation AS (
  SELECT 'by_nationkey' AS check_type, CAST(a.nationkey AS BIGINT) AS key,
         CAST(a.s AS DOUBLE) AS a_val, CAST(b.s AS DOUBLE) AS b_val
  FROM (SELECT nationkey, SUM(COALESCE(val, 0)) AS s FROM a_rows GROUP BY 1) a
  LEFT JOIN (SELECT nationkey, SUM(COALESCE(val, 0)) AS s FROM b_rows GROUP BY 1) b
    ON a.nationkey = b.nationkey
  WHERE ABS(COALESCE(a.s, 0) - COALESCE(b.s, 0)) > 0.5
)
SELECT check_type, key, a_val AS a_val, b_val AS b_val
FROM (SELECT * FROM by_cust UNION ALL SELECT * FROM by_nation)
ORDER BY check_type, key
"""


# ---------------------------------------------------------------------------
# F4 — map-type surface: construction, key/value extraction, lookup, size
# ---------------------------------------------------------------------------

def f4_map_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    # ks/vs stringified: the driver's pandas canonicalization cannot
    # sort/hash array cells, so both sides emit scalar CSV strings.
    return p.select(
        "p_partkey",
        F.array_join(F.map_keys(m), ",").alias("ks"),
        F.array_join(F.map_values(m), ",").alias("vs"),
        F.element_at(m, "brand").alias("brand_val"),
        F.size(m).alias("n_entries"),
    )


F4_SQL = """
SELECT p_partkey,
       array_to_string(map_keys(m), ',') AS ks,
       array_to_string(map_values(m), ',') AS vs,
       m['brand'][1] AS brand_val,
       CAST(cardinality(m) AS INT) AS n_entries
FROM (SELECT p_partkey, map(['brand', 'type'], [p_brand, p_type]) AS m FROM part)
"""


# ---------------------------------------------------------------------------
# J4 — TPC-H Q5 proper: local-supplier volume (the join condition between
# two dims — supplier nation must equal customer nation)
# ---------------------------------------------------------------------------

def j4_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where(F.col("r_name").isin("ASIA", "EUROPE"))
        .groupBy("r_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


J4_SQL = """
SELECT r_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey AND r_name IN ('ASIA', 'EUROPE')
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# F5 — null-semantics surface: null-safe equality, nullif/nvl2, null
# ordering, boolean three-valued logic
# ---------------------------------------------------------------------------

def f5_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    maybe = F.when(F.col("o_orderkey") % 3 == 0, F.col("o_orderstatus"))
    return o.select(
        "o_orderkey",
        maybe.alias("maybe_status"),
        # booleans stringified: pandas renders a null boolean as float NaN
        # on one engine and None on the other, breaking value comparison
        maybe.eqNullSafe(F.lit("O")).cast("string").alias("nullsafe_is_o"),
        (maybe == F.lit("O")).cast("string").alias("plain_is_o"),
        F.nullif(maybe, F.lit("F")).alias("f_to_null"),
        F.nvl2(maybe, F.lit("present"), F.lit("absent")).alias("presence"),
        F.coalesce(maybe, F.lit("?")).alias("status_or_q"),
    )


F5_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0 THEN o_orderstatus END AS maybe_status,
       CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_orderstatus END
            IS NOT DISTINCT FROM 'O' AS VARCHAR) AS nullsafe_is_o,
       CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_orderstatus END = 'O' AS VARCHAR)
         AS plain_is_o,
       nullif(CASE WHEN o_orderkey % 3 = 0 THEN o_orderstatus END, 'F') AS f_to_null,
       CASE WHEN (CASE WHEN o_orderkey % 3 = 0 THEN o_orderstatus END) IS NOT NULL
            THEN 'present' ELSE 'absent' END AS presence,
       COALESCE(CASE WHEN o_orderkey % 3 = 0 THEN o_orderstatus END, '?')
         AS status_or_q
FROM orders
"""


# ---------------------------------------------------------------------------
# E12 — fuzzy entity matching: blocked candidate pairs + edit distance
# (operators/entity.py; names perturbed deterministically so real typo
# pairs exist in the fixture)
# ---------------------------------------------------------------------------

def e12_fuzzy_entity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.entity import (
        blocked_fuzzy_pairs,
    )

    # bounded registry subset; sequential-ID names make distance-1 pairs
    # the realistic near-match structure (ids differing in one digit)
    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 300)
    return blocked_fuzzy_pairs(
        c, id_col="c_custkey", name_col="c_name", prefix_len=13, max_edit_distance=1
    )


E12_SQL = """
WITH base AS (
  SELECT c_custkey AS id,
         regexp_replace(lower(trim(c_name)), '\\s+', ' ', 'g') AS name,
         substring(regexp_replace(lower(trim(c_name)), '\\s+', ' ', 'g'), 1, 13)
           AS block
  FROM customer WHERE c_custkey < 300
)
SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS edit_distance
FROM base a JOIN base b ON a.block = b.block AND a.id < b.id
WHERE levenshtein(a.name, b.name) <= 1
"""


# ---------------------------------------------------------------------------
# W6 — monthly gap-fill + forward-fill (time-series densification over
# the reference's yyyymm integer grain, incl. the year-boundary step)
# ---------------------------------------------------------------------------

def w6_densify_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.windows import densify_months

    li = _t(spark, sf_dir, "lineitem")
    # sparse base: one supplier-month value, restricted so gaps exist
    base = (
        li.where((F.col("l_suppkey") <= 20) & (F.col("l_quantity") > 45))
        .groupBy(
            "l_suppkey",
            (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("yyyymm"),
        )
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("qty"))
    )
    out = densify_months(base, "l_suppkey", "yyyymm", value_cols=["qty"])
    return out.select("l_suppkey", "yyyymm", "qty")


W6_SQL = """
WITH base AS (
  SELECT l_suppkey,
         year(l_shipdate) * 100 + month(l_shipdate) AS yyyymm,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
  FROM lineitem
  WHERE l_suppkey <= 20 AND l_quantity > 45
  GROUP BY 1, 2
),
bounds AS (
  SELECT l_suppkey,
         min(CAST(yyyymm / 100 AS INT) * 12 + yyyymm % 100 - 1) AS lo,
         max(CAST(yyyymm / 100 AS INT) * 12 + yyyymm % 100 - 1) AS hi
  FROM base GROUP BY 1
),
spine AS (
  SELECT l_suppkey,
         CAST((ord // 12) * 100 + (ord % 12 + 1) AS INT) AS yyyymm
  FROM (SELECT l_suppkey, unnest(generate_series(lo, hi)) AS ord FROM bounds)
)
SELECT s.l_suppkey, s.yyyymm,
       last_value(b.qty IGNORE NULLS) OVER (
         PARTITION BY s.l_suppkey ORDER BY s.yyyymm
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qty
FROM spine s LEFT JOIN base b
  ON s.l_suppkey = b.l_suppkey AND s.yyyymm = b.yyyymm
"""


# ---------------------------------------------------------------------------
# D4 — histogram binning (fixed-width buckets via floor arithmetic —
# engine-portable, no width_bucket dialect differences)
# ---------------------------------------------------------------------------

def d4_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("int")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(_dec("o_totalprice")).cast("double").alias("lo"),
            F.max(_dec("o_totalprice")).cast("double").alias("hi"),
        )
    )


D4_SQL = """
SELECT CAST(floor(o_totalprice / 50000) AS INT) AS bucket,
       COUNT(*) AS n,
       CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lo,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS hi
FROM orders
GROUP BY 1
"""


QUERIES = {
    "w5_window_navigation": w5_window_navigation,
    "w6_densify_forward_fill": w6_densify_forward_fill,
    "d4_histogram": d4_histogram,
    "f4_map_surface": f4_map_surface,
    "j4_local_supplier_volume": j4_local_supplier_volume,
    "f5_null_semantics": f5_null_semantics,
    "e12_fuzzy_entity_pairs": e12_fuzzy_entity_pairs,
    "f3_regex_surface": f3_regex_surface,
    "a6_array_agg_explode": a6_array_agg_explode,
    "sql2_correlated_subquery": sql2_correlated_subquery,
    "dq2_rollup_suite": dq2_rollup_suite,
}

ORACLES = {
    "w5_window_navigation": W5_SQL,
    "w6_densify_forward_fill": W6_SQL,
    "d4_histogram": D4_SQL,
    "f4_map_surface": F4_SQL,
    "j4_local_supplier_volume": J4_SQL,
    "f5_null_semantics": F5_SQL,
    "e12_fuzzy_entity_pairs": E12_SQL,
    "f3_regex_surface": F3_SQL,
    "a6_array_agg_explode": A6_SQL,
    "sql2_correlated_subquery": SQL2_SQL,
    "dq2_rollup_suite": DQ2_SQL,
}
