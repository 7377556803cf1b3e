"""Round-2 catalog additions:

- ``x6`` interval-join attribution (batch twin of the stream-stream join)
- ``x7`` gap-filled monthly series (spine + IGNORE NULLS forward fill)
- ``x8`` native session windows (MergingSessions, shared batch/stream graph)
- ``w8`` ntile / percent_rank / cume_dist decile binning
- ``r6`` unpivot (inverse of r3_pivot)
- ``m26`` sequence packing, ``m27`` k-fold assignment
- ``d6``-``d10`` distribution analytics (histogram, z-score anomalies,
  heavy hitters, exact-moment correlation, column profiler)
- ``z1``/``z2`` 2-D and 3-D Morton (z-order) layout expressions
- ``dq3`` referential-integrity gate (orphan FKs across the star schema)

Each query follows the determinism contract in catalog/__init__ (exact
decimal aggregation, double only at the edge, engine-portable md5/bit
arithmetic) so the DuckDB oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.operators import text as TX
from novi_pdq_etl_project_prod_spark.operators.packing import pack_sequences
from novi_pdq_etl_project_prod_spark.operators.stats import (
    fixed_width_histogram,
    grouped_correlation,
    heavy_hitters,
    profile_columns,
    zscore_outliers,
)
from novi_pdq_etl_project_prod_spark.operators.timeseries import gap_fill_monthly
from novi_pdq_etl_project_prod_spark.session import read_events, read_table as _t
from novi_pdq_etl_project_prod_spark.sources.skipping import (
    zorder_col,
    zorder_col_multi,
    zorder_sql,
    zorder_sql_multi,
)
from novi_pdq_etl_project_prod_spark.streaming.events import (
    click_purchase_attribution,
)


# ---------------------------------------------------------------------------
# X6 — interval-join attribution: batch twin of the stream-stream join
# streaming.events.click_purchase_attribution (withWatermark is a no-op
# on batch input, so this runs the IDENTICAL operator graph the stream
# runs — the oracle therefore certifies the streaming join's semantics)
# ---------------------------------------------------------------------------

def x6_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return click_purchase_attribution(ev, attribution_window="1 hour")


X6_SQL = """
WITH ev AS (
  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events
)
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts,
       p.value AS purchase_value
FROM ev c
JOIN ev p
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND c.event_type = 'click'
 AND p.ts > c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


# ---------------------------------------------------------------------------
# M26 — sequence packing: fixed token-budget bins via contiguous fill
# inside md5 hash buckets (content-addressed → engine-portable)
# ---------------------------------------------------------------------------

def m26_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sized = docs.select("doc_id", TX.token_count("text").alias("tok"))
    return pack_sequences(
        sized, id_col="doc_id", token_count="tok", budget=512, bucket_hex_chars=2
    )


M26_SQL = """
WITH tok AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))
           AS n_tokens,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
  FROM documents
),
filled AS (
  SELECT doc_id, n_tokens, bucket,
         SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens
  FROM tok
)
SELECT doc_id, n_tokens, bucket,
       bucket || '-' || CAST(((cum_tokens - n_tokens) // 512) AS VARCHAR) AS pack_id,
       n_tokens > 512 AS oversize
FROM filled
"""


# ---------------------------------------------------------------------------
# D6 — fixed-width histogram of the price distribution (single shuffle;
# the share-of-total window runs over the tiny bucket list, not the scan)
# ---------------------------------------------------------------------------

def d6_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return fixed_width_histogram(
        li,
        "l_extendedprice",
        width=5000.0,
        extra_aggs={
            "sum_price": F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                "double"
            )
        },
    )


D6_SQL = """
WITH hist AS (
  SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
         COUNT(*) AS n_rows,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
  FROM lineitem
  GROUP BY 1
)
SELECT bucket,
       bucket * 5000.0 AS bucket_lo,
       n_rows,
       sum_price,
       n_rows / SUM(n_rows) OVER () AS pct_rows
FROM hist
"""


# ---------------------------------------------------------------------------
# D7 — z-score anomaly flags over the monthly event-value series
# (exact decimal moments → double at the edge; stats.zscore_outliers)
# ---------------------------------------------------------------------------

def d7_monthly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir).withColumn(
        "yyyymm", (F.year("ts") * 100 + F.month("ts")).cast("int")
    )
    return zscore_outliers(
        ev, keys=["event_type"], series_col="yyyymm", measure="value", z_threshold=2.0
    )


D7_SQL = """
WITH grain AS (
  SELECT event_type,
         CAST(year(CAST(ts AS TIMESTAMP)) * 100
              + month(CAST(ts AS TIMESTAMP)) AS INT) AS yyyymm,
         COUNT(*) AS n_rows,
         SUM(CAST(value AS DECIMAL(18,2))) AS sum_dec,
         SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
                  AS DECIMAL(38,4))) AS sumsq_dec
  FROM events
  GROUP BY 1, 2
),
win AS (
  SELECT *,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt,
         CAST(SUM(CAST(sum_dec AS DECIMAL(38,4)))
                OVER (PARTITION BY event_type) AS DOUBLE) AS s1,
         CAST(SUM(sumsq_dec) OVER (PARTITION BY event_type) AS DOUBLE) AS s2
  FROM grain
),
scored AS (
  SELECT event_type, yyyymm, n_rows,
         CAST(sum_dec AS DOUBLE) AS series_sum,
         s1 / cnt AS key_mean,
         CASE WHEN cnt > 1 AND (s2 - s1 * s1 / cnt) / (cnt - 1) > 0
              THEN (CAST(sum_dec AS DOUBLE) - s1 / cnt)
                   / sqrt((s2 - s1 * s1 / cnt) / (cnt - 1))
         END AS zscore
  FROM win
)
SELECT event_type, yyyymm, n_rows, series_sum, key_mean, zscore,
       abs(COALESCE(zscore, 0.0)) >= 2.0 AS is_outlier
FROM scored
"""


# ---------------------------------------------------------------------------
# Z1 — z-order (Morton) layout expression over orders: the clustering
# key write_zordered sorts by, certified against pure-SQL bit arithmetic
# ---------------------------------------------------------------------------

def z1_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    keyed = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 4096).alias("x"),
        ((F.year("o_orderdate") * 12 + F.month("o_orderdate")) % 4096).alias("y"),
    )
    z = zorder_col("x", "y", bits=12)
    return keyed.select(
        "o_orderkey",
        "x",
        "y",
        z.alias("zval"),
        F.shiftright(z, 18).alias("file_bucket"),
    )


Z1_SQL = f"""
WITH keyed AS (
  SELECT o_orderkey,
         o_custkey % 4096 AS x,
         (year(o_orderdate) * 12 + month(o_orderdate)) % 4096 AS y
  FROM orders
)
SELECT o_orderkey, x, y,
       {zorder_sql('x', 'y', 12)} AS zval,
       ({zorder_sql('x', 'y', 12)}) >> 18 AS file_bucket
FROM keyed
"""


# ---------------------------------------------------------------------------
# X7 — gap-filled monthly series: per-customer order totals densified to
# every month between first and last activity, forward-filled
# ---------------------------------------------------------------------------

def x7_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    grain = o.groupBy(
        "o_custkey",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("yyyymm"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("month_total"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    filled = gap_fill_monthly(
        grain, ["o_custkey"], "yyyymm", ["month_total", "n_orders"]
    )
    return filled.select(
        "o_custkey",
        "yyyymm",
        F.col("month_total").cast("double").alias("month_total"),
        "n_orders",
        "is_filled",
    )


X7_SQL = """
WITH grain AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS yyyymm,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS month_total,
         COUNT(*) AS n_orders
  FROM orders
  GROUP BY 1, 2
),
mi AS (
  SELECT *, (yyyymm // 100) * 12 + (yyyymm % 100) - 1 AS _mi FROM grain
),
bounds AS (
  SELECT o_custkey, min(_mi) AS lo, max(_mi) AS hi FROM mi GROUP BY 1
),
spine AS (
  SELECT o_custkey, unnest(generate_series(lo, hi)) AS _mi FROM bounds
),
j AS (
  SELECT s.o_custkey, s._mi, g.month_total, g.n_orders
  FROM spine s
  LEFT JOIN mi g ON s.o_custkey = g.o_custkey AND s._mi = g._mi
)
SELECT o_custkey,
       CAST((_mi // 12) * 100 + (_mi % 12) + 1 AS INT) AS yyyymm,
       CAST(last_value(month_total IGNORE NULLS) OVER w AS DOUBLE) AS month_total,
       last_value(n_orders IGNORE NULLS) OVER w AS n_orders,
       month_total IS NULL AS is_filled
FROM j
WINDOW w AS (PARTITION BY o_custkey ORDER BY _mi
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# R6 — unpivot (wide measures -> long): inverse of r3_pivot
# ---------------------------------------------------------------------------

def r6_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
        F.sum(F.col("l_discount").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "sum_disc"],
        "measure_name",
        "measure_value",
    )


R6_SQL = """
WITH wide AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
  FROM lineitem
  GROUP BY 1
)
SELECT l_returnflag, 'sum_qty' AS measure_name, sum_qty AS measure_value FROM wide
UNION ALL
SELECT l_returnflag, 'sum_price', sum_price FROM wide
UNION ALL
SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
"""


# ---------------------------------------------------------------------------
# D8 — exact heavy hitters: top-15 suppliers by line count with share
# (TakeOrderedAndProject, not a global sort; 1-row broadcast denominator)
# ---------------------------------------------------------------------------

def d8_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return heavy_hitters(li, ["l_suppkey"], k=15)


D8_SQL = """
WITH c AS (
  SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1
),
t AS (SELECT COUNT(*) AS total FROM lineitem),
k AS (SELECT l_suppkey, cnt FROM c ORDER BY cnt DESC, l_suppkey LIMIT 15)
SELECT l_suppkey, cnt,
       cnt / (SELECT total FROM t) AS share,
       row_number() OVER (ORDER BY cnt DESC, l_suppkey) AS "rank"
FROM k
"""


# ---------------------------------------------------------------------------
# D9 — per-group Pearson correlation from exact decimal moments
# ---------------------------------------------------------------------------

def d9_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return grouped_correlation(
        li, ["l_returnflag"], "l_quantity", "l_extendedprice"
    )


D9_SQL = """
WITH g AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
           AS sxy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4)))
           AS sxx,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
           AS syy
  FROM lineitem
  GROUP BY 1
)
SELECT l_returnflag, n,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS corr_xy
FROM g
"""


# ---------------------------------------------------------------------------
# D10 — deequ-style column profile of orders (single-pass exact metrics)
# ---------------------------------------------------------------------------

_PROFILE_COLS = [
    "o_orderkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def d10_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return profile_columns(o, _PROFILE_COLS)


def _profile_col_sql(col: str, numeric: bool) -> str:
    render = (
        f"CAST(CAST(min({col}) AS DECIMAL(18,2)) AS VARCHAR)",
        f"CAST(CAST(max({col}) AS DECIMAL(18,2)) AS VARCHAR)",
    ) if numeric else (
        f"CAST(min({col}) AS VARCHAR)",
        f"CAST(max({col}) AS VARCHAR)",
    )
    # COUNT(*) - COUNT(col) keeps the null count BIGINT (SUM(CASE) would
    # be HUGEINT -> float64 in pandas — the t4 driver-compat trap)
    return (
        f"SELECT '{col}' AS \"column\", COUNT(*) AS n_rows, "
        f"COUNT(*) - COUNT({col}) AS n_null, "
        f"COUNT(DISTINCT {col}) AS n_distinct, "
        f"{render[0]} AS min_s, {render[1]} AS max_s FROM orders"
    )


D10_SQL = "\nUNION ALL\n".join(
    _profile_col_sql(c, numeric=(c == "o_totalprice")) for c in _PROFILE_COLS
)


# ---------------------------------------------------------------------------
# X8 — NATIVE session windows: the same 30-minute-gap sessions as
# x3_sessionize (gaps-and-islands windows) but through Spark's built-in
# session_window aggregation — the streaming-capable merging-sessions
# physical operator (MergingSessionsExec), one shuffle on user_id, no
# per-row window sort pass. Spark ends a session at last_ts + gap; the
# oracle mirrors that closed-session convention.
# ---------------------------------------------------------------------------

def x8_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        session_window_rollup,
    )

    ev = read_events(spark, sf_dir)
    # watermark is a no-op on batch input: the IDENTICAL operator graph
    # the stream runs, so the oracle certifies the streaming semantics
    return session_window_rollup(ev, gap="30 minutes")


X8_SQL = """
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
),
marked AS (
  SELECT user_id, ts, value,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) >= 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM numbered
GROUP BY user_id, session_seq
"""


# ---------------------------------------------------------------------------
# W8 — distribution-rank window functions (ntile / percent_rank /
# cume_dist) under a total order: feature binning for training data
# ---------------------------------------------------------------------------

def w8_decile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        F.ntile(10).over(w).alias("decile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


W8_SQL = """
SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
       ntile(10) OVER w AS decile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM lineitem
WINDOW w AS (PARTITION BY l_returnflag
             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
"""


# ---------------------------------------------------------------------------
# Z2 — 3-dimensional z-order over lineitem (supplier x part x ship
# month): the clustering key for a three-predicate skipping layout
# ---------------------------------------------------------------------------

def z2_zorder3_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    keyed = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_suppkey") % 256).alias("a"),
        (F.col("l_partkey") % 256).alias("b"),
        F.month("l_shipdate").alias("c"),
    )
    return keyed.select(
        "l_orderkey",
        "l_linenumber",
        "a",
        "b",
        "c",
        zorder_col_multi(["a", "b", "c"], bits=8).alias("zval"),
    )


Z2_SQL = f"""
WITH keyed AS (
  SELECT l_orderkey, l_linenumber,
         l_suppkey % 256 AS a,
         l_partkey % 256 AS b,
         month(l_shipdate) AS c
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, a, b, c,
       {zorder_sql_multi(['a', 'b', 'c'], 8)} AS zval
FROM keyed
"""


# ---------------------------------------------------------------------------
# M27 — content-addressed k-fold assignment for cross-validation
# (fold = f(seed, id); row-local, engine-portable via md5 + hex->int)
# ---------------------------------------------------------------------------

def m27_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.multimodal import kfold_assign

    docs = _t(spark, sf_dir, "documents")
    return kfold_assign(docs.select("doc_id", "source"), "doc_id", k=5)


M27_SQL = """
SELECT doc_id, source,
       CAST(('0x' || substring(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 5 AS INT) AS fold
FROM documents
"""


# ---------------------------------------------------------------------------
# DQ3 — referential integrity across the star schema: orphan FK counts
# (left-anti joins; keys-only shuffle)
# ---------------------------------------------------------------------------

def dq3_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.quality import (
        referential_suite,
    )

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    su = _t(spark, sf_dir, "supplier")
    pa = _t(spark, sf_dir, "part")
    return referential_suite(
        [
            (li, o, "l_orderkey", "o_orderkey", "lineitem->orders"),
            (li, pa, "l_partkey", "p_partkey", "lineitem->part"),
            (li, su, "l_suppkey", "s_suppkey", "lineitem->supplier"),
            (o, c, "o_custkey", "c_custkey", "orders->customer"),
        ]
    ).orderBy("relation")


DQ3_SQL = """
SELECT * FROM (
  SELECT 'lineitem->orders' AS relation, COUNT(*) AS n_orphans
  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
  UNION ALL
  SELECT 'lineitem->part', COUNT(*)
  FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
  UNION ALL
  SELECT 'lineitem->supplier', COUNT(*)
  FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)
  UNION ALL
  SELECT 'orders->customer', COUNT(*)
  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
)
ORDER BY relation
"""


# ---------------------------------------------------------------------------
# M28 — materialized packed sequences: m26's assignment joined back to
# the corpus, one concatenated training sequence per pack
# ---------------------------------------------------------------------------

def m28_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.packing import (
        concat_packed_sequences,
    )

    docs = _t(spark, sf_dir, "documents")
    asg = m26_sequence_packing(spark, sf_dir)
    return concat_packed_sequences(docs, asg, "doc_id", "text")


M28_SQL = """
WITH tok AS (
  SELECT doc_id, text,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))
           AS n_tokens,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
  FROM documents
),
filled AS (
  SELECT doc_id, text, n_tokens, bucket,
         SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens
  FROM tok
)
SELECT bucket || '-' || CAST(((cum_tokens - n_tokens) // 512) AS VARCHAR) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       string_agg(text, ' <eos> ' ORDER BY doc_id) AS sequence
FROM filled
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# U4/U5 — multiset set ops (EXCEPT ALL / INTERSECT ALL): keep
# multiplicity, unlike u2/u3's distinct forms
# ---------------------------------------------------------------------------

def u4_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    a = li.where(F.year("l_shipdate") == 1995).select("l_suppkey")
    b = li.where(F.year("l_shipdate") == 1996).select("l_suppkey")
    return (
        a.exceptAll(b)
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("surplus_lines"))
    )


U4_SQL = """
SELECT l_suppkey, COUNT(*) AS surplus_lines
FROM (
  SELECT l_suppkey FROM lineitem WHERE year(l_shipdate) = 1995
  EXCEPT ALL
  SELECT l_suppkey FROM lineitem WHERE year(l_shipdate) = 1996
)
GROUP BY 1
"""


def u5_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    a = li.where(F.year("l_shipdate") == 1995).select("l_suppkey")
    b = li.where(F.year("l_shipdate") == 1996).select("l_suppkey")
    return (
        a.intersectAll(b)
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("common_lines"))
    )


U5_SQL = """
SELECT l_suppkey, COUNT(*) AS common_lines
FROM (
  SELECT l_suppkey FROM lineitem WHERE year(l_shipdate) = 1995
  INTERSECT ALL
  SELECT l_suppkey FROM lineitem WHERE year(l_shipdate) = 1996
)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# F6 — higher-order array function surface (transform / filter /
# aggregate / zip_with / array_contains), all JVM-side lambdas
# ---------------------------------------------------------------------------

def f6_hof_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim("text"), r"\s+"), lambda x: x != F.lit("")
    )
    return docs.select(
        "doc_id",
        F.size(F.filter(toks, lambda x: F.length(x) > 5)).alias("n_long"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("total_len"),
        F.array_join(
            F.transform(F.slice(toks, 1, 3), F.upper), ","
        ).alias("head3_upper"),
        F.array_join(
            F.zip_with(
                F.slice(toks, 1, 3),
                F.transform(F.slice(toks, 1, 3), F.length),
                lambda t, n: F.concat_ws(":", t, n.cast("string")),
            ),
            ",",
        ).alias("head3_sized"),
        F.array_contains(toks, "the").alias("has_the"),
    )


F6_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')
           AS toks
  FROM documents
)
SELECT doc_id,
       len(list_filter(toks, x -> len(x) > 5)) AS n_long,
       CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT) AS total_len,
       array_to_string(list_transform(toks[1:3], x -> upper(x)), ',')
         AS head3_upper,
       array_to_string(
         list_transform(toks[1:3], x -> x || ':' || CAST(len(x) AS VARCHAR)),
         ','
       ) AS head3_sized,
       list_contains(toks, 'the') AS has_the
FROM t
"""


# ---------------------------------------------------------------------------
# F7 — JSON path surface over events.props: get_json_object and the
# from_json map route certified against the same oracle extraction
# ---------------------------------------------------------------------------

def f7_json_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import IntegerType, MapType, StringType

    ev = read_events(spark, sf_dir)
    pmap = F.from_json("props", MapType(StringType(), IntegerType()))
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_path"),
        pmap.getItem("k").alias("k_map"),
        F.length("props").alias("props_len"),
    )


F7_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_path,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_map,
       CAST(len(props) AS INT) AS props_len
FROM events
"""


# ---------------------------------------------------------------------------
# W9 — value-RANGE window frame: trailing 90 calendar days per customer
# (frame bounded by ORDER BY VALUE, not row count — rows on the same day
# always share a frame, so the result is tie-order independent)
# ---------------------------------------------------------------------------

def w9_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-89, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_90d"),
    )


W9_SQL = """
SELECT o_orderkey, o_custkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey
         ORDER BY datediff('day', DATE '1990-01-01', o_orderdate)
         RANGE BETWEEN 89 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS trailing_90d
FROM orders
"""


# ---------------------------------------------------------------------------
# M29 — winnowing fingerprints (MOSS): k-gram rolling hashes, window
# minima — guarantees shared fingerprints for any match >= k+w-1 tokens
# ---------------------------------------------------------------------------

def m29_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return TX.winnowing_fingerprints(docs, "doc_id", "text", k=5, window=4)


M29_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
  FROM toks WHERE len(t) >= 5
),
grams AS (
  SELECT doc_id, i,
         ('0x' || substring(md5(array_to_string(t[i:i+4], ' ')), 1, 8))::BIGINT
           AS h
  FROM idx
),
wins AS (
  SELECT doc_id, i,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         COUNT(*) OVER (PARTITION BY doc_id) AS ng
  FROM grams
),
fps AS (
  SELECT DISTINCT doc_id, fp FROM wins WHERE i <= ng - 3
)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_fp,
       array_to_string(list_sort(list(fp)), ',') AS fingerprints
FROM fps
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# X9 — unattributed clicks: the left-OUTER stream-stream interval join
# (outer rows emit in streaming only after the watermark closes them)
# ---------------------------------------------------------------------------

def x9_unattributed_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        unattributed_clicks,
    )

    ev = read_events(spark, sf_dir)
    return unattributed_clicks(ev, attribution_window="1 hour")


X9_SQL = """
WITH ev AS (
  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
  FROM events
)
SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts
FROM ev c
WHERE c.event_type = 'click'
  AND NOT EXISTS (
    SELECT 1 FROM ev p
    WHERE p.event_type = 'purchase'
      AND p.user_id = c.user_id
      AND p.ts > c.ts
      AND p.ts <= c.ts + INTERVAL 1 HOUR
  )
"""


# ---------------------------------------------------------------------------
# DQ4 — snapshot diff: row-level added/removed/changed/unchanged audit
# between a table and its next (deterministically derived) version
# ---------------------------------------------------------------------------

def dq4_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.modeling import snapshot_diff

    old = _t(spark, sf_dir, "orders")
    # derived "next snapshot": drop every 97th order, bump every 89th price
    kept = old.where(F.col("o_orderkey") % 97 != 0)
    new = kept.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    diff = snapshot_diff(
        old, new, pk=("o_orderkey",), compare_cols=("o_totalprice", "o_orderstatus")
    )
    return diff.groupBy("diff_status").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


DQ4_SQL = """
WITH new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 0
),
j AS (
  SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS pk,
         o.o_orderkey IS NULL AS only_new,
         n.o_orderkey IS NULL AS only_old,
         (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
           AND (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus) AS same
  FROM orders o
  FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT CASE WHEN only_new THEN 'added'
            WHEN only_old THEN 'removed'
            WHEN same THEN 'unchanged'
            ELSE 'changed' END AS diff_status,
       COUNT(*) AS n_rows
FROM j
GROUP BY 1
"""


QUERIES = {
    "x6_click_attribution": x6_click_attribution,
    "m26_sequence_packing": m26_sequence_packing,
    "d6_price_histogram": d6_price_histogram,
    "d7_monthly_anomalies": d7_monthly_anomalies,
    "z1_zorder_values": z1_zorder_values,
    "x7_gap_fill": x7_gap_fill,
    "r6_unpivot": r6_unpivot,
    "d8_heavy_hitters": d8_heavy_hitters,
    "d9_correlation": d9_correlation,
    "d10_column_profile": d10_column_profile,
    "x8_native_session_window": x8_native_session_window,
    "w8_decile_bins": w8_decile_bins,
    "z2_zorder3_values": z2_zorder3_values,
    "m27_kfold_assign": m27_kfold_assign,
    "dq3_referential_integrity": dq3_referential_integrity,
    "m28_packed_sequences": m28_packed_sequences,
    "u4_except_all": u4_except_all,
    "u5_intersect_all": u5_intersect_all,
    "f6_hof_surface": f6_hof_surface,
    "f7_json_path": f7_json_path,
    "w9_range_frame": w9_range_frame,
    "m29_winnowing_fingerprints": m29_winnowing_fingerprints,
    "x9_unattributed_clicks": x9_unattributed_clicks,
    "dq4_snapshot_diff": dq4_snapshot_diff,
}

ORACLES = {
    "x6_click_attribution": X6_SQL,
    "m26_sequence_packing": M26_SQL,
    "d6_price_histogram": D6_SQL,
    "d7_monthly_anomalies": D7_SQL,
    "z1_zorder_values": Z1_SQL,
    "x7_gap_fill": X7_SQL,
    "r6_unpivot": R6_SQL,
    "d8_heavy_hitters": D8_SQL,
    "d9_correlation": D9_SQL,
    "d10_column_profile": D10_SQL,
    "x8_native_session_window": X8_SQL,
    "w8_decile_bins": W8_SQL,
    "z2_zorder3_values": Z2_SQL,
    "m27_kfold_assign": M27_SQL,
    "dq3_referential_integrity": DQ3_SQL,
    "m28_packed_sequences": M28_SQL,
    "u4_except_all": U4_SQL,
    "u5_intersect_all": U5_SQL,
    "f6_hof_surface": F6_SQL,
    "f7_json_path": F7_SQL,
    "w9_range_frame": W9_SQL,
    "m29_winnowing_fingerprints": M29_SQL,
    "x9_unattributed_clicks": X9_SQL,
    "dq4_snapshot_diff": DQ4_SQL,
}
