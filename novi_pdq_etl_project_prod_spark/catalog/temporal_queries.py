"""Temporal / skew / event-stream queries: as-of join, salted
aggregation (equivalence-checked against plain aggregation), batch
sessionization, event-time windows, embedding near-dup pairs.

Timestamp parity note: the events fixture stores nanosecond timestamps;
Spark reads them as microseconds (session.read_events) while DuckDB
keeps TIMESTAMP_NS — every oracle casts to microsecond TIMESTAMP so both
engines compare equal values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.operators.joins import asof_join
from novi_pdq_etl_project_prod_spark.operators.skew import salted_agg
from novi_pdq_etl_project_prod_spark.operators.similarity import cosine, _as_double
from novi_pdq_etl_project_prod_spark.session import read_events, read_table as _t
from novi_pdq_etl_project_prod_spark.streaming.sessions import sessionize_batch


# ---------------------------------------------------------------------------
# X1 — as-of join: each click/error event picks up the value of the most
# recent signup event of the same user (event-id tie-break)
# ---------------------------------------------------------------------------

def x1_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    left = ev.where(F.col("event_type").isin("click", "error"))
    right = ev.where(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id", F.col("value").alias("signup_value")
    )
    out = asof_join(
        left,
        right,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["signup_value"],
        tie_break="event_id",
    )
    return out.select(
        "event_id", "user_id", "ts", "event_type",
        F.col("asof_signup_value").alias("signup_value"),
    )


X1_SQL = """
WITH tagged AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_id, event_type,
         CASE WHEN event_type = 'signup' THEN value END AS sv
  FROM events
),
carried AS (
  SELECT *,
         last_value(sv IGNORE NULLS) OVER (
           PARTITION BY user_id
           ORDER BY ts ASC, event_id ASC,
                    CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS signup_value
  FROM tagged
)
SELECT event_id, user_id, ts, event_type, signup_value
FROM carried
WHERE event_type IN ('click', 'error')
"""


# ---------------------------------------------------------------------------
# X2 — salted aggregation ≡ plain aggregation (skew-mitigation operator,
# equivalence proven by the oracle: the SQL is the UNSALTED aggregation)
# ---------------------------------------------------------------------------

def x2_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        keys=["l_suppkey"],
        aggs={
            "sum_qty": ("sum", F.col("l_quantity").cast("decimal(18,2)")),
            "n_lines": ("count", F.lit(1)),
            "max_price": ("max", F.col("l_extendedprice").cast("decimal(18,2)")),
        },
        n_salts=16,
        # unique row id pair: full salt-domain coverage within any hot
        # supplier, one int hash instead of the whole 11-column row
        salt_cols=["l_orderkey", "l_linenumber"],
    )
    return out.select(
        "l_suppkey",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        "n_lines",
        F.col("max_price").cast("double").alias("max_price"),
    )


X2_SQL = """
SELECT l_suppkey,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_lines,
       CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
FROM lineitem
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# X3 — gap-based sessionization (batch twin of the streaming operator)
# ---------------------------------------------------------------------------

def x3_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return sessionize_batch(ev, gap_minutes=30)


X3_SQL = """
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
),
marked AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) >= 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_seq
"""


# ---------------------------------------------------------------------------
# X4 — event-time tumbling windows (batch; the streaming twin is
# streaming.events.windowed_event_counts over the same expression)
# ---------------------------------------------------------------------------

def x4_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


X4_SQL = """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# M11 — embedding near-dup pairs: exact cosine threshold (tuned to the fixture's similarity range) over a bounded
# subset (the exact baseline; the scale path is hyperplane LSH, m10)
# ---------------------------------------------------------------------------

def m11_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    a = emb.select(F.col("vec_id").alias("id_a"), _as_double("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), _as_double("embedding").alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos_sim")
        )
        .where(F.col("cos_sim") >= 0.35)
    )


M11_SQL = """
WITH sub AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
         AS cos_sim
FROM sub a, sub b
WHERE a.vec_id < b.vec_id
  AND list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      >= 0.35
"""


# ---------------------------------------------------------------------------
# X5 — funnel analysis: per-user first-touch times per stage, conversion
# flags, and time-to-convert (event-sequence analytics)
# ---------------------------------------------------------------------------

def x5_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    first_of = lambda t: F.min(  # noqa: E731
        F.when(F.col("event_type") == t, F.col("ts"))
    )
    per_user = ev.groupBy("user_id").agg(
        first_of("signup").alias("first_signup"),
        first_of("click").alias("first_click"),
        first_of("purchase").alias("first_purchase"),
    )
    converted = (
        F.col("first_signup").isNotNull()
        & F.col("first_click").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_click") > F.col("first_signup"))
        & (F.col("first_purchase") > F.col("first_click"))
    )
    return per_user.select(
        "user_id",
        "first_signup",
        "first_purchase",
        converted.alias("full_funnel"),
        F.when(
            converted,
            (F.unix_micros("first_purchase") - F.unix_micros("first_signup")) / 1_000_000.0,
        ).alias("secs_to_convert"),
    )


X5_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END) AS first_signup,
         min(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS first_click,
         min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS first_purchase
  FROM events GROUP BY 1
)
SELECT user_id, first_signup, first_purchase,
       (first_signup IS NOT NULL AND first_click IS NOT NULL
        AND first_purchase IS NOT NULL
        AND first_click > first_signup
        AND first_purchase > first_click) AS full_funnel,
       CASE WHEN first_signup IS NOT NULL AND first_click IS NOT NULL
                 AND first_purchase IS NOT NULL
                 AND first_click > first_signup
                 AND first_purchase > first_click
            THEN (epoch_us(first_purchase) - epoch_us(first_signup)) / 1000000.0
       END AS secs_to_convert
FROM per_user
"""


# ---------------------------------------------------------------------------
# T8 — TPC-H Q10-style: returned-item revenue by customer (join + filter
# + agg + deterministic top-k)
# ---------------------------------------------------------------------------

def t8_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).alias("rev_dec"))
        .orderBy(F.col("rev_dec").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey", "c_name", "n_name",
            F.col("rev_dec").cast("double").alias("revenue"),
        )
    )


T8_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) DESC,
         c_custkey ASC
LIMIT 20
"""


QUERIES = {
    "x1_asof_join": x1_asof_join,
    "x5_event_funnel": x5_event_funnel,
    "t8_returned_revenue": t8_returned_revenue,
    "x2_salted_agg": x2_salted_agg,
    "x3_sessionize": x3_sessionize,
    "x4_event_windows": x4_event_windows,
    "m11_embedding_near_dup_pairs": m11_embedding_near_dup_pairs,
}

ORACLES = {
    "x1_asof_join": X1_SQL,
    "x5_event_funnel": X5_SQL,
    "t8_returned_revenue": T8_SQL,
    "x2_salted_agg": X2_SQL,
    "x3_sessionize": X3_SQL,
    "x4_event_windows": X4_SQL,
    "m11_embedding_near_dup_pairs": M11_SQL,
}
