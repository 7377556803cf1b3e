"""Round-4 catalog additions — training-data curation signals and
relational surface the earlier rounds didn't cover:

- ``m30`` corpus-frequency (unigram-LM) rarity stats per document
- ``m31`` within-document n-gram repetition (Gopher-style loop/spam flag)
- ``m32`` cross-corpus n-gram novelty (derivative-document signal)
- ``m33``/``m34`` exact-integer label centroids + nearest-centroid
  assignment (k-means E-step / class-mean classification over embeddings)
- ``r7`` bucketed range join (interval ⋈ fact without a nested loop)
- ``dq6`` per-nation month-completeness audit
- ``dq7`` Benford first-digit profile of order totals
- ``j5`` null-safe multi-key join (``<=>`` / IS NOT DISTINCT FROM)

Each query follows the determinism contract in catalog/__init__ (exact
integer/decimal aggregation, double only at the final edge, identical
literal constants in both engines) so the DuckDB oracle hash-matches
bit-for-bit.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.operators.similarity import (
    label_centroid_sums,
    nearest_centroid_assign,
)
from novi_pdq_etl_project_prod_spark.operators.text import (
    corpus_frequency_stats,
    max_ngram_repetition,
    ngram_novelty,
)
from novi_pdq_etl_project_prod_spark.session import read_table as _t


# ---------------------------------------------------------------------------
# M30 — corpus-frequency (unigram-LM) rarity stats
# ---------------------------------------------------------------------------

def m30_corpus_frequency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return corpus_frequency_stats(docs)


M30_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS w
  FROM documents
),
vocab AS (SELECT w, COUNT(*) AS tf FROM toks GROUP BY w)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(v.tf) AS BIGINT) AS sum_tf,
       CAST(MIN(v.tf) AS BIGINT) AS min_tf,
       CAST(SUM(CASE WHEN v.tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
FROM toks t JOIN vocab v USING (w)
GROUP BY t.doc_id
"""


# ---------------------------------------------------------------------------
# M31 — within-document n-gram repetition
# ---------------------------------------------------------------------------

def m31_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return max_ngram_repetition(docs, n=3)


M31_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
  FROM toks WHERE len(t) >= 3
),
grams AS (
  SELECT doc_id, md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g FROM idx
),
pg AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_ngrams,
       CAST(MAX(c) AS BIGINT) AS top_ngram_count,
       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS rep_frac
FROM pg GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# M32 — cross-corpus n-gram novelty
# ---------------------------------------------------------------------------

def m32_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return ngram_novelty(docs, n=4)


M32_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 3)) AS i
  FROM toks WHERE len(t) >= 4
),
sh AS (
  SELECT DISTINCT doc_id,
         md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) AS g
  FROM idx
),
fs AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY g)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
       CAST(SUM(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel_grams,
       CAST(SUM(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty_frac
FROM sh JOIN fs USING (g)
GROUP BY sh.doc_id
"""


# ---------------------------------------------------------------------------
# M33 / M34 — exact-integer label centroids + nearest-centroid assignment
# ---------------------------------------------------------------------------

def m33_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return label_centroid_sums(emb)


M33_SQL = """
WITH ex AS (
  SELECT label,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS vm
  FROM embeddings
)
SELECT label, dim,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(vm) AS BIGINT) AS sum_micro
FROM ex GROUP BY 1, 2
"""


def m34_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    # is_match → int: keeps the driver's cross-engine value hash on
    # well-trodden types (the operator's own API stays boolean)
    return nearest_centroid_assign(emb).withColumn(
        "is_match", F.col("is_match").cast("int")
    )


M34_SQL = """
WITH vm AS (
  SELECT vec_id AS id, label AS true_label,
         generate_subscripts(embedding, 1) AS dim,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS v
  FROM embeddings
),
acc AS (
  SELECT true_label AS label, dim, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s
  FROM vm GROUP BY 1, 2
),
cent AS (
  -- integer mean in micro units, round-half-up via pure integer ops:
  -- (2s + n - pmod(2s + n, 2n)) / (2n); exactly divisible, so // is exact
  SELECT label, dim,
         CAST((2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n))) // (2*n)
              AS BIGINT) AS c
  FROM acc
),
d AS (
  SELECT vm.id, vm.true_label, cent.label AS cand,
         CAST(SUM((vm.v - cent.c) * (vm.v - cent.c)) AS BIGINT) AS d2
  FROM vm JOIN cent ON vm.dim = cent.dim
  GROUP BY 1, 2, 3
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cand) AS rn FROM d
)
SELECT id, true_label, cand AS assigned_label,
       CAST(true_label = cand AS INT) AS is_match
FROM r WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# R7 — bucketed range join: 30-day promo windows ⋈ orders with an
# equi-join on covered months + residual range predicate, instead of the
# BroadcastNestedLoopJoin a raw BETWEEN join would plan. At 100 TB the
# month bucket keys keep this a hash join with bounded fan-out (a window
# overlaps ≤ 2 months), independent of interval count.
# ---------------------------------------------------------------------------

def r7_bucketed_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    windows = spark.range(24).select(
        F.col("id").alias("window_id"),
        F.date_add(F.lit("1995-01-01").cast("date"), (F.col("id") * 75).cast("int"))
        .alias("ws"),
    ).withColumn("we", F.date_add(F.col("ws"), 30))
    # bucket each window by the months it covers (inclusive start month →
    # month of we-1, since we is exclusive)
    buckets = windows.select(
        "window_id", "ws", "we",
        F.explode(
            F.sequence(
                F.trunc("ws", "MM"),
                F.trunc(F.date_sub("we", 1), "MM"),
                F.expr("interval 1 month"),
            )
        ).alias("month"),
    )
    od = orders.select(
        F.col("o_orderkey"),
        F.col("o_totalprice"),
        F.col("o_orderdate").cast("date").alias("od"),
    ).withColumn("month", F.trunc("od", "MM"))
    joined = od.join(F.broadcast(buckets), "month").where(
        (F.col("od") >= F.col("ws")) & (F.col("od") < F.col("we"))
    )
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


R7_SQL = """
WITH w AS (
  SELECT i AS window_id,
         DATE '1995-01-01' + CAST(i * 75 AS INT) AS ws,
         DATE '1995-01-01' + CAST(i * 75 + 30 AS INT) AS we
  FROM range(0, 24) t(i)
)
SELECT w.window_id,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders o
JOIN w ON CAST(o.o_orderdate AS DATE) >= w.ws
      AND CAST(o.o_orderdate AS DATE) < w.we
GROUP BY w.window_id
"""


# ---------------------------------------------------------------------------
# DQ6 — month-completeness audit: which nations are missing order months
# inside the corpus's global month span? (the freshness/completeness DQ
# gate; x7 fills gaps, this one REPORTS them)
# ---------------------------------------------------------------------------

def dq6_month_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    per_nation = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("_mi"),
        )
        .groupBy("n_name")
        .agg(
            F.min("_mi").alias("_min_mi"),
            F.max("_mi").alias("_max_mi"),
            F.count_distinct(F.col("_mi")).alias("n_present"),
        )
    )
    # global span via a window over the ~25-nation aggregate (bounded frame)
    from pyspark.sql import Window

    w = Window.partitionBy()
    return (
        per_nation.withColumn(
            "n_expected",
            (F.max("_max_mi").over(w) - F.min("_min_mi").over(w) + 1).cast("long"),
        )
        .select(
            "n_name",
            "n_expected",
            F.col("n_present").cast("long").alias("n_present"),
            (F.col("n_expected") - F.col("n_present")).cast("long").alias("n_missing"),
        )
    )


DQ6_SQL = """
WITH pn AS (
  SELECT n.n_name,
         MIN(year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS min_mi,
         MAX(year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS max_mi,
         COUNT(DISTINCT year(o.o_orderdate) * 12 + month(o.o_orderdate))
           AS n_present
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT n_name,
       CAST(MAX(max_mi) OVER () - MIN(min_mi) OVER () + 1 AS BIGINT)
         AS n_expected,
       CAST(n_present AS BIGINT) AS n_present,
       CAST(MAX(max_mi) OVER () - MIN(min_mi) OVER () + 1 - n_present AS BIGINT)
         AS n_missing
FROM pn
"""


# ---------------------------------------------------------------------------
# DQ7 — Benford first-digit profile of o_totalprice. First digit comes
# from the INTEGER part's string form (floor → bigint → string), the one
# digit-extraction path that is bit-identical across engines; the Benford
# expectation is inlined as full-precision literals so both engines
# compare against the same doubles.
# ---------------------------------------------------------------------------

_BENFORD = {d: math.log10(1 + 1 / d) for d in range(1, 10)}


def dq7_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy()
    expected = F.create_map(
        *[x for d, p in _BENFORD.items() for x in (F.lit(d), F.lit(p))]
    )
    digits = orders.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("first_digit")
    )
    return (
        digits.groupBy("first_digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "observed_p",
            F.col("n").cast("double") / F.sum("n").over(w).cast("double"),
        )
        .withColumn("benford_p", expected[F.col("first_digit")])
        .select("first_digit", "n", "observed_p", "benford_p")
    )


DQ7_SQL = """
WITH d AS (
  SELECT CAST(substring(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                        1, 1) AS INT) AS first_digit
  FROM orders
),
g AS (SELECT first_digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1)
SELECT first_digit, n,
       CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS observed_p,
       CASE first_digit {benford_cases} END AS benford_p
FROM g
""".format(
    benford_cases=" ".join(
        f"WHEN {d} THEN {p!r}" for d, p in _BENFORD.items()
    )
)


# ---------------------------------------------------------------------------
# J5 — null-safe multi-key join: NULL join keys must MATCH null dim keys
# (<=> / IS NOT DISTINCT FROM), the semantics plain equi-joins silently
# drop. Spark hashes EqualNullSafe keys, so this stays a broadcast hash
# join — no nested loop.
# ---------------------------------------------------------------------------

def j5_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("k1"),
        F.col("l_linestatus").alias("k2"),
        F.col("l_quantity"),
    )
    dim = (
        li.select(
            F.col("k1").alias("d_k1"), F.col("k2").alias("d_k2")
        )
        .distinct()
        .withColumn(
            "bucket_label",
            F.concat_ws(
                "/", F.coalesce(F.col("d_k1"), F.lit("none")), F.col("d_k2")
            ),
        )
    )
    joined = li.join(
        F.broadcast(dim),
        F.col("k1").eqNullSafe(F.col("d_k1")) & (F.col("k2") == F.col("d_k2")),
    ).select("k1", "k2", "bucket_label", "l_quantity")
    return joined.groupBy("k1", "k2", "bucket_label").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
    )


J5_SQL = """
WITH li AS (
  SELECT nullif(l_returnflag, 'N') AS k1, l_linestatus AS k2, l_quantity
  FROM lineitem
),
dim AS (
  SELECT DISTINCT k1, k2,
         concat_ws('/', COALESCE(k1, 'none'), k2) AS bucket_label
  FROM li
)
SELECT li.k1, li.k2, dim.bucket_label,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM li JOIN dim
  ON li.k1 IS NOT DISTINCT FROM dim.k1 AND li.k2 = dim.k2
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# X13 — FORWARD as-of join: each click/error attaches the NEXT signup's
# value at/after it (asof_join direction="forward" — same single-shuffle
# carry as x1, scanned in reverse time order; no range cross-product).
# ---------------------------------------------------------------------------

def x13_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.joins import asof_join
    from novi_pdq_etl_project_prod_spark.session import read_events

    ev = read_events(spark, sf_dir)
    left = ev.where(F.col("event_type").isin("click", "error"))
    right = ev.where(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id", F.col("value").alias("next_signup_value")
    )
    out = asof_join(
        left,
        right,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["next_signup_value"],
        tie_break="event_id",
        direction="forward",
    )
    return out.select(
        "event_id", "user_id", "ts", "event_type",
        F.col("asof_next_signup_value").alias("next_signup_value"),
    )


X13_SQL = """
WITH tagged AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_id, event_type,
         CASE WHEN event_type = 'signup' THEN value END AS sv
  FROM events
),
carried AS (
  SELECT *,
         last_value(sv IGNORE NULLS) OVER (
           PARTITION BY user_id
           ORDER BY ts DESC, event_id DESC,
                    CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS next_signup_value
  FROM tagged
)
SELECT event_id, user_id, ts, event_type, next_signup_value
FROM carried
WHERE event_type IN ('click', 'error')
"""


# ---------------------------------------------------------------------------
# G2Q — SCD Type-2 history from the event stream: per-user monthly
# "current event_type" snapshots (deterministic: last event of the month,
# tie-broken by event_id) folded into validity intervals via scd2_apply.
# The reference's dim upsert keeps only latest state (S9); this is the
# full-history variant a warehouse dimension needs.
# ---------------------------------------------------------------------------

def g2_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from novi_pdq_etl_project_prod_spark.operators.modeling import scd2_apply
    from novi_pdq_etl_project_prod_spark.session import read_events

    ev = read_events(spark, sf_dir).withColumn(
        "yyyymm", (F.year("ts") * 100 + F.month("ts")).cast("int")
    )
    w = Window.partitionBy("user_id", "yyyymm").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    monthly = (
        ev.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", F.col("event_type").alias("state"), "yyyymm")
    )
    hist = scd2_apply(
        None, monthly, pk=("user_id",), attrs=("state",),
        effective_col="yyyymm",
    )
    return hist.select(
        "user_id", "state",
        F.col("valid_from").cast("int").alias("valid_from"),
        F.col("valid_to").cast("int").alias("valid_to"),
        # int, not boolean: keeps the driver's cross-engine value hash on
        # well-trodden types
        F.col("is_current").cast("int").alias("is_current"),
    )


G2_SQL = """
WITH ev AS (
  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
         CAST(year(ts) * 100 + month(ts) AS INT) AS yyyymm
  FROM events
),
monthly AS (
  SELECT user_id, event_type AS state, yyyymm
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id, yyyymm ORDER BY ts DESC, event_id DESC
    ) AS rn
    FROM ev
  ) WHERE rn = 1
),
dedup AS (
  SELECT user_id, state, yyyymm AS valid_from
  FROM (
    SELECT *, lag(state) OVER (
      PARTITION BY user_id ORDER BY yyyymm
    ) AS prev_state
    FROM monthly
  ) WHERE prev_state IS NULL OR state <> prev_state
)
SELECT user_id, state, valid_from,
       CAST(lead(valid_from) OVER (
         PARTITION BY user_id ORDER BY valid_from
       ) AS INT) AS valid_to,
       CAST(lead(valid_from) OVER (
         PARTITION BY user_id ORDER BY valid_from
       ) IS NULL AS INT) AS is_current
FROM dedup
"""


QUERIES = {
    "m30_corpus_frequency_stats": m30_corpus_frequency_stats,
    "m31_ngram_repetition": m31_ngram_repetition,
    "m32_ngram_novelty": m32_ngram_novelty,
    "m33_label_centroids": m33_label_centroids,
    "m34_nearest_centroid": m34_nearest_centroid,
    "r7_bucketed_range_join": r7_bucketed_range_join,
    "dq6_month_completeness": dq6_month_completeness,
    "dq7_benford": dq7_benford,
    "j5_null_safe_join": j5_null_safe_join,
    "x13_asof_forward": x13_asof_forward,
    "g2_scd2_intervals": g2_scd2_intervals,
}

ORACLES = {
    "m30_corpus_frequency_stats": M30_SQL,
    "m31_ngram_repetition": M31_SQL,
    "m32_ngram_novelty": M32_SQL,
    "m33_label_centroids": M33_SQL,
    "m34_nearest_centroid": M34_SQL,
    "r7_bucketed_range_join": R7_SQL,
    "dq6_month_completeness": DQ6_SQL,
    "dq7_benford": DQ7_SQL,
    "j5_null_safe_join": J5_SQL,
    "x13_asof_forward": X13_SQL,
    "g2_scd2_intervals": G2_SQL,
}


# ---------------------------------------------------------------------------
# X14 — SLIDING (hopping) windows: 1-hour windows every 15 minutes, each
# event contributing to win/slide = 4 windows. The oracle materializes
# the same window set via epoch-aligned integer bucket math.
# ---------------------------------------------------------------------------

def x14_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.session import read_events

    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


X14_SQL = """
WITH expanded AS (
  SELECT make_timestamp(
           (epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) * 900000000
           - k * 900000000
         ) AS window_start,
         event_type, value
  FROM events, unnest(generate_series(0, 3)) t(k)
)
SELECT window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM expanded
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# F9 — VARIANT ingestion (Spark 4 semi-structured type): parse the raw
# JSON props into a VARIANT once, extract typed fields with variant_get.
# At scale this replaces per-query JSON string re-parsing with a binary
# columnar encoding (the Snowflake/Delta VARIANT pattern).
# ---------------------------------------------------------------------------

def f9_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.session import read_events

    ev = read_events(spark, sf_dir)
    v = ev.withColumn("props_v", F.parse_json("props"))
    return (
        v.select(
            F.variant_get("props_v", "$.k", "int").alias("k"),
            F.col("value"),
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


F9_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1
"""

QUERIES["x14_sliding_windows"] = x14_sliding_windows
QUERIES["f9_variant_extract"] = f9_variant_extract
ORACLES["x14_sliding_windows"] = X14_SQL
ORACLES["f9_variant_extract"] = F9_SQL


# ---------------------------------------------------------------------------
# M35 — distributed Lloyd's k-means. ORACLED exactly since round 13 (the
# m63 unrolled-iteration pattern): every arithmetic step is the integer
# micro-unit path (round(v·1e6) BIGINTs, pmod round-half-up centroid
# means, BIGINT squared-distance argmin with ties to the smaller label)
# and the seeds are deterministic (k lowest ids), so an unrolled
# max_iter-round DuckDB CTE chain reproduces the labels bit-exactly.
# The engine's early stop needs no SQL twin: convergence is a FIXED
# POINT (same assignments → same centroids → same assignments), so the
# oracle's extra rounds past convergence are no-ops. Convergence/
# reproducibility ground truth stays in test_round4_ops.
# ---------------------------------------------------------------------------

_M35_K, _M35_ITERS = 8, 5


def m35_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        kmeans_fit_assign,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = kmeans_fit_assign(emb, k=_M35_K, max_iter=_M35_ITERS)
    return out.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("id").alias("min_vec_id"),
    )


def _m35_sql(k: int = _M35_K, rounds: int = _M35_ITERS,
             micro: int = 1_000_000) -> str:
    """The unrolled Lloyd oracle, generated from the SAME iteration
    count the engine runs (the m63/m64 house pattern for integer-only
    iterative ops). Per round: per-(label, dim) BIGINT sums → the pmod
    round-half-up integer mean (DuckDB's sign-of-dividend % bridged to
    Spark's pmod via ((x % m) + m) % m; the numerator is then an exact
    multiple of 2n, so floor-div == truncating div — the d43 bridge) →
    cross-join argmin by (d2, label) row_number."""
    def one_round(src: str, r: int) -> str:
        return f"""cent{r} AS (
  SELECT label, dim, count(*) AS n, sum(val) AS s
  FROM (SELECT label, unnest(v) AS val,
               unnest(generate_series(0, len(v) - 1)) AS dim
        FROM {src})
  GROUP BY label, dim
),
carr{r} AS (
  SELECT label,
         list((2*s + n - ((2*s + n) % (2*n) + 2*n) % (2*n)) // (2*n)
              ORDER BY dim) AS c
  FROM cent{r} GROUP BY label
),
a{r} AS (
  SELECT id, v, label FROM (
    SELECT m.id, m.v, c.label,
           row_number() OVER (PARTITION BY m.id ORDER BY
             list_reduce(list_transform(list_zip(m.v, c.c),
                                        s -> (s[1]-s[2])*(s[1]-s[2])),
                         (a, b) -> a + b) ASC,
             c.label ASC) AS rn
    FROM mv m CROSS JOIN carr{r} c
  ) WHERE rn = 1
)"""

    parts = [f"""mv AS (
  SELECT vec_id AS id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * {micro}) AS BIGINT)) AS v
  FROM embeddings
),
seeds AS (
  SELECT id, v, CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS label
  FROM mv ORDER BY id LIMIT {k}
)"""]
    src = "seeds"
    for r in range(1, rounds + 1):
        parts.append(one_round(src, r))
        src = f"a{r}"
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT label AS cluster, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(id) AS BIGINT) AS min_vec_id
FROM {src} GROUP BY label ORDER BY cluster"""
    )


M35_SQL = _m35_sql()

QUERIES["m35_kmeans_clusters"] = m35_kmeans_clusters
ORACLES["m35_kmeans_clusters"] = M35_SQL


# ---------------------------------------------------------------------------
# X15 — salted JOIN ≡ plain join (the join-side twin of x2_salted_agg:
# the oracle is the UNSALTED join, so the driver itself certifies the
# physical rewrite changes nothing). SCALE.md records the measured 2.7×
# straggler win at 36M skewed rows.
# ---------------------------------------------------------------------------

def x15_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        # reference-style sentinel skew: clump a third of rows on key 0
        F.when(F.col("l_orderkey") % 3 == 0, F.lit(0))
        .otherwise(F.col("l_suppkey"))
        .alias("k"),
        F.col("l_quantity"),
    )
    dim = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"), F.col("s_name")
    )
    joined = salted_join(li, dim, "k", n_salts=8)
    return joined.groupBy("k", "s_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
    )


X15_SQL = """
WITH li AS (
  SELECT CASE WHEN l_orderkey % 3 = 0 THEN 0 ELSE l_suppkey END AS k,
         l_quantity
  FROM lineitem
)
SELECT li.k, s.s_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM li JOIN supplier s ON li.k = s.s_suppkey
GROUP BY 1, 2
"""

QUERIES["x15_salted_join"] = x15_salted_join
ORACLES["x15_salted_join"] = X15_SQL


# ---------------------------------------------------------------------------
# D11 — exact interpolated median (percentile_cont semantics) per group.
# Exact holistic aggregate — the contrast to d5's approx sketch; at scale
# prefer the sketch unless the contract requires exactness.
# ---------------------------------------------------------------------------

def d11_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Each measure's percentile runs over its own (flag, value, count)
    # grain via the frequency argument — value-cardinality-bounded sort
    # buffers instead of raw-row buffers (the d19/d24 scale fix),
    # bit-identical to the row-expanded form.
    li = _t(spark, sf_dir, "lineitem")
    med_qty = (
        li.groupBy("l_returnflag", F.col("l_quantity").cast("double").alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("l_returnflag")
        .agg(F.percentile(F.col("__v"), F.lit(0.5), F.col("__c")).alias("median_qty"))
    )
    p25_price = (
        li.groupBy(
            "l_returnflag", F.col("l_extendedprice").cast("double").alias("__v")
        )
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("l_returnflag")
        .agg(F.percentile(F.col("__v"), F.lit(0.25), F.col("__c")).alias("p25_price"))
    )
    return med_qty.join(p25_price, "l_returnflag")


D11_SQL = """
SELECT l_returnflag,
       quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS median_qty,
       quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25) AS p25_price
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# F10 — string-function surface (levenshtein / split_part / translate /
# reverse / lpad / repeat), engine-portable forms only.
# ---------------------------------------------------------------------------

def f10_string_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.levenshtein(F.col("s_name"), F.lit("Supplier#000000001")).alias(
            "lev_to_first"
        ),
        F.split_part(F.col("s_name"), F.lit("#"), F.lit(2)).alias("name_num"),
        F.translate(F.col("s_name"), "Se#", "sE.").alias("name_translated"),
        F.reverse(F.col("s_name")).alias("name_rev"),
        F.lpad(F.col("s_suppkey").cast("string"), 9, "0").alias("key_padded"),
        F.repeat(F.lit("ab"), 3).alias("const_repeat"),
    )


F10_SQL = """
SELECT s_suppkey,
       levenshtein(s_name, 'Supplier#000000001') AS lev_to_first,
       split_part(s_name, '#', 2) AS name_num,
       translate(s_name, 'Se#', 'sE.') AS name_translated,
       reverse(s_name) AS name_rev,
       lpad(CAST(s_suppkey AS VARCHAR), 9, '0') AS key_padded,
       repeat('ab', 3) AS const_repeat
FROM supplier
"""


# ---------------------------------------------------------------------------
# A7 — boolean aggregates: every/some (bool_and/bool_or) + count_if.
# ---------------------------------------------------------------------------

def a7_boolean_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.every(F.col("o_totalprice") > 0).cast("int").alias("all_positive"),
        F.some(F.col("o_totalprice") > 300_000).cast("int").alias("any_large"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
    )


A7_SQL = """
SELECT o_orderstatus,
       CAST(bool_and(o_totalprice > 0) AS INT) AS all_positive,
       CAST(bool_or(o_totalprice > 300000) AS INT) AS any_large,
       CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent
FROM orders
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# D12 — deterministic per-group mode: the most frequent value with an
# explicit (count DESC, value ASC) tie-break — built from count +
# row_number instead of an arbitrary-survivor mode() builtin, so both
# engines agree bit-for-bit.
# ---------------------------------------------------------------------------

def d12_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.month("l_shipdate")
    )
    counts = li.groupBy("l_returnflag", "ship_month").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("n").desc(), F.col("ship_month").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("l_returnflag", F.col("ship_month").alias("mode_month"), "n")
    )


D12_SQL = """
WITH c AS (
  SELECT l_returnflag, month(l_shipdate) AS ship_month, COUNT(*) AS n
  FROM lineitem GROUP BY 1, 2
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY l_returnflag ORDER BY n DESC, ship_month ASC
  ) AS rn
  FROM c
)
SELECT l_returnflag, ship_month AS mode_month, CAST(n AS BIGINT) AS n
FROM r WHERE rn = 1
"""

QUERIES["d11_exact_median"] = d11_exact_median
QUERIES["f10_string_surface"] = f10_string_surface
QUERIES["a7_boolean_aggs"] = a7_boolean_aggs
QUERIES["d12_mode_per_group"] = d12_mode_per_group
ORACLES["d11_exact_median"] = D11_SQL
ORACLES["f10_string_surface"] = F10_SQL
ORACLES["a7_boolean_aggs"] = A7_SQL
ORACLES["d12_mode_per_group"] = D12_SQL
