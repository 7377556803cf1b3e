"""Round-5 catalog additions.

- ``m36`` one full k-means Lloyd iteration (E-step + M-step) in exact
  integer micro-units — the oracled core of ``m35_kmeans_clusters``
  (VERDICT r04 item 3): the E-step equals ``m34_nearest_centroid``, the
  M-step is one more hash-agg over the SAME in-flight micro vectors, so
  only the iteration loop stays pytest-only.
- ``m37`` IVF-routed related-pair mining (VERDICT r04 item 7): the
  density-adaptive pair miner for the cos ≥ 0.5 regime where hash-bucket
  LSH recall collapses. No oracle (k-means routing isn't SQL); ground
  truth is the pinned recall floor vs exact numpy all-pairs
  (tests/test_round5_ops.py) and the 200k-density measurement in
  SCALE.md (recall 0.545, zero false positives).

Second widening wave (new surface the reference's users need at 100 TB):

- ``c1`` CDC changelog apply (latest state per key, deletes honored) —
  the streaming-ingest successor of the reference's ``ON CONFLICT``
  upsert (`/root/reference/spark_jobs/model_curated.py:72-101`).
- ``c2`` incremental aggregate maintenance: merge(agg(A), agg(B)) ==
  agg(A ∪ B), certified by recomputing the union in the oracle.
- ``d13`` linear-weighted moving average (exact integer numerator).
- ``d14`` Tukey-fence (IQR) outlier audit with exact quartiles.
- ``a8`` FILTER-clause conditional aggregation surface.
- ``w10`` cumulative distinct entities (first-seen identity — the
  scalable replacement for COUNT(DISTINCT) OVER).
- ``x16`` interval×interval overlap join via canonical-bucket dedup.
- ``m38`` SemDeDup-style cluster-scoped near-dup pairs with the cosine
  threshold evaluated in exact integer milli-units.
- ``m39`` directed n-gram containment pairs (near-subset detection that
  Jaccard structurally misses).
- ``dq8`` quantile-bin distribution drift (χ² form — IEEE-exact ops
  only; PSI's ``ln`` stays off the oracled surface by the
  corpus_frequency_stats policy).

Third wave:

- ``dq9`` cross-engine checksum reconciliation (md5 → bit_xor folds —
  the generalized rollup recon).
- ``m40`` tokenizer vocab coverage (top-N heap + broadcast OOV join).
- ``m41`` duplication-adjusted token accounting (effective training
  tokens per source).
- ``d15`` exact-integer embedding covariance (mapInPandas Gram
  partials — the PCA input at scale).
- ``m42`` curation funnel v2: the new operators composed end-to-end
  (quality → exact dedup → containment dedup → vocab gate) and still
  hash-exact against one oracle.
- ``x17`` retention cohorts; ``x18`` event-transition matrix.

Each query follows the determinism contract in catalog/__init__ (exact
integer/decimal aggregation, double only at the final edge, identical
literal constants in both engines) so the DuckDB oracle hash-matches
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.operators.cdc import (
    apply_changes,
    merge_partial_aggs,
)
from novi_pdq_etl_project_prod_spark.operators.dedup import ngram_containment_pairs
from novi_pdq_etl_project_prod_spark.operators.joins import interval_overlap_join
from novi_pdq_etl_project_prod_spark.operators.similarity import (
    cluster_scoped_dup_pairs,
    embedding_covariance_moments,
    embedding_related_pairs_ivf,
    kmeans_em_step,
)
from novi_pdq_etl_project_prod_spark.operators.text import (
    dup_adjusted_token_stats,
    vocab_coverage,
)
from novi_pdq_etl_project_prod_spark.operators.quality import (
    grouped_table_checksum,
)
from novi_pdq_etl_project_prod_spark.operators.stats import (
    iqr_outlier_summary,
    quantile_bin_drift,
)
from novi_pdq_etl_project_prod_spark.operators.timeseries import weighted_moving_avg
from novi_pdq_etl_project_prod_spark.operators.windows import cumulative_distinct
from novi_pdq_etl_project_prod_spark.session import read_table as _t


# ---------------------------------------------------------------------------
# M36 — one exact-integer Lloyd iteration: assign every vector to its
# nearest label centroid (E), then recompute per-(cluster, dim) integer
# centroid accumulators from those assignments (M). One broadcast + one
# (cluster, dim)-cardinality hash-agg; nothing row-shaped shuffles.
# ---------------------------------------------------------------------------

def m36_kmeans_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_em_step(emb)


M36_SQL = """
WITH vm AS (
  SELECT vec_id AS id, label AS true_label,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS v
  FROM embeddings
),
acc AS (
  SELECT true_label AS label, dim, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s
  FROM vm GROUP BY 1, 2
),
cent AS (
  -- integer mean in micro units, round-half-up via pure integer ops
  SELECT label, dim,
         CAST((2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n))) // (2*n)
              AS BIGINT) AS c
  FROM acc
),
d AS (
  SELECT vm.id, cent.label AS cand,
         CAST(SUM((vm.v - cent.c) * (vm.v - cent.c)) AS BIGINT) AS d2
  FROM vm JOIN cent ON vm.dim = cent.dim
  GROUP BY 1, 2
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cand) AS rn FROM d
),
a AS (SELECT id, cand AS cluster FROM r WHERE rn = 1)
SELECT a.cluster, vm.dim,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(vm.v) AS BIGINT) AS sum_micro,
       CAST((2*SUM(vm.v) + COUNT(*)
             - ((((2*SUM(vm.v) + COUNT(*)) % (2*COUNT(*))) + 2*COUNT(*))
                % (2*COUNT(*))))
            // (2*COUNT(*)) AS BIGINT) AS c_micro
FROM vm JOIN a USING (id)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# M37 — IVF-routed related-pair mining over embeddings. Approximate by
# design (trained-centroid routing), deterministic end to end (seeded
# hash-spread sample, stable argsorts, float64 BLAS scoring), precision
# 1.0 by construction; no SQL oracle — see module docstring.
# ---------------------------------------------------------------------------

def m37_ivf_related_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_related_pairs_ivf(emb, threshold=0.5)


# ---------------------------------------------------------------------------
# C1 — CDC changelog apply: events as a Debezium-ish op stream keyed by
# user (error = tombstone). One window shuffle; no state-table join.
# ---------------------------------------------------------------------------

def c1_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    log = ev.withColumn(
        "op",
        F.when(F.col("event_type") == "error", F.lit("delete")).otherwise(
            F.lit("upsert")
        ),
    )
    cur = apply_changes(log, ["user_id"], ["ts", "event_id"], "op")
    return cur.select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
    )


C1_SQL = """
WITH ranked AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id,
       event_type AS last_event_type,
       ts AS last_ts,
       value AS last_value
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
"""


# ---------------------------------------------------------------------------
# C2 — incremental aggregate maintenance: aggregate two ship-date halves
# independently, merge the partials, certify merge == full recompute.
# ---------------------------------------------------------------------------

def c2_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    yyyymm = (
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("long")
        .alias("ship_yyyymm")
    )

    def half(pred):
        return (
            li.where(pred)
            .groupBy("l_returnflag", yyyymm)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(qty).alias("sum_qty"),
                F.max("l_shipdate").alias("last_ship"),
            )
        )

    cutoff = F.lit("1999-01-01").cast("timestamp")
    merged = merge_partial_aggs(
        half(F.col("l_shipdate") < cutoff),
        half(F.col("l_shipdate") >= cutoff),
        ["l_returnflag", "ship_yyyymm"],
        sum_cols=["n_rows", "sum_qty"],
        max_cols=["last_ship"],
    )
    return merged.select(
        "l_returnflag",
        "ship_yyyymm",
        "n_rows",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        "last_ship",
    )


C2_SQL = """
SELECT l_returnflag,
       CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ship_yyyymm,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       MAX(l_shipdate) AS last_ship
FROM lineitem
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# D13 — linear-weighted moving average of monthly segment revenue
# (weights 3,2,1; exact BIGINT cents numerator, one final divide).
# ---------------------------------------------------------------------------

def d13_weighted_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    monthly = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
               o.o_custkey == F.col("c_custkey"))
        .groupBy(
            "c_mktsegment",
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("long")
            .alias("yyyymm"),
        )
        .agg(F.sum(cents).alias("rev_cents"))
    )
    out = weighted_moving_avg(
        monthly, ["c_mktsegment"], "yyyymm", "rev_cents", k=3
    )
    return out.select("c_mktsegment", "yyyymm", "rev_cents", "wma")


D13_SQL = """
WITH monthly AS (
  SELECT c_mktsegment,
         year(o_orderdate) * 100 + month(o_orderdate) AS yyyymm,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
lagged AS (
  SELECT c_mktsegment, CAST(yyyymm AS BIGINT) AS yyyymm, rev_cents,
         lag(rev_cents, 1) OVER w AS l1,
         lag(rev_cents, 2) OVER w AS l2,
         row_number() OVER w AS rn
  FROM monthly
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY yyyymm)
)
SELECT c_mktsegment, yyyymm, rev_cents,
       CASE WHEN rn >= 3
            THEN CAST(rev_cents * 3 + l1 * 2 + l2 * 1 AS DOUBLE) / 6.0
       END AS wma
FROM lagged
"""


# ---------------------------------------------------------------------------
# D14 — Tukey-fence outlier audit of order totals per priority: exact
# quartiles, 1.5×IQR fences, outside-fence counts.
# ---------------------------------------------------------------------------

def d14_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return iqr_outlier_summary(o, ["o_orderpriority"], "o_totalprice")


D14_SQL = """
WITH fences AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25) AS q1,
         quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS median,
         quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75) AS q3
  FROM orders GROUP BY 1
),
fenced AS (
  SELECT *, q1 - 1.5 * (q3 - q1) AS lo_fence, q3 + 1.5 * (q3 - q1) AS hi_fence
  FROM fences
)
SELECT f.o_orderpriority, f.n_rows, f.q1, f.median, f.q3, f.lo_fence, f.hi_fence,
       CAST(SUM(CASE WHEN CAST(o.o_totalprice AS DOUBLE) < f.lo_fence
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
       CAST(SUM(CASE WHEN CAST(o.o_totalprice AS DOUBLE) > f.hi_fence
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_above
FROM orders o JOIN fenced f USING (o_orderpriority)
GROUP BY 1, 2, 3, 4, 5, 6, 7
"""


# ---------------------------------------------------------------------------
# A8 — FILTER-clause conditional aggregation surface (expressed with
# when() so every branch stays inside one hash-agg pass).
# ---------------------------------------------------------------------------

def a8_filtered_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    disc = F.col("l_discount") >= 0.05
    hi_tax = F.col("l_tax") > 0.04
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(disc, 1).otherwise(0)).alias("n_disc"),
        F.sum(F.when(disc, qty)).cast("double").alias("qty_disc"),
        F.max(F.when(hi_tax, F.col("l_extendedprice"))).alias("max_price_hi_tax"),
        F.sum(F.when(disc & hi_tax, 1).otherwise(0)).alias("n_both"),
    )


A8_SQL = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (WHERE l_discount >= 0.05) AS BIGINT) AS n_disc,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
              FILTER (WHERE l_discount >= 0.05) AS DOUBLE) AS qty_disc,
       MAX(l_extendedprice) FILTER (WHERE l_tax > 0.04) AS max_price_hi_tax,
       CAST(COUNT(*) FILTER (WHERE l_discount >= 0.05 AND l_tax > 0.04)
            AS BIGINT) AS n_both
FROM lineitem
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# W10 — cumulative distinct users by day (first-seen identity; state is
# O(days), never O(users)).
# ---------------------------------------------------------------------------

def w10_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return cumulative_distinct(
        ev,
        "user_id",
        ["ts", "event_id"],
        F.date_format("ts", "yyyy-MM-dd"),  # ISO string: sorts chronologically
        grain_name="day",
    )


W10_SQL = """
WITH marked AS (
  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
           AS is_first
  FROM events
),
per_day AS (
  SELECT day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS n_new
  FROM marked GROUP BY 1
)
SELECT day, n_events, n_new,
       CAST(SUM(n_new) OVER (ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_distinct
FROM per_day
"""


# ---------------------------------------------------------------------------
# X16 — interval × interval overlap join: 30-minute user sessions vs
# ±15-minute incident windows around error events, joined via the
# canonical-first-bucket strategy (no cross product, no distinct pass).
# ---------------------------------------------------------------------------

def x16_session_incident_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sess = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_ev"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("s_lo"),
            F.unix_micros(F.col("w.end")).alias("s_hi"),
        )
    )
    inc = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("inc_id"),
        (F.unix_micros("ts") - F.lit(900_000_000)).alias("i_lo"),
        (F.unix_micros("ts") + F.lit(900_000_000)).alias("i_hi"),
    )
    pairs = interval_overlap_join(
        sess, inc, "s_lo", "s_hi", "i_lo", "i_hi", bucket_width=3_600_000_000
    )
    return pairs.groupBy("user_id").agg(
        F.countDistinct("s_lo").alias("n_hit_sessions"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


X16_SQL = """
WITH ordered AS (
  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
         lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
           AS prev_ts
  FROM events
),
marked AS (
  SELECT user_id, event_id, event_type, ts,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) >= 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
numbered AS (
  SELECT user_id, event_id, event_type, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM marked
),
sessions AS (
  SELECT user_id,
         epoch_us(MIN(ts)) AS s_lo,
         epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS s_hi
  FROM numbered GROUP BY user_id, session_seq
),
incidents AS (
  SELECT event_id AS inc_id,
         epoch_us(CAST(ts AS TIMESTAMP)) - 900000000 AS i_lo,
         epoch_us(CAST(ts AS TIMESTAMP)) + 900000000 AS i_hi
  FROM events WHERE event_type = 'error'
)
SELECT s.user_id,
       CAST(COUNT(DISTINCT s.s_lo) AS BIGINT) AS n_hit_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM sessions s JOIN incidents i
  ON s.s_lo <= i.i_hi AND i.i_lo <= s.s_hi
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# M38 — SemDeDup-style cluster-scoped near-dup pairs: pairwise cosine
# only WITHIN a cluster, thresholded in exact integer milli-units
# (cos ≥ 7/20  ⟺  dot ≥ 0 ∧ 400·dot² ≥ 49·‖a‖²·‖b‖²).
# ---------------------------------------------------------------------------

def m38_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return cluster_scoped_dup_pairs(emb, threshold_num=7, threshold_den=20)


M38_SQL = """
WITH vm AS (
  SELECT vec_id AS id, label,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000, 0) AS BIGINT) AS v
  FROM embeddings
),
n2 AS (SELECT id, label, CAST(SUM(v * v) AS BIGINT) AS n2 FROM vm GROUP BY 1, 2),
dots AS (
  SELECT a.id AS id_a, b.id AS id_b, a.label AS cluster,
         CAST(SUM(a.v * b.v) AS BIGINT) AS dot_milli
  FROM vm a JOIN vm b ON a.label = b.label AND a.dim = b.dim AND a.id < b.id
  GROUP BY 1, 2, 3
)
SELECT d.id_a, d.id_b, d.cluster, d.dot_milli,
       na.n2 AS na_milli, nb.n2 AS nb_milli
FROM dots d
JOIN n2 na ON na.id = d.id_a
JOIN n2 nb ON nb.id = d.id_b
WHERE d.dot_milli >= 0
  AND 400 * d.dot_milli * d.dot_milli >= 49 * na.n2 * nb.n2
"""


# ---------------------------------------------------------------------------
# M39 — directed n-gram containment pairs (near-subset detection):
# |grams(a) ∩ grams(b)| / |grams(a)| ≥ 0.5 over word trigrams.
# ---------------------------------------------------------------------------

def m39_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return ngram_containment_pairs(docs, n=3, threshold=0.5)


M39_SQL = """
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
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g FROM idx
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY 1),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
       CAST(c.n_common AS BIGINT) AS n_common,
       CAST(s.sz AS BIGINT) AS sz_a,
       CAST(c.n_common AS DOUBLE) / s.sz AS containment
FROM common c JOIN sizes s ON s.doc_id = c.id_a
WHERE CAST(c.n_common AS DOUBLE) / s.sz >= 0.5
"""


# ---------------------------------------------------------------------------
# DQ8 — quantile-bin distribution drift of order totals, bins fit on the
# pre-1999 reference half (χ² contributions; IEEE-exact ops only).
# ---------------------------------------------------------------------------

def dq8_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01").cast("timestamp")
    return quantile_bin_drift(
        o.where(F.col("o_orderdate") < cutoff),
        o.where(F.col("o_orderdate") >= cutoff),
        "o_totalprice",
        n_bins=10,
    )


DQ8_SQL = """
WITH ref AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
  WHERE o_orderdate < TIMESTAMP '1999-01-01'
),
cur AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
  WHERE o_orderdate >= TIMESTAMP '1999-01-01'
),
cuts AS (
  SELECT unnest([
    quantile_cont(x, 0.1), quantile_cont(x, 0.2), quantile_cont(x, 0.3),
    quantile_cont(x, 0.4), quantile_cont(x, 0.5), quantile_cont(x, 0.6),
    quantile_cont(x, 0.7), quantile_cont(x, 0.8), quantile_cont(x, 0.9)
  ]) AS cut FROM ref
),
rv AS (SELECT x, COUNT(*) AS n FROM ref GROUP BY 1),
rb AS (
  SELECT v.x, v.n, SUM(CASE WHEN c.cut < v.x THEN 1 ELSE 0 END) AS bin
  FROM rv v CROSS JOIN cuts c GROUP BY v.x, v.n
),
rbin AS (SELECT bin, CAST(SUM(n) AS BIGINT) AS n_ref FROM rb GROUP BY 1),
cv AS (SELECT x, COUNT(*) AS n FROM cur GROUP BY 1),
cb AS (
  SELECT v.x, v.n, SUM(CASE WHEN c.cut < v.x THEN 1 ELSE 0 END) AS bin
  FROM cv v CROSS JOIN cuts c GROUP BY v.x, v.n
),
cbin AS (SELECT bin, CAST(SUM(n) AS BIGINT) AS n_cur FROM cb GROUP BY 1),
bins AS (
  SELECT COALESCE(r.bin, c.bin) AS bin,
         COALESCE(r.n_ref, 0) AS n_ref,
         COALESCE(c.n_cur, 0) AS n_cur
  FROM rbin r FULL JOIN cbin c ON r.bin = c.bin
),
tot AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM bins)
SELECT CAST(bin AS INT) AS bin,
       n_ref, n_cur,
       CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE) AS share_ref,
       CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE) AS share_cur,
       (CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE)
        - CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE))
       * (CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE)
          - CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE))
       / (CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE)) AS chi2_term
FROM bins CROSS JOIN tot
"""


# ---------------------------------------------------------------------------
# M40 — tokenizer vocabulary coverage: per-doc OOV rate vs the corpus's
# own top-1000 token vocabulary.
# ---------------------------------------------------------------------------

def m40_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return vocab_coverage(docs, vocab_size=1000)


M40_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS w
  FROM documents
),
counts AS (SELECT w, COUNT(*) AS tf FROM toks GROUP BY w),
vocab AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY tf DESC, w) AS rk FROM counts
  ) WHERE rk <= 1000
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS oov_frac
FROM toks t LEFT JOIN vocab v ON t.w = v.w
GROUP BY t.doc_id
"""


# ---------------------------------------------------------------------------
# M41 — duplication-adjusted token accounting per source: tokens counted
# once per exact-dup cluster (lowest-doc_id representative).
# ---------------------------------------------------------------------------

def m41_dup_adjusted_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dup_adjusted_token_stats(docs)


M41_SQL = """
WITH base AS (
  SELECT source AS grp, doc_id,
         md5(lower(array_to_string(
           list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''),
           ' '))) AS fp,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '')) AS nt
  FROM documents
),
marked AS (
  SELECT grp, nt,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1 AS rep
  FROM base
)
SELECT grp,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN rep THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_docs,
       CAST(SUM(nt) AS BIGINT) AS raw_tokens,
       CAST(SUM(CASE WHEN rep THEN nt ELSE 0 END) AS BIGINT) AS unique_tokens
FROM marked
GROUP BY grp
"""


# ---------------------------------------------------------------------------
# D15 — exact-integer embedding covariance moments (PCA input): per-batch
# integer Gram partials via mapInPandas, one hash-agg reduce.
# ---------------------------------------------------------------------------

def d15_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_covariance_moments(emb)


D15_SQL = """
WITH vm AS (
  SELECT vec_id AS id,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS v
  FROM embeddings
),
p AS (
  SELECT a.dim AS dim_a, b.dim AS dim_b,
         CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM(a.v) AS BIGINT) AS s_a,
         CAST(SUM(b.v) AS BIGINT) AS s_b,
         CAST(SUM(a.v * b.v) AS BIGINT) AS s_ab
  FROM vm a JOIN vm b ON a.id = b.id AND a.dim <= b.dim
  GROUP BY 1, 2
)
SELECT dim_a, dim_b, n_vecs, s_a, s_b, s_ab,
       (CAST(s_ab AS DOUBLE)
        - CAST(s_a AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_vecs AS DOUBLE))
       / CAST(n_vecs AS DOUBLE) / 1000000000000.0 AS cov
FROM p
"""


# ---------------------------------------------------------------------------
# DQ9 — cross-engine checksum reconciliation: per-(returnflag, ship
# month) order-independent content fold. The generalized rollup recon —
# two systems agree on a slice iff n_rows and both XOR folds agree.
# ---------------------------------------------------------------------------

def dq9_checksum_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    return grouped_table_checksum(
        li.withColumn(
            "ship_yyyymm",
            (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("long"),
        ),
        ["l_returnflag", "ship_yyyymm"],
        [
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            F.col("l_returnflag"),
            cents.cast("string"),
        ],
    )


DQ9_SQL = """
WITH rows_r AS (
  SELECT l_returnflag,
         CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT)
           AS ship_yyyymm,
         md5(concat_ws('|',
             CAST(l_orderkey AS VARCHAR),
             CAST(l_linenumber AS VARCHAR),
             l_returnflag,
             CAST(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS VARCHAR)
         )) AS h
  FROM lineitem
)
SELECT l_returnflag, ship_yyyymm,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(('0x' || substr(h, 1, 15))::BIGINT) AS BIGINT) AS xor_hi,
       CAST(bit_xor(('0x' || substr(h, 16, 15))::BIGINT) AS BIGINT) AS xor_lo
FROM rows_r
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# M42 — curation funnel v2: quality → exact dedup → containment dedup →
# vocab-coverage gate, reported as the per-source funnel. The round-5
# operators composed end-to-end, oracled exactly.
# ---------------------------------------------------------------------------

def m42_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.plans.curation import curate_corpus_v2

    docs = _t(spark, sf_dir, "documents")
    return curate_corpus_v2(docs)


M42_SQL = """
WITH base AS (
  SELECT doc_id, source, text,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '')) AS nt
  FROM documents
),
q AS (SELECT * FROM base WHERE nt BETWEEN 20 AND 1000),
e AS (
  SELECT doc_id, source, text, nt FROM (
    SELECT *, row_number() OVER (
      PARTITION BY md5(lower(array_to_string(
        list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''),
        ' ')))
      ORDER BY doc_id) AS rn
    FROM q
  ) WHERE rn = 1
),
toks3 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM e
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
  FROM toks3 WHERE len(t) >= 3
),
grams AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g FROM idx
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY 1),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
dropc AS (
  SELECT DISTINCT c.id_a AS doc_id
  FROM common c JOIN sizes s ON s.doc_id = c.id_a
  WHERE CAST(c.n_common AS DOUBLE) / s.sz >= 0.6 AND c.id_b < c.id_a
),
c AS (
  SELECT e.* FROM e LEFT JOIN dropc d ON e.doc_id = d.doc_id
  WHERE d.doc_id IS NULL
),
wtoks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS w
  FROM c
),
counts AS (SELECT w, COUNT(*) AS tf FROM wtoks GROUP BY w),
vocab AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY tf DESC, w) AS rk FROM counts
  ) WHERE rk <= 1000
),
oov AS (
  SELECT t.doc_id,
         CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS oov_frac
  FROM wtoks t LEFT JOIN vocab v ON t.w = v.w
  GROUP BY t.doc_id
),
f AS (
  SELECT c.* FROM c JOIN oov ON c.doc_id = oov.doc_id
  WHERE oov.oov_frac <= 0.6
)
SELECT b.source,
       CAST(COUNT(*) AS BIGINT) AS n_input,
       CAST(COALESCE(MAX(sq.n), 0) AS BIGINT) AS n_quality,
       CAST(COALESCE(MAX(se.n), 0) AS BIGINT) AS n_exact,
       CAST(COALESCE(MAX(sc.n), 0) AS BIGINT) AS n_containment,
       CAST(COALESCE(MAX(sf.n), 0) AS BIGINT) AS n_final,
       CAST(COALESCE(MAX(sf.tok), 0) AS BIGINT) AS tokens_final
FROM base b
LEFT JOIN (SELECT source, COUNT(*) AS n FROM q GROUP BY 1) sq USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n FROM e GROUP BY 1) se USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n FROM c GROUP BY 1) sc USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n, SUM(nt) AS tok FROM f GROUP BY 1) sf
  USING (source)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# X17 — retention cohorts: users bucketed by first-seen day, distinct
# active users per (cohort, day offset). Two shuffles: one user-keyed
# min, one cohort-grain distinct count.
# ---------------------------------------------------------------------------

def x17_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    )
    first_seen = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(first_seen, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


X17_SQL = """
WITH days AS (
  SELECT user_id, CAST(ts AS DATE) AS day FROM events
),
first_seen AS (
  SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY 1
)
SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(d.day - f.cohort_day AS INT) AS day_offset,
       CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS n_active
FROM days d JOIN first_seen f USING (user_id)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# X18 — event-type transition matrix: per-user event bigrams under the
# total (ts, event_id) order; transition probability per source state.
# ---------------------------------------------------------------------------

def x18_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).where(F.col("from_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wf = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wf)).alias("p"),
    )


X18_SQL = """
WITH ordered AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type
  FROM events
),
counts AS (
  SELECT from_type, event_type AS to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM ordered WHERE from_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type) AS p
FROM counts
"""


# ---------------------------------------------------------------------------
# D16 — exact higher-moment profile: mean / population variance /
# skewness / excess kurtosis from exact decimal power sums.
# ---------------------------------------------------------------------------

def d16_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.stats import (
        grouped_moment_stats,
    )

    li = _t(spark, sf_dir, "lineitem")
    return grouped_moment_stats(li, ["l_returnflag"], "l_quantity")


D16_SQL = """
WITH p AS (
  SELECT l_returnflag, q, q2, CAST(q2 * q AS DECIMAL(27,0)) AS q3
  FROM (
    SELECT l_returnflag, q, q * q AS q2
    FROM (SELECT l_returnflag,
                 CAST(ROUND(l_quantity * 100, 0) AS DECIMAL(9,0)) AS q
          FROM lineitem)
  )
),
g AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE) / 1e2 AS s1,
         CAST(SUM(CAST(q2 AS DECIMAL(38,0))) AS DOUBLE) / 1e4 AS s2,
         CAST(SUM(CAST(q3 AS DECIMAL(38,0))) AS DOUBLE) / 1e6 AS s3,
         CAST(SUM(CAST(q3 * q AS DECIMAL(38,0))) AS DOUBLE) / 1e8 AS s4
  FROM p
  GROUP BY 1
),
m AS (
  SELECT l_returnflag, n_rows,
         CAST(n_rows AS DOUBLE) AS n,
         s1 / n_rows AS mean,
         s2 / n_rows - (s1 / n_rows) * (s1 / n_rows) AS m2,
         s3 / n_rows - 3 * (s1 / n_rows) * (s2 / n_rows)
           + 2 * (s1 / n_rows) * (s1 / n_rows) * (s1 / n_rows) AS m3,
         s4 / n_rows - 4 * (s1 / n_rows) * (s3 / n_rows)
           + 6 * (s1 / n_rows) * (s1 / n_rows) * (s2 / n_rows)
           - 3 * (s1 / n_rows) * (s1 / n_rows) * (s1 / n_rows) * (s1 / n_rows)
           AS m4
  FROM g
)
SELECT l_returnflag, n_rows, mean,
       m2 AS var_pop,
       CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) END AS skewness,
       CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END AS excess_kurtosis
FROM m
"""


QUERIES = {
    "m36_kmeans_em_step": m36_kmeans_em_step,
    "m37_ivf_related_pairs": m37_ivf_related_pairs,
    "c1_cdc_apply": c1_cdc_apply,
    "c2_incremental_merge": c2_incremental_merge,
    "d13_weighted_moving_avg": d13_weighted_moving_avg,
    "d14_iqr_outliers": d14_iqr_outliers,
    "a8_filtered_aggs": a8_filtered_aggs,
    "w10_cumulative_distinct": w10_cumulative_distinct,
    "x16_session_incident_overlap": x16_session_incident_overlap,
    "m38_semdedup_pairs": m38_semdedup_pairs,
    "m39_containment_pairs": m39_containment_pairs,
    "dq8_distribution_drift": dq8_distribution_drift,
    "dq9_checksum_recon": dq9_checksum_recon,
    "m40_vocab_coverage": m40_vocab_coverage,
    "m41_dup_adjusted_tokens": m41_dup_adjusted_tokens,
    "d15_embedding_covariance": d15_embedding_covariance,
    "m42_curation_v2": m42_curation_v2,
    "x17_retention_cohorts": x17_retention_cohorts,
    "x18_event_transitions": x18_event_transitions,
    "d16_moment_stats": d16_moment_stats,
}

ORACLES = {
    "m36_kmeans_em_step": M36_SQL,
    "c1_cdc_apply": C1_SQL,
    "c2_incremental_merge": C2_SQL,
    "d13_weighted_moving_avg": D13_SQL,
    "d14_iqr_outliers": D14_SQL,
    "a8_filtered_aggs": A8_SQL,
    "w10_cumulative_distinct": W10_SQL,
    "x16_session_incident_overlap": X16_SQL,
    "m38_semdedup_pairs": M38_SQL,
    "m39_containment_pairs": M39_SQL,
    "dq8_distribution_drift": DQ8_SQL,
    "dq9_checksum_recon": DQ9_SQL,
    "m40_vocab_coverage": M40_SQL,
    "m41_dup_adjusted_tokens": M41_SQL,
    "d15_embedding_covariance": D15_SQL,
    "m42_curation_v2": M42_SQL,
    "x17_retention_cohorts": X17_SQL,
    "x18_event_transitions": X18_SQL,
    "d16_moment_stats": D16_SQL,
}
