"""Round-5 catalog additions, fourth wave.

- ``m43`` connected components over EXACT Jaccard near-dup pairs,
  oracled end-to-end with a DuckDB recursive CTE — the transitive-
  closure step (pairs → dedup decisions) graduates from pytest-only
  ground truth (m13's status, unavoidable for its MinHash edges) to a
  driver-certified row: same Spark operator (min-label propagation,
  ``dedup.near_dup_clusters``), exact edge set, exact fixpoint oracle.
- ``m44`` Poisson probability-proportional-to-size sampling: inclusion
  iff ``u(id) * max_w < w * 16^15`` in DECIMAL — per-row weighted
  sampling (documents by length ⇒ token-budget-driven inclusion) with
  every decision integer-exact in both engines.
- ``c3`` incremental JOIN view maintenance (the delta-join
  decomposition ``dL⋈R ∪ L⋈dR ∪ dL⋈dR``), certified by an oracle that
  recomputes the full join from scratch — extends c2's "incremental ==
  recompute" contract from aggregates to joins.
- ``m45`` zlib compression-ratio quality signal (row-local Arrow pass;
  no oracle — DEFLATE isn't SQL; pytest pins byte-identity to a local
  zlib reference plus the planted repetitive-vs-prose ordering).
- ``m46`` PCA projection of the embedding corpus: exact-integer
  covariance moments (d15) → driver-side d×d ``eigh`` (bounded by
  DIMENSION, never corpus size) → row-local BLAS projection. No oracle
  (eigendecomposition isn't SQL); pytest pins variance ordering,
  reconstruction, sign convention, and partition independence.

Fifth wave:

- ``j6`` SCD2 point-in-time lookup (events × the dimension state valid
  at their month — broadcast interval history, range predicate
  post-match).
- ``w11`` time-weighted average (exact microsecond weights, DECIMAL
  accumulation).
- ``d17`` Poissonized bootstrap (B deterministic resample replicates of
  a grouped mean in one pass; integer inverse-CDF weights shared
  verbatim with the oracle).
- ``x21`` nearest-direction as-of join (dual-frame carry over one
  partitioned sort; exact |Δt| compare, backward wins ties).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.operators.cdc import incremental_join_view
from novi_pdq_etl_project_prod_spark.operators.dedup import (
    near_dup_clusters,
    ngram_jaccard_pairs,
)
from novi_pdq_etl_project_prod_spark.operators.multimodal import pps_sample
from novi_pdq_etl_project_prod_spark.operators.similarity import (
    pca_components,
    pca_project,
)
from novi_pdq_etl_project_prod_spark.operators.text import compression_signal
from novi_pdq_etl_project_prod_spark.session import read_table as _t


# ---------------------------------------------------------------------------
# M43 — connected components over exact Jaccard pairs (trigrams, ≥0.5).
# Spark: iterative min-label propagation; oracle: recursive-CTE label
# closure + MIN per node. Components in the fixture are tiny (pairs and
# one 3-chain), exactly the near-dup regime the operator targets.
# ---------------------------------------------------------------------------

def m43_pair_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    return near_dup_clusters(pairs).orderBy("id")


M43_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
  FROM toks WHERE len(t) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh FROM idx
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id ORDER BY id
"""


# ---------------------------------------------------------------------------
# M44 — PPS (probability ∝ n_chars) Poisson sample, integer-exact
# inclusion in both engines; seed 42 shared verbatim.
# ---------------------------------------------------------------------------

def m44_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return pps_sample(
        docs.select("doc_id", "source", "n_chars"), "n_chars", id_col="doc_id"
    ).orderBy("doc_id")


M44_SQL = """
WITH mw AS (SELECT MAX(n_chars) AS max_n_chars FROM documents)
SELECT doc_id, source, n_chars, max_n_chars
FROM documents, mw
WHERE CAST(CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)
                AS BIGINT) AS HUGEINT) * max_n_chars
    < CAST(n_chars AS HUGEINT) * 1152921504606846976
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# C3 — incremental join-view maintenance. Both inputs split into
# (old, delta) by md5 content hashes (different salts, so the deltas are
# independent); the incremental union-of-delta-joins must equal the
# from-scratch join the oracle computes.
# ---------------------------------------------------------------------------

def c3_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    lineitem = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        "l_extendedprice",
    )
    d_o = F.substring(F.md5(F.concat_ws(":", F.lit("O"), F.col("o_orderkey"))), 1, 1) == "0"
    d_l = (
        F.substring(
            F.md5(F.concat_ws(":", F.lit("L"), F.col("o_orderkey"), F.col("l_linenumber"))),
            1,
            1,
        )
        == "0"
    )
    old_o, new_o = orders.where(~d_o), orders.where(d_o)
    old_l, new_l = lineitem.where(~d_l), lineitem.where(d_l)
    old_view = old_o.join(old_l, "o_orderkey")
    view = incremental_join_view(old_view, old_o, old_l, new_o, new_l, ["o_orderkey"])
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    return (
        view.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(cents).cast("double") / 100).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


C3_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100
         AS revenue
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# M45 — zlib compressibility (no oracle; rows-only driver check + pytest
# byte-identity ground truth).
# ---------------------------------------------------------------------------

def m45_compression_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return compression_signal(docs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# M46 — PCA projection (no oracle; pytest pins the spectral contract).
# Output flattens the first two PCs so the driver's rows-only check sees
# a stable (id, pc1, pc2) schema.
# ---------------------------------------------------------------------------

def m46_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    comps, _vals, mean = pca_components(emb, k=4)
    proj = pca_project(emb, comps, mean)
    return proj.select(
        "vec_id",
        F.col("pc")[0].alias("pc1"),
        F.col("pc")[1].alias("pc2"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# J6 — SCD2 point-in-time lookup: every event joined to the dimension
# state that was valid AT ITS MONTH (the temporal-dimension enrichment
# every versioned warehouse does). Plan: the interval history is
# dimension-sized → broadcast equi-join on the entity key, range
# predicate evaluated post-match; no interval bucketing machinery needed
# because per-key interval counts are version counts, not corpus-sized.
# ---------------------------------------------------------------------------

def j6_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    ).select(
        "user_id", "state",
        F.col("valid_from").cast("int").alias("valid_from"),
        F.col("valid_to").cast("int").alias("valid_to"),
    )
    joined = ev.join(F.broadcast(hist), "user_id").where(
        (F.col("yyyymm") >= F.col("valid_from"))
        & (
            F.col("valid_to").isNull()
            | (F.col("yyyymm") < F.col("valid_to"))
        )
    )
    return (
        joined.groupBy("state", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("state", "event_type")
    )


J6_SQL = """
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
),
hist AS (
  SELECT user_id, state, valid_from,
         CAST(lead(valid_from) OVER (
           PARTITION BY user_id ORDER BY valid_from
         ) AS INT) AS valid_to
  FROM dedup
)
SELECT h.state, e.event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM ev e
JOIN hist h ON e.user_id = h.user_id
WHERE e.yyyymm >= h.valid_from
  AND (h.valid_to IS NULL OR e.yyyymm < h.valid_to)
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# W11 — time-weighted average (TWAP) of the event value per user-month:
# each observation weighted by the EXACT microseconds until the next
# observation in the same group (last observation carries no weight —
# the between-observations convention). Cents × microseconds accumulate
# in DECIMAL(38,0), one double division at the edge.
# ---------------------------------------------------------------------------

def w11_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from novi_pdq_etl_project_prod_spark.session import read_events

    ev = read_events(spark, sf_dir).withColumn(
        "yyyymm", (F.year("ts") * 100 + F.month("ts")).cast("int")
    )
    w = Window.partitionBy("user_id", "yyyymm").orderBy("ts", "event_id")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    dmicros = (
        F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    )
    weighted = ev.select(
        "user_id",
        "yyyymm",
        cents.alias("_c"),
        F.coalesce(dmicros, F.lit(0)).cast("decimal(38,0)").alias("_w"),
    )
    g = weighted.groupBy("user_id", "yyyymm").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.col("_c").cast("decimal(38,0)") * F.col("_w")).alias("_num"),
        F.sum("_w").alias("_den"),
    )
    return (
        g.where(F.col("_den") > 0)
        .select(
            "user_id",
            "yyyymm",
            "n_obs",
            (
                F.col("_num").cast("double") / F.col("_den").cast("double") / 100
            ).alias("twap"),
        )
        .orderBy("user_id", "yyyymm")
    )


W11_SQL = """
WITH ev AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
         CAST(year(ts) * 100 + month(ts) AS INT) AS yyyymm
  FROM events
),
wtd AS (
  SELECT user_id, yyyymm,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         CAST(COALESCE(
           epoch_us(lead(ts) OVER (
             PARTITION BY user_id, yyyymm ORDER BY ts, event_id
           )) - epoch_us(ts), 0) AS HUGEINT) AS w
  FROM ev
)
SELECT user_id, yyyymm,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(SUM(CAST(c AS HUGEINT) * w) AS DOUBLE)
         / CAST(SUM(w) AS DOUBLE) / 100 AS twap
FROM wtd
GROUP BY 1, 2
HAVING SUM(w) > 0
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# D17 — Poissonized bootstrap: 16 deterministic resample replicates of
# the per-priority mean order value in ONE pass. The spread of the
# replicate means is the bootstrap standard error — computed without
# materializing 16 copies of the table. Weights are exact integer
# inverse-CDF draws (constants shared verbatim with the oracle).
# ---------------------------------------------------------------------------

def d17_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.stats import (
        poisson_bootstrap_means,
    )

    orders = _t(spark, sf_dir, "orders")
    return poisson_bootstrap_means(
        orders, "o_orderpriority", "o_orderkey", "o_totalprice",
        n_replicates=16,
    ).orderBy("o_orderpriority", "replicate")


_D17_THRESHOLDS = (
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
    1152825534095764608,
)

D17_SQL = """
WITH reps AS (SELECT unnest(generate_series(0, 15)) AS replicate),
r AS (
  SELECT o_orderpriority, replicate,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c,
         CAST('0x' || substr(md5(
           '42:' || replicate::VARCHAR || ':' || o_orderkey::VARCHAR
         ), 1, 15) AS BIGINT) AS u
  FROM orders, reps
),
w AS (
  SELECT o_orderpriority, replicate, c,
         {terms} AS w
  FROM r
),
g AS (
  SELECT o_orderpriority, replicate,
         CAST(SUM(w) AS BIGINT) AS n_eff,
         SUM(CAST(w AS HUGEINT) * CAST(c AS HUGEINT)) AS s
  FROM w GROUP BY 1, 2
)
SELECT o_orderpriority, CAST(replicate AS INT) AS replicate, n_eff,
       CAST(s AS DOUBLE) / CAST(n_eff AS DOUBLE) / 100 AS mean
FROM g
WHERE n_eff > 0
ORDER BY 1, 2
""".format(
    terms=" + ".join(
        f"CAST(u >= {t} AS INT)" for t in _D17_THRESHOLDS
    )
)


# ---------------------------------------------------------------------------
# X21 — NEAREST as-of join: each click/error event picks the signup
# whose timestamp is closest in |Δt| (backward wins exact-microsecond
# ties). One shuffle: both directional carries are frames over the same
# partitioned sort (operators/joins.py::asof_join direction="nearest").
# ---------------------------------------------------------------------------

def x21_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.joins import asof_join
    from novi_pdq_etl_project_prod_spark.session import read_events

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
        direction="nearest",
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("asof_signup_value").alias("nearest_signup_value"),
        (F.unix_micros("ts") - F.unix_micros("asof_ts")).alias("delta_us"),
    ).orderBy("event_id")


X21_SQL = """
WITH tagged AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_id, event_type,
         CASE WHEN event_type = 'signup' THEN value END AS sv,
         CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END AS rts
  FROM events
),
carried AS (
  SELECT *,
         last_value(sv IGNORE NULLS) OVER (
           PARTITION BY user_id
           ORDER BY ts ASC, event_id ASC,
                    CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS bv,
         last_value(rts IGNORE NULLS) OVER (
           PARTITION BY user_id
           ORDER BY ts ASC, event_id ASC,
                    CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS bts,
         first_value(sv IGNORE NULLS) OVER (
           PARTITION BY user_id
           ORDER BY ts ASC, event_id ASC,
                    CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END ASC
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
         ) AS fv,
         first_value(rts IGNORE NULLS) OVER (
           PARTITION BY user_id
           ORDER BY ts ASC, event_id ASC,
                    CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END ASC
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
         ) AS fts
  FROM tagged
),
picked AS (
  SELECT *,
         CASE WHEN fts IS NULL THEN TRUE
              WHEN bts IS NULL THEN FALSE
              ELSE (epoch_us(ts) - epoch_us(bts))
                   <= (epoch_us(fts) - epoch_us(ts))
         END AS pick_back
  FROM carried
)
SELECT event_id, user_id, event_type,
       CASE WHEN pick_back THEN bv ELSE fv END AS nearest_signup_value,
       epoch_us(ts) - epoch_us(CASE WHEN pick_back THEN bts ELSE fts END)
         AS delta_us
FROM picked
WHERE event_type IN ('click', 'error')
ORDER BY event_id
"""


QUERIES = {
    "d17_poisson_bootstrap": d17_poisson_bootstrap,
    "x21_asof_nearest": x21_asof_nearest,
    "m43_pair_components": m43_pair_components,
    "m44_pps_sample": m44_pps_sample,
    "c3_incremental_join": c3_incremental_join,
    "m45_compression_signal": m45_compression_signal,
    "m46_pca_project": m46_pca_project,
    "j6_scd2_lookup": j6_scd2_lookup,
    "w11_time_weighted_avg": w11_time_weighted_avg,
}

ORACLES = {
    "d17_poisson_bootstrap": D17_SQL,
    "x21_asof_nearest": X21_SQL,
    "m43_pair_components": M43_SQL,
    "m44_pps_sample": M44_SQL,
    "c3_incremental_join": C3_SQL,
    "j6_scd2_lookup": J6_SQL,
    "w11_time_weighted_avg": W11_SQL,
}
