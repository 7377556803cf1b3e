"""Round-9 catalog additions.

D42 — Cohen's kappa: inter-rater agreement between two categorical
labelers, the standard audit for LLM-data quality-rater consistency
(are two annotation pipelines/models actually agreeing beyond chance?).
Exact integer confusion counts; kappa's single division is the only
float, identical IEEE in both engines.

M65 — MinHash calibration: for every pair m8 reports, the signature
estimate next to the EXACT shingle Jaccard and a fixed-point absolute
error — the audit that certifies (num_hashes, bands) are adequate for
the corpus before the estimate is trusted at scale. Reuses the m8
md5-deterministic CTE chain verbatim on the oracle side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.catalog.llm_queries import _M8_EDGE_CTES
from novi_pdq_etl_project_prod_spark.session import read_table as _t


# ---------------------------------------------------------------------------
# D42 — Cohen's kappa between two deterministic "raters" derived from
# lineitem: rater A = l_returnflag, rater B = a status/quantity rule
# producing the same label alphabet. kappa = (n·Σ n_ii − Σ r_i·c_i) /
# (n² − Σ r_i·c_i): every term an exact integer (DECIMAL-widened — at
# 2e9+ rows n² wraps BIGINT), one final division in double.
# ---------------------------------------------------------------------------

_D42_RATER_B = (
    "CASE WHEN l_linestatus = 'F' THEN "
    "(CASE WHEN l_quantity > 25 THEN 'R' ELSE 'A' END) ELSE 'N' END"
)


def d42_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.stats import cohens_kappa

    li = _t(spark, sf_dir, "lineitem")
    rated = li.select(
        F.col("l_returnflag").alias("rater_a"),
        F.expr(_D42_RATER_B).alias("rater_b"),
    )
    return cohens_kappa(rated, "rater_a", "rater_b")


D42_SQL = f"""
WITH rated AS (
  SELECT l_returnflag AS rater_a, {_D42_RATER_B} AS rater_b FROM lineitem
),
cells AS (
  SELECT rater_a, rater_b, CAST(count(*) AS HUGEINT) AS c
  FROM rated GROUP BY 1, 2
),
marg AS (
  SELECT COALESCE(a.lbl, b.lbl) AS lbl,
         COALESCE(a.r, 0) AS r, COALESCE(b.cc, 0) AS cc
  FROM (SELECT rater_a AS lbl, SUM(c) AS r FROM cells GROUP BY 1) a
  FULL OUTER JOIN
       (SELECT rater_b AS lbl, SUM(c) AS cc FROM cells GROUP BY 1) b
    ON a.lbl IS NOT DISTINCT FROM b.lbl
),
tot AS (
  SELECT (SELECT SUM(c) FROM cells) AS n,
         (SELECT COALESCE(SUM(c), 0) FROM cells
          WHERE rater_a IS NOT DISTINCT FROM rater_b) AS diag,
         (SELECT SUM(r * cc) FROM marg) AS rc
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST(diag AS BIGINT) AS n_agree,
       CAST(n * diag AS DOUBLE) / CAST(n * n AS DOUBLE) AS po,
       CAST(rc AS DOUBLE) / CAST(n * n AS DOUBLE) AS pe,
       CAST(n * diag - rc AS DOUBLE) / CAST(n * n - rc AS DOUBLE) AS kappa
FROM tot
"""


# ---------------------------------------------------------------------------
# M65 — MinHash estimate calibration over m8's reported pairs.
# ---------------------------------------------------------------------------


def m65_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        minhash_calibration_report,
    )

    docs = _t(spark, sf_dir, "documents")
    return minhash_calibration_report(
        docs, n=3, num_hashes=64, bands=16, threshold=0.5
    ).orderBy("id_a", "id_b")


M65_SQL = f"""
WITH {_M8_EDGE_CTES},
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
agree_m AS (
  SELECT p.id_a, p.id_b, a.m
  FROM pairs p JOIN agree a ON a.id_a = p.id_a AND a.id_b = p.id_b
),
inter AS (
  SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS n_common
  FROM pairs p
  JOIN sh x ON x.doc_id = p.id_a
  JOIN sh y ON y.doc_id = p.id_b AND y.sh = x.sh
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b,
       CAST(p.m AS BIGINT) AS m_agree,
       COALESCE(i.n_common, 0) AS n_common,
       sa.sz + sb.sz - COALESCE(i.n_common, 0) AS n_union,
       CAST(p.m AS DOUBLE) / 64 AS est_jaccard,
       CAST(COALESCE(i.n_common, 0) AS DOUBLE)
         / (sa.sz + sb.sz - COALESCE(i.n_common, 0)) AS true_jaccard,
       CAST((1000000 * abs(p.m * (sa.sz + sb.sz - COALESCE(i.n_common, 0))
                           - 64 * COALESCE(i.n_common, 0)))
              // (64 * (sa.sz + sb.sz - COALESCE(i.n_common, 0)))
            AS BIGINT) AS err_micro
FROM agree_m p
LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
JOIN sizes sa ON sa.doc_id = p.id_a
JOIN sizes sb ON sb.doc_id = p.id_b
ORDER BY p.id_a, p.id_b
"""


QUERIES = {
    "d42_cohens_kappa": d42_cohens_kappa,
    "m65_minhash_calibration": m65_minhash_calibration,
}

ORACLES = {
    "d42_cohens_kappa": D42_SQL,
    "m65_minhash_calibration": M65_SQL,
}


# ---------------------------------------------------------------------------
# D43 — classical seasonal decomposition of monthly revenue per return
# flag: centered 13-month MA trend, per-month-of-year seasonal means of
# the detrended series, residual — all in exact milli-cent integers
# (offset floor-division bridges Spark's truncating `div` and DuckDB's
# flooring `//` on signed numerators).
# ---------------------------------------------------------------------------


def d43_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.timeseries import (
        seasonal_decompose_monthly,
    )

    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    monthly = li.groupBy(
        "l_returnflag",
        (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("yyyymm"),
    ).agg(F.sum(cents).alias("cents"))
    return seasonal_decompose_monthly(
        monthly, ["l_returnflag"], "yyyymm", "cents"
    ).orderBy("l_returnflag", "yyyymm")


D43_SQL = """
WITH monthly AS (
  SELECT l_returnflag,
         CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS yyyymm,
         CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS value_cents
  FROM lineitem GROUP BY 1, 2
),
trended AS (
  SELECT l_returnflag, yyyymm, value_cents,
         SUM(value_cents) OVER w AS s,
         COUNT(*) OVER w AS n
  FROM monthly
  WINDOW w AS (PARTITION BY l_returnflag ORDER BY yyyymm
               ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
),
detr AS (
  SELECT l_returnflag, yyyymm, value_cents,
         CAST(((s * 1000 + 1000000000000000 * 13) // 13)
              - 1000000000000000 AS BIGINT) AS trend_milli,
         CAST(value_cents * 1000
              - (((s * 1000 + 1000000000000000 * 13) // 13)
                 - 1000000000000000) AS BIGINT) AS detr_milli
  FROM trended WHERE n = 13
),
seas AS (
  SELECT l_returnflag, yyyymm % 100 AS moy,
         CAST(((SUM(detr_milli) + 1000000000000000 * COUNT(*)) // COUNT(*))
              - 1000000000000000 AS BIGINT) AS seasonal_milli
  FROM detr GROUP BY 1, 2
)
SELECT d.l_returnflag, d.yyyymm, d.value_cents, d.trend_milli,
       s.seasonal_milli,
       d.detr_milli - s.seasonal_milli AS residual_milli
FROM detr d
JOIN seas s ON s.l_returnflag = d.l_returnflag AND s.moy = d.yyyymm % 100
ORDER BY d.l_returnflag, d.yyyymm
"""


QUERIES["d43_seasonal_decompose"] = d43_seasonal_decompose
ORACLES["d43_seasonal_decompose"] = D43_SQL


# ---------------------------------------------------------------------------
# M66 — incremental near-dup detection: the documents fixture split into
# a standing corpus (even doc_ids) and an increment (odd doc_ids); every
# reported pair touches the increment. The oracle is the FULL m8 pair
# chain filtered to pairs with an odd endpoint — a genuinely different
# computation path (the engine never forms old×old candidates at all)
# arriving at the same pair set, which is the correctness claim of the
# incremental pattern.
# ---------------------------------------------------------------------------


def m66_incremental_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        incremental_minhash_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 2 == 1)
    old = docs.where(F.col("doc_id") % 2 == 0)
    return incremental_minhash_pairs(
        new, old, n=3, num_hashes=64, bands=16, threshold=0.5
    ).orderBy("id_a", "id_b")


M66_SQL = f"""
WITH {_M8_EDGE_CTES}
SELECT a.id_a, a.id_b,
       CAST(a.m AS DOUBLE) / 64 AS est_jaccard,
       CASE WHEN a.id_a % 2 = 1 AND a.id_b % 2 = 1 THEN 'new_new'
            ELSE 'new_old' END AS pair_type
FROM agree a
WHERE CAST(a.m AS DOUBLE) / 64 >= 0.5
  AND (a.id_a % 2 = 1 OR a.id_b % 2 = 1)
ORDER BY a.id_a, a.id_b
"""


QUERIES["m66_incremental_near_dups"] = m66_incremental_near_dups
ORACLES["m66_incremental_near_dups"] = M66_SQL
