"""Round-10 catalog additions.

D44 — Fleiss' kappa: chance-corrected agreement among a FIXED number of
raters per subject — the multi-rater generalization of d42's Cohen's
kappa (three-plus annotation pipelines / quality raters per document).
Exact integer confusion statistics in DECIMAL(38,0)/HUGEINT; the three
final divisions are the only floats, identical IEEE in both engines.

M67 — near-dup cluster canonicalization: the LAST step of the dedup
pipeline (m8 pairs → m13 components → WHICH rows leave the corpus):
per cluster keep the longest-text member (ties → smallest id) and emit
the drop list with each dropped doc's survivor — the audit artifact a
reviewer signs off on before a destructive 100 TB dedup. Oracled by
extending m13's recursive-CTE closure with a window argmax over the
same deterministic md5 edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.catalog.llm_queries import (
    _M8_EDGE_CTES,
    minhash_near_duplicates_md5,
)
from novi_pdq_etl_project_prod_spark.session import read_table as _t


# ---------------------------------------------------------------------------
# D44 — Fleiss' kappa over lineitem: subjects = orders with exactly 4
# line items, "raters" = the four line items, category = l_returnflag.
# kappa = ((S2 − Nn)·Nn − (n−1)·ΣC_j²) / ((n−1)·((Nn)² − ΣC_j²)), every
# term an exact integer (the Nn-cancelled form keeps products ≤ ~N²n³,
# inside DECIMAL(38,0)/HUGEINT until N ≈ 10¹⁵ subjects — past that both
# engines fail loudly).
# ---------------------------------------------------------------------------

_D44_N_RATERS = 4


def d44_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.stats import fleiss_kappa

    li = _t(spark, sf_dir, "lineitem")
    return fleiss_kappa(li, "l_orderkey", "l_returnflag", _D44_N_RATERS)


D44_SQL = """
WITH rated AS (
  SELECT l_orderkey AS subj, l_returnflag AS cat FROM lineitem
),
cells AS (
  SELECT subj, cat, CAST(count(*) AS HUGEINT) AS cnt
  FROM rated GROUP BY 1, 2
),
oksubj AS (
  SELECT subj FROM cells GROUP BY subj HAVING SUM(cnt) = 4
),
qual AS (
  SELECT c.subj, c.cat, c.cnt FROM cells c JOIN oksubj s ON s.subj = c.subj
),
tot AS (
  SELECT (SELECT CAST(count(*) AS HUGEINT) FROM oksubj) AS nsubj,
         (SELECT SUM(cnt * cnt) FROM qual) AS s2,
         (SELECT SUM(cj * cj) FROM
            (SELECT SUM(cnt) AS cj FROM qual GROUP BY cat) t) AS sc2
)
SELECT CAST(nsubj AS BIGINT) AS n_subjects,
       4 AS n_raters,
       CAST(s2 - nsubj * 4 AS DOUBLE)
         / CAST(nsubj * 4 * 3 AS DOUBLE) AS po,
       CAST(sc2 AS DOUBLE)
         / CAST(nsubj * 4 * nsubj * 4 AS DOUBLE) AS pe,
       CAST((s2 - nsubj * 4) * nsubj * 4 - 3 * sc2 AS DOUBLE)
         / CAST(3 * (nsubj * 4 * nsubj * 4 - sc2) AS DOUBLE) AS kappa
FROM tot
"""


# ---------------------------------------------------------------------------
# M67 — cluster canonicalization over m13's components.
# ---------------------------------------------------------------------------


def m67_dedup_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        canonicalize_clusters,
        near_dup_clusters,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates_md5(docs, threshold=0.5)
    clusters = near_dup_clusters(pairs)
    scores = docs.select(
        F.col("doc_id").alias("id"),
        F.length("text").cast("long").alias("score"),
    )
    return canonicalize_clusters(clusters, scores).orderBy("doc_id")


M67_SQL = f"""
WITH RECURSIVE
{_M8_EDGE_CTES},
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
),
clusters AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
scored AS (
  SELECT c.id, c.cluster_id, CAST(length(d.text) AS BIGINT) AS score
  FROM clusters c JOIN documents d ON d.doc_id = c.id
),
keep AS (
  SELECT cluster_id, id AS keep_id FROM (
    SELECT cluster_id, id,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY score DESC, id ASC) AS rn
    FROM scored) WHERE rn = 1
)
SELECT s.id AS doc_id, s.cluster_id, k.keep_id, s.score
FROM scored s JOIN keep k ON k.cluster_id = s.cluster_id
WHERE s.id <> k.keep_id
ORDER BY doc_id
"""


QUERIES = {
    "d44_fleiss_kappa": d44_fleiss_kappa,
    "m67_dedup_canonicalize": m67_dedup_canonicalize,
}

ORACLES = {
    "d44_fleiss_kappa": D44_SQL,
    "m67_dedup_canonicalize": M67_SQL,
}


# ---------------------------------------------------------------------------
# M68 — cross-split n-gram leakage matrix: how many distinct word
# 3-grams each pair of k-fold splits (m27's content-addressed folds)
# shares — the split-level leakage audit run before a train/val/test
# assignment ships. Gram-grain fold sets + array-local pair explode;
# the oracle expresses the same matrix as a gram self-join (fine at
# oracle scale; the Spark plan never forms it).
# ---------------------------------------------------------------------------


def m68_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        split_leakage_matrix,
    )
    from novi_pdq_etl_project_prod_spark.operators.multimodal import (
        kfold_assign,
    )

    docs = _t(spark, sf_dir, "documents")
    folded = kfold_assign(docs.select("doc_id", "text"), "doc_id", k=5)
    return split_leakage_matrix(folded, "fold", "text", n=3).orderBy(
        "fold_a", "fold_b"
    )


M68_SQL = """
WITH toks AS (
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
gf AS (
  SELECT DISTINCT sh,
         CAST(('0x' || substring(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              % 5 AS INT) AS fold
  FROM sh
),
folds AS (
  SELECT DISTINCT
         CAST(('0x' || substring(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              % 5 AS INT) AS fold
  FROM documents
),
allp AS (
  SELECT a.fold AS fold_a, b.fold AS fold_b
  FROM folds a JOIN folds b ON a.fold < b.fold
),
counts AS (
  SELECT a.fold AS fold_a, b.fold AS fold_b,
         CAST(count(*) AS BIGINT) AS shared_grams
  FROM gf a JOIN gf b ON a.sh = b.sh AND a.fold < b.fold
  GROUP BY 1, 2
)
SELECT p.fold_a, p.fold_b,
       COALESCE(c.shared_grams, CAST(0 AS BIGINT)) AS shared_grams
FROM allp p LEFT JOIN counts c USING (fold_a, fold_b)
ORDER BY 1, 2
"""


QUERIES["m68_split_leakage"] = m68_split_leakage
ORACLES["m68_split_leakage"] = M68_SQL


# ---------------------------------------------------------------------------
# M69 — incremental EXACT dedup: the cheap first filter of an ingest
# pipeline (the exact twin of m66's near-dup increment): increment docs
# whose md5(text) already exists in the standing corpus (exact_old) or
# earlier in the increment (exact_new), with the canonical id each one
# duplicates. Standing×standing is never compared.
# ---------------------------------------------------------------------------


def m69_incremental_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The increment is a deterministic RE-INGEST slice (the fixture
    corpus has no planted exact dups): every doc_id % 89 == 0 page is
    re-fetched unchanged (id + 10M → exact_old vs standing), and a
    revised version ("<text> v2") arrives TWICE (ids + 20M and + 30M —
    the + 30M copy is exact_new against its + 20M sibling; the + 20M
    first occurrence is clean and unreported)."""
    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        incremental_exact_dups,
    )

    docs = _t(spark, sf_dir, "documents")
    sl = docs.where(F.col("doc_id") % 89 == 0).select("doc_id", "text")
    refetch = sl.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), F.col("text")
    )
    rev1 = sl.select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
    )
    rev2 = sl.select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
    )
    increment = refetch.unionByName(rev1).unionByName(rev2)
    return incremental_exact_dups(increment, docs).orderBy("doc_id")


M69_SQL = """
WITH sl AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 89 = 0
),
inc AS (
  SELECT doc_id + 10000000 AS id, text FROM sl
  UNION ALL
  SELECT doc_id + 20000000 AS id, text || ' v2' FROM sl
  UNION ALL
  SELECT doc_id + 30000000 AS id, text || ' v2' FROM sl
),
h_new AS (SELECT id, md5(text) AS h FROM inc),
old_min AS (
  SELECT md5(text) AS h, MIN(doc_id) AS old_min FROM documents GROUP BY 1
),
new_min AS (
  SELECT h, MIN(id) AS new_min FROM h_new GROUP BY 1
)
SELECT n.id AS doc_id,
       COALESCE(o.old_min, m.new_min) AS dup_of,
       CASE WHEN o.old_min IS NOT NULL THEN 'exact_old'
            ELSE 'exact_new' END AS dup_type
FROM h_new n
LEFT JOIN old_min o ON o.h = n.h
JOIN new_min m ON m.h = n.h
WHERE o.old_min IS NOT NULL OR n.id > m.new_min
ORDER BY doc_id
"""


QUERIES["m69_incremental_exact_dups"] = m69_incremental_exact_dups
ORACLES["m69_incremental_exact_dups"] = M69_SQL


# ---------------------------------------------------------------------------
# D45 — binary-classifier confusion report: a deterministic "returned?"
# predictor over lineitem vs the actual return flag — TP/TN/FP/FN exact
# integers plus precision/recall/F1/MCC (one IEEE sqrt, identical both
# engines; try_divide == DuckDB's NULL-on-/0 on degenerate corpora).
# ---------------------------------------------------------------------------

_D45_PRED = "l_quantity > 25 AND l_discount >= 0.05"


def d45_confusion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.stats import (
        binary_confusion_report,
    )

    li = _t(spark, sf_dir, "lineitem")
    rated = li.select(
        (F.col("l_returnflag") == "R").alias("actual"),
        F.expr(_D45_PRED).alias("predicted"),
    )
    return binary_confusion_report(rated, "actual", "predicted")


D45_SQL = f"""
WITH rated AS (
  SELECT (l_returnflag = 'R') AS actual, ({_D45_PRED}) AS predicted
  FROM lineitem
),
cells AS (
  SELECT
    CAST(SUM(CASE WHEN COALESCE(actual, FALSE) AND COALESCE(predicted, FALSE)
             THEN 1 ELSE 0 END) AS HUGEINT) AS tp,
    CAST(SUM(CASE WHEN NOT COALESCE(actual, FALSE)
                   AND NOT COALESCE(predicted, FALSE)
             THEN 1 ELSE 0 END) AS HUGEINT) AS tn,
    CAST(SUM(CASE WHEN NOT COALESCE(actual, FALSE)
                   AND COALESCE(predicted, FALSE)
             THEN 1 ELSE 0 END) AS HUGEINT) AS fp,
    CAST(SUM(CASE WHEN COALESCE(actual, FALSE)
                   AND NOT COALESCE(predicted, FALSE)
             THEN 1 ELSE 0 END) AS HUGEINT) AS fn
  FROM rated
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(tn AS BIGINT) AS tn,
       CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
       CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
       CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
       CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) AS f1,
       CAST(tp * tn - fp * fn AS DOUBLE)
         / sqrt(CAST((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
                AS DOUBLE)) AS mcc
FROM cells
"""


QUERIES["d45_confusion_report"] = d45_confusion_report
ORACLES["d45_confusion_report"] = D45_SQL
