"""Round-7 catalog queries: classifier-audit statistics for training-data
pipelines — exact ROC-AUC, categorical independence (χ² + Cramér's V),
and score-calibration bins.

Why these belong in a 100 TB corpus engine: every serious pre-training
pipeline gates documents with learned classifiers (quality, toxicity,
language). The gate's *statistics* are what make it auditable — AUC of
the score against a trusted label slice, calibration of the score's
probability claim, and independence checks between categorical gate
outcomes and data sources (a gate correlated with source is a sampling
bias, not a filter). All three reduce to hash-aggs + the
range-partitioned cumulative, exact integers until final IEEE division
— oracled bit-for-bit (SURVEY.md §7.3 determinism contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.session import read_table

# ---------------------------------------------------------------------------
# D30 — exact ROC-AUC with tie correction over an embedding-derived
# score vs a binary label. The doubled-rank arithmetic is integer-exact;
# the single division certifies bit-for-bit (operators/stats.exact_auc,
# cumulative via the two-pass range-partitioned scan).
# ---------------------------------------------------------------------------


def d30_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.stats import exact_auc

    emb = read_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.element_at("embedding", 1).cast("double").alias("score"),
        (F.col("label") >= 5).alias("pos"),
    )
    return exact_auc(scored, "score", "pos")


D30_SQL = """
WITH per_value AS (
  SELECT CAST(embedding[1] AS DOUBLE) AS s,
         CAST(count(*) FILTER (WHERE label >= 5) AS BIGINT) AS cp,
         CAST(count(*) FILTER (WHERE label < 5) AS BIGINT) AS cn
  FROM embeddings GROUP BY 1
),
cum AS (
  SELECT cp, cn, cp + cn AS m,
         SUM(cp + cn) OVER (ORDER BY s
                            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS C
  FROM per_value
),
agg AS (
  SELECT CAST(SUM(cp) AS BIGINT) AS n_pos,
         CAST(SUM(cn) AS BIGINT) AS n_neg,
         CAST(SUM(cp * (2 * C - m + 1)) AS BIGINT) AS r2p
  FROM cum
)
SELECT n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN CAST(r2p - n_pos * (n_pos + 1) AS DOUBLE)
                 / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
       END AS auc
FROM agg
"""


# ---------------------------------------------------------------------------
# D31 — χ² independence test + Cramér's V between two categoricals
# (order priority × order status): the gate-vs-source bias audit shape.
# Observed counts are exact integers; each cell's χ² term is an
# identical IEEE expression in both engines (mul/div only), and the
# cross-cell SUM — where float addition order would differ between
# engines/partitionings — goes through the m56 fixed-point idiom:
# floor(term·1e9) is an exact integer per cell, integer sums commute,
# and the statistic carries 1e-9 quantization (documented, far below
# any test's decision resolution). Final Cramér's V uses
# correctly-rounded sqrt (the certified d28 z-score stance). The cell
# relation is category-cardinality-bounded (15 rows here), so the
# window totals are broadcast-class work at any data scale; only the
# one observed-count hash-agg touches rows.
# ---------------------------------------------------------------------------


def d31_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    obs = orders.groupBy(
        F.col("o_orderpriority").alias("a"), F.col("o_orderstatus").alias("b")
    ).agg(F.count(F.lit(1)).alias("n_obs"))
    wr = Window.partitionBy("a")
    wc = Window.partitionBy("b")
    wt = Window.partitionBy()
    cells = obs.select(
        "a",
        "b",
        "n_obs",
        F.sum("n_obs").over(wr).alias("row_tot"),
        F.sum("n_obs").over(wc).alias("col_tot"),
        F.sum("n_obs").over(wt).alias("n"),
    )
    expected = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("n").cast("double")
    )
    term = (F.col("n_obs").cast("double") - expected) * (
        F.col("n_obs").cast("double") - expected
    ) / expected
    dims = cells.agg(
        F.count_distinct("a").alias("n_rows_dim"),
        F.count_distinct("b").alias("n_cols_dim"),
        F.sum(F.floor(term * F.lit(1e9)).cast("long")).alias("chi2_nano"),
        F.max("n").alias("n"),
    )
    chi2 = F.col("chi2_nano").cast("double") / F.lit(1e9)
    k = F.least(F.col("n_rows_dim"), F.col("n_cols_dim")) - 1
    dof = (F.col("n_rows_dim") - 1) * (F.col("n_cols_dim") - 1)
    return dims.select(
        F.col("n").cast("long").alias("n"),
        dof.cast("long").alias("dof"),
        chi2.alias("chi2"),
        F.sqrt(
            chi2 / (F.col("n").cast("double") * k.cast("double"))
        ).alias("cramers_v"),
    )


D31_SQL = """
WITH obs AS (
  SELECT o_orderpriority AS a, o_orderstatus AS b,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM orders GROUP BY 1, 2
),
cells AS (
  SELECT a, b, n_obs,
         SUM(n_obs) OVER (PARTITION BY a) AS row_tot,
         SUM(n_obs) OVER (PARTITION BY b) AS col_tot,
         SUM(n_obs) OVER () AS n
  FROM obs
),
terms AS (
  SELECT a, b, n,
         (CAST(n_obs AS DOUBLE)
          - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
            / CAST(n AS DOUBLE))
         * (CAST(n_obs AS DOUBLE)
            - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
              / CAST(n AS DOUBLE))
         / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
            / CAST(n AS DOUBLE)) AS term
  FROM cells
),
dims AS (
  SELECT count(DISTINCT a) AS n_rows_dim,
         count(DISTINCT b) AS n_cols_dim,
         CAST(SUM(CAST(floor(term * 1e9) AS BIGINT)) AS BIGINT) AS chi2_nano,
         MAX(n) AS n
  FROM terms
)
SELECT CAST(n AS BIGINT) AS n,
       CAST((n_rows_dim - 1) * (n_cols_dim - 1) AS BIGINT) AS dof,
       CAST(chi2_nano AS DOUBLE) / 1e9 AS chi2,
       sqrt((CAST(chi2_nano AS DOUBLE) / 1e9)
            / (CAST(n AS DOUBLE)
               * CAST(least(n_rows_dim, n_cols_dim) - 1 AS DOUBLE)))
         AS cramers_v
FROM dims
"""


# ---------------------------------------------------------------------------
# D32 — score-calibration (reliability) bins: does a score's magnitude
# track the positive rate? Bin membership uses the literal-cut indicator
# sum (the dq8 pattern — no double→int casts, which round in DuckDB but
# truncate in Spark), per-bin positives/counts are exact integers, and
# the only doubles are one ratio plus min/max order statistics (exact —
# no float SUM crosses the oracle surface).
# ---------------------------------------------------------------------------

#: Fixed calibration cut points covering the fixture score domain
#: (embedding components live in ~[-0.4, 0.4]); out-of-range scores fall
#: into the open end bins.
D32_CUTS = tuple(round(-0.4 + 0.08 * i, 2) for i in range(1, 10))


def d32_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    s = F.element_at("embedding", 1).cast("double")
    bin_expr = None
    for c in D32_CUTS:
        ind = F.when(F.lit(float(c)) < s, 1).otherwise(0)
        bin_expr = ind if bin_expr is None else bin_expr + ind
    binned = emb.select(
        bin_expr.alias("bin"),
        s.alias("score"),
        (F.col("label") >= 5).alias("pos"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("long").alias(
                "n_pos"
            ),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .select(
            F.col("bin").cast("int").alias("bin"),
            "n",
            "n_pos",
            (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
                "frac_pos"
            ),
            "min_score",
            "max_score",
        )
        .orderBy("bin")
    )


_D32_BIN_SQL = " + ".join(
    f"(CASE WHEN {c!r} < s THEN 1 ELSE 0 END)" for c in D32_CUTS
)

D32_SQL = f"""
WITH scored AS (
  SELECT CAST(embedding[1] AS DOUBLE) AS s, label >= 5 AS pos
  FROM embeddings
),
binned AS (
  SELECT CAST({_D32_BIN_SQL} AS INTEGER) AS bin, s, pos FROM scored
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) FILTER (WHERE pos) AS BIGINT) AS n_pos,
       CAST(count(*) FILTER (WHERE pos) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS frac_pos,
       MIN(s) AS min_score,
       MAX(s) AS max_score
FROM binned
GROUP BY bin
ORDER BY bin
"""


QUERIES = {
    "d30_auc_exact": d30_auc_exact,
    "d31_chi2_independence": d31_chi2_independence,
    "d32_calibration_bins": d32_calibration_bins,
}

ORACLES = {
    "d30_auc_exact": D30_SQL,
    "d31_chi2_independence": D31_SQL,
    "d32_calibration_bins": D32_SQL,
}


# ---------------------------------------------------------------------------
# D33 — exact Kendall τ-b between quantity and line number: the
# cell-grid formulation (operators/stats.kendall_tau) keeps the
# quadratic term at |cells|² (≤ 350² here), never rows². DECIMAL pair
# masses, one final sqrt/division. The oracle computes the same grid
# with explicit SQL joins.
# ---------------------------------------------------------------------------


def d33_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.stats import kendall_tau

    li = read_table(spark, sf_dir, "lineitem")
    return kendall_tau(li, "l_quantity", "l_linenumber")


D33_SQL = """
WITH cells AS (
  SELECT CAST(l_quantity AS DOUBLE) AS x, CAST(l_linenumber AS DOUBLE) AS y,
         CAST(count(*) AS BIGINT) AS nc
  FROM lineitem GROUP BY 1, 2
),
cd AS (
  SELECT
    SUM(CASE WHEN a.y < b.y
             THEN CAST(a.nc AS HUGEINT) * CAST(b.nc AS HUGEINT) END) AS C,
    SUM(CASE WHEN a.y > b.y
             THEN CAST(a.nc AS HUGEINT) * CAST(b.nc AS HUGEINT) END) AS D
  FROM cells a JOIN cells b ON a.x < b.x
),
tx AS (SELECT SUM(CAST(t AS HUGEINT) * (t - 1)) / 2 AS n1
       FROM (SELECT SUM(nc) AS t FROM cells GROUP BY x)),
ty AS (SELECT SUM(CAST(t AS HUGEINT) * (t - 1)) / 2 AS n2
       FROM (SELECT SUM(nc) AS t FROM cells GROUP BY y)),
tot AS (SELECT SUM(nc) AS n,
               CAST(SUM(nc) AS HUGEINT) * (SUM(nc) - 1) / 2 AS n0
        FROM cells)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST(coalesce(C, 0) AS DOUBLE) AS concordant,
       CAST(coalesce(D, 0) AS DOUBLE) AS discordant,
       CASE WHEN (CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)) > 0
            THEN CAST(coalesce(C, 0) - coalesce(D, 0) AS DOUBLE)
                 / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))
       END AS kendall_tau_b
FROM cd, tx, ty, tot
"""


# ---------------------------------------------------------------------------
# D34 — per-group OLS trend lines over the monthly revenue series:
# slope / intercept / R² from exact DECIMAL moments (Σx, Σy, Σxy, Σx²,
# Σy²) at (flag, month-index) grain — x is months-since-epoch (exact
# int), y is revenue cents (exact int) — so every engine-crossing
# number is either an exact integer or one identical IEEE rational.
# The monthly pre-agg is the only row-shaped shuffle; the moment
# reduce is group-cardinality-sized.
# ---------------------------------------------------------------------------


def d34_trend_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias("mx"),
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
            "cents"
        )
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mom = monthly.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum(d(F.col("mx"))).alias("sx"),
        F.sum(d(F.col("cents"))).alias("sy"),
        F.sum(d(F.col("mx")) * d(F.col("cents"))).alias("sxy"),
        F.sum(d(F.col("mx")) * d(F.col("mx"))).alias("sxx"),
        F.sum(d(F.col("cents")) * d(F.col("cents"))).alias("syy"),
    )
    n = F.col("n_months").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return mom.select(
        "flag",
        "n_months",
        F.when(var_x > 0, slope).alias("slope_cents_per_month"),
        F.when(var_x > 0, (sy - slope * sx) / n).alias("intercept_cents"),
        F.when(
            (var_x > 0) & (var_y > 0), cov_n * cov_n / (var_x * var_y)
        ).alias("r2"),
    ).orderBy("flag")


D34_SQL = """
WITH monthly AS (
  SELECT l_returnflag AS flag,
         year(l_shipdate) * 12 + month(l_shipdate) - 1 AS mx,
         SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS cents
  FROM lineitem GROUP BY 1, 2
),
mom AS (
  SELECT flag,
         CAST(count(*) AS BIGINT) AS n_months,
         SUM(CAST(mx AS HUGEINT)) AS sx,
         SUM(CAST(cents AS HUGEINT)) AS sy,
         SUM(CAST(mx AS HUGEINT) * cents) AS sxy,
         SUM(CAST(mx AS HUGEINT) * mx) AS sxx,
         SUM(CAST(cents AS HUGEINT) * cents) AS syy
  FROM monthly GROUP BY 1
)
SELECT flag, n_months,
       CASE WHEN CAST(n_months AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
            THEN (CAST(n_months AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n_months AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       END AS slope_cents_per_month,
       CASE WHEN CAST(n_months AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
            THEN (CAST(sy AS DOUBLE)
                  - ((CAST(n_months AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n_months AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE))
                 / CAST(n_months AS DOUBLE)
       END AS intercept_cents,
       CASE WHEN (CAST(n_months AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
             AND (CAST(n_months AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN (CAST(n_months AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (CAST(n_months AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / ((CAST(n_months AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n_months AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS r2
FROM mom
ORDER BY flag
"""


# ---------------------------------------------------------------------------
# M59 — reciprocal-rank fusion of two exact retrieval channels (cosine
# and raw dot-product rankings over the embedding corpus): only RANKS
# cross channels, so the fusion is deterministic rational arithmetic
# regardless of score scales — the multi-channel retrieval shape
# (dense + lexical + LSH probes) a corpus search stack actually runs.
# Oracle recomputes both rankings and the fusion in SQL.
# ---------------------------------------------------------------------------

_M59_NQ, _M59_KIN, _M59_KOUT, _M59_C = 10, 20, 10, 60


def m59_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        brute_force_topk,
        rrf_fuse,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _M59_NQ)
    by_cos = brute_force_topk(emb, queries, k=_M59_KIN, metric="cosine")
    by_dot = brute_force_topk(emb, queries, k=_M59_KIN, metric="dot")
    return rrf_fuse([by_cos, by_dot], k=_M59_KOUT, c=_M59_C).orderBy(
        "query_id", "rank"
    )


M59_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {_M59_NQ}
),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
           AS cos_score,
         list_dot_product(qv, cv) AS dot_score
  FROM c, q WHERE query_id <> neighbor_id
),
rc AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_score DESC, neighbor_id ASC) AS r
  FROM scored QUALIFY r <= {_M59_KIN}
),
rd AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dot_score DESC, neighbor_id ASC) AS r
  FROM scored QUALIFY r <= {_M59_KIN}
),
fused AS (
  SELECT coalesce(rc.query_id, rd.query_id) AS query_id,
         coalesce(rc.neighbor_id, rd.neighbor_id) AS neighbor_id,
         coalesce(1.0 / ({_M59_C} + CAST(rc.r AS DOUBLE)), 0.0)
         + coalesce(1.0 / ({_M59_C} + CAST(rd.r AS DOUBLE)), 0.0) AS rrf_score
  FROM rc FULL JOIN rd USING (query_id, neighbor_id)
)
SELECT query_id, neighbor_id, rrf_score,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, neighbor_id ASC)
            AS INT) AS rank
FROM fused
QUALIFY rank <= {_M59_KOUT}
ORDER BY query_id, rank
"""


QUERIES["d33_kendall_tau"] = d33_kendall_tau
ORACLES["d33_kendall_tau"] = D33_SQL
QUERIES["d34_trend_lines"] = d34_trend_lines
ORACLES["d34_trend_lines"] = D34_SQL
QUERIES["m59_rank_fusion"] = m59_rank_fusion
ORACLES["m59_rank_fusion"] = M59_SQL


# ---------------------------------------------------------------------------
# M60 — positional boilerplate scrub (RefinedWeb-style): remove every
# token position covered by a corpus-frequent trigram occurrence, and
# report the per-document scrub accounting plus a content hash of the
# cleaned text. Two corpus passes: trigram document-frequency (hash-agg
# at trigram grain), then per-doc positional cover/reassembly — arrays
# and windows bounded by DOCUMENT length, never corpus length; the
# frequent set is vocabulary-sized (broadcast). md5 of the reassembled
# text certifies the scrub byte-for-byte against the oracle.
# ---------------------------------------------------------------------------

_M60_MIN_DF = 4


def m60_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens("text").alias("t"))
    # Trigrams via slice-zip, NOT per-index element_at: array indexing in
    # a transform lambda is O(len) per access → O(len²) per document of
    # interpreted expression eval (measured 39 s at sf0.1 before this
    # rewrite); zipping three shifted slices is O(len).
    n_tri = F.size("t") - 2
    zipped = F.arrays_zip(
        F.slice(F.col("t"), 1, n_tri).alias("w1"),
        F.slice(F.col("t"), 2, n_tri).alias("w2"),
        F.slice(F.col("t"), 3, n_tri).alias("w3"),
    )
    tri = base.where(F.size("t") >= 3).select(
        "doc_id", F.posexplode(zipped).alias("start0", "z")
    )
    occ = tri.select(
        "doc_id",
        (F.col("start0") + 1).alias("start"),
        F.concat_ws(" ", F.col("z.w1"), F.col("z.w2"), F.col("z.w3")).alias("g"),
    )
    frequent = (
        occ.select("doc_id", "g")
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= _M60_MIN_DF)
        .select("g")
    )
    # Row-local excision (optimization r15, guide §2.3 — the same move
    # r14 made for excise_repeated_spans): the OLD shape exploded every
    # token to (doc, pos, tok) rows, anti-joined an exploded position
    # cover and reassembled text via sort_array(collect_list) — three
    # token-grain exchanges whose shuffle volume grew with corpus TEXT
    # (×10 sweep ratio 5.4, the worst superlinear untouched query).
    # Only the frequent-occurrence START positions shuffle now (span
    # metadata), MERGED into disjoint intervals first by
    # operators.dedup._merge_islands (boilerplate starts overlap
    # heavily — an unmerged exists() over raw starts was measured 7%
    # SLOWER than the old shape). The excision and reassembly then run
    # row-locally through operators.dedup._excise_spans, so order is
    # positional by construction (no sort, no collect_list, no
    # token-grain join).
    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        _excise_spans,
        _merge_islands,
    )

    hits = occ.join(F.broadcast(frequent), "g").select(
        "doc_id", F.col("start").alias("s"), (F.col("start") + 3).alias("e")
    )
    spans = (
        _merge_islands(hits)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("span_start", "span_end")).alias("__sp"))
    )
    kept_arr = _excise_spans(F.col("t"), F.col("__sp"))
    return (
        base.join(spans, "doc_id", "left")
        .withColumn("__kept", kept_arr)
        .select(
            "doc_id",
            F.size("t").alias("n_tokens"),
            F.coalesce(F.size("__kept").cast("long"), F.lit(0).cast("long"))
            .alias("n_kept"),
            F.md5(F.coalesce(F.array_join("__kept", " "), F.lit("")))
            .alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )


M60_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x <> '') AS t
  FROM documents
),
occ AS (
  SELECT doc_id,
         unnest(range(1, len(t) - 1)) AS start,
         unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                 for i in range(1, len(t) - 1)]) AS g
  FROM base WHERE len(t) >= 3
),
frequent AS (
  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM occ GROUP BY g)
  WHERE df >= {_M60_MIN_DF}
),
covered AS (
  SELECT DISTINCT occ.doc_id, occ.start + d AS pos
  FROM occ JOIN frequent USING (g), unnest([0, 1, 2]) AS u(d)
),
toks AS (
  SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t) + 1)) AS pos
  FROM base
),
kept AS (
  SELECT toks.* FROM toks
  ANTI JOIN covered ON toks.doc_id = covered.doc_id AND toks.pos = covered.pos
),
cleaned AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS cleaned
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.t) AS BIGINT) AS n_tokens,
       coalesce(c.n_kept, 0) AS n_kept,
       md5(coalesce(c.cleaned, '')) AS cleaned_md5
FROM base b LEFT JOIN cleaned c USING (doc_id)
ORDER BY b.doc_id
"""


# ---------------------------------------------------------------------------
# D35 — monthly drift matrix: every ship-month's price distribution
# scored against the GLOBAL decile bins with the χ²-style statistic —
# dq8's two-slice report generalized to the calendar, the view a data
# engineer actually pages through ("which month moved?"). One global
# cut fit (exact percentile, the d11 interpolation-parity pattern), one
# (month, bin) hash-agg, then per-month fixed-point χ² via the m56
# floor(x·1e9) idiom so no float sum crosses engines.
# ---------------------------------------------------------------------------

_D35_BINS = 10


def d35_monthly_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.stats import (
        fit_quantile_cuts,
    )

    li = read_table(spark, sf_dir, "lineitem").select(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("yyyymm"),
        F.col("l_extendedprice").cast("double").alias("x"),
    )
    # NOTE (optimization r15, guide §1): folding the cut fit into the
    # binning job as a 1-row broadcast cut frame with a
    # size(filter(cuts, c -> c < x)) bin was measured at ×10 and
    # REJECTED — 6.7 s vs 4.6 s same-session A/B: the per-row
    # higher-order filter over the broadcast array is interpreted,
    # while the collected cuts inline as 9 codegen'd literal
    # comparisons; the saved driver round-trip is worth far less than
    # the lost codegen. The two-action shape stays.
    cut_vals = fit_quantile_cuts(li, "x", _D35_BINS)
    bin_expr = None
    for v in cut_vals:
        ind = F.when(F.lit(float(v)) < F.col("x"), 1).otherwise(0)
        bin_expr = ind if bin_expr is None else bin_expr + ind
    per = li.select("yyyymm", bin_expr.alias("bin")).groupBy("yyyymm", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    glob = per.groupBy("bin").agg(F.sum("n").alias("n_glob"))
    month_tot = per.groupBy("yyyymm").agg(F.sum("n").alias("n_month"))
    n_all = glob.agg(F.sum("n_glob").alias("n_all"))
    joined = (
        per.join(F.broadcast(glob), "bin")
        .join(F.broadcast(month_tot), "yyyymm")
        .crossJoin(F.broadcast(n_all))
    )
    p = (F.col("n_glob") + F.lit(1)).cast("double") / (
        F.col("n_all") + F.lit(_D35_BINS)
    ).cast("double")
    q = (F.col("n") + F.lit(1)).cast("double") / (
        F.col("n_month") + F.lit(_D35_BINS)
    ).cast("double")
    term = (p - q) * (p - q) / p
    return (
        joined.select(
            "yyyymm",
            "n_month",
            F.floor(term * F.lit(1e9)).cast("long").alias("term_nano"),
        )
        .groupBy("yyyymm", "n_month")
        .agg(
            (F.sum("term_nano").cast("double") / F.lit(1e9)).alias("drift_chi2")
        )
        .select("yyyymm", F.col("n_month").cast("long").alias("n_rows"), "drift_chi2")
        .orderBy("yyyymm")
    )


_D35_QUANTS = ", ".join(
    f"quantile_cont(x, {i / _D35_BINS})" for i in range(1, _D35_BINS)
)

D35_SQL = f"""
WITH rows_ AS (
  SELECT year(l_shipdate) * 100 + month(l_shipdate) AS yyyymm,
         CAST(l_extendedprice AS DOUBLE) AS x
  FROM lineitem
),
cuts AS (SELECT unnest([{_D35_QUANTS}]) AS cut FROM rows_),
xv AS (SELECT yyyymm, x, COUNT(*) AS n FROM rows_ GROUP BY 1, 2),
xb AS (
  SELECT yyyymm, x, n,
         SUM(CASE WHEN c.cut < xv.x THEN 1 ELSE 0 END) AS bin
  FROM xv CROSS JOIN cuts c GROUP BY yyyymm, x, n
),
per AS (SELECT yyyymm, bin, CAST(SUM(n) AS BIGINT) AS n FROM xb GROUP BY 1, 2),
gbin AS (SELECT bin, CAST(SUM(n) AS BIGINT) AS n_glob FROM per GROUP BY 1),
mt AS (SELECT yyyymm, CAST(SUM(n) AS BIGINT) AS n_month FROM per GROUP BY 1),
na AS (SELECT CAST(SUM(n_glob) AS BIGINT) AS n_all FROM gbin),
terms AS (
  SELECT yyyymm, n_month,
         CAST(floor(
           (CAST(n_glob + 1 AS DOUBLE) / CAST(n_all + {_D35_BINS} AS DOUBLE)
            - CAST(per.n + 1 AS DOUBLE) / CAST(n_month + {_D35_BINS} AS DOUBLE))
           * (CAST(n_glob + 1 AS DOUBLE) / CAST(n_all + {_D35_BINS} AS DOUBLE)
              - CAST(per.n + 1 AS DOUBLE) / CAST(n_month + {_D35_BINS} AS DOUBLE))
           / (CAST(n_glob + 1 AS DOUBLE) / CAST(n_all + {_D35_BINS} AS DOUBLE))
           * 1e9) AS BIGINT) AS term_nano
  FROM per JOIN gbin USING (bin) JOIN mt USING (yyyymm) CROSS JOIN na
)
SELECT yyyymm,
       n_month AS n_rows,
       CAST(SUM(term_nano) AS DOUBLE) / 1e9 AS drift_chi2
FROM terms
GROUP BY yyyymm, n_month
ORDER BY yyyymm
"""


QUERIES["m60_boilerplate_scrub"] = m60_boilerplate_scrub
ORACLES["m60_boilerplate_scrub"] = M60_SQL
QUERIES["d35_monthly_drift"] = d35_monthly_drift
ORACLES["d35_monthly_drift"] = D35_SQL


# ---------------------------------------------------------------------------
# D36 — precision–recall AUC (trapezoidal over score tie groups): the
# imbalanced-gate complement to d30's ROC-AUC — on a 5%-positive
# quality gate, ROC can look excellent while PR collapses. Exact
# integer cumulative counts via the two-pass cumulative; per-group
# trapezoid terms are identical IEEE expressions; the cross-group sum
# rides the fixed-point floor(term·1e12) idiom.
# ---------------------------------------------------------------------------


def d36_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.stats import pr_auc_trapezoid

    emb = read_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.element_at("embedding", 1).cast("double").alias("score"),
        (F.col("label") >= 8).alias("pos"),  # ~20% positives: imbalanced
    )
    return pr_auc_trapezoid(scored, "score", "pos")


D36_SQL = """
WITH per_value AS (
  SELECT CAST(embedding[1] AS DOUBLE) AS s,
         CAST(count(*) FILTER (WHERE label >= 8) AS BIGINT) AS cp,
         CAST(count(*) FILTER (WHERE label < 8) AS BIGINT) AS cn
  FROM embeddings GROUP BY 1
),
cum AS (
  SELECT cp, cn,
         SUM(cp) OVER (ORDER BY s DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_p,
         SUM(cn) OVER (ORDER BY s DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_n
  FROM per_value
),
tot AS (
  SELECT CAST(SUM(cp) AS BIGINT) AS n_pos, CAST(SUM(cn) AS BIGINT) AS n_neg
  FROM per_value
),
terms AS (
  SELECT n_pos, n_neg,
         CAST(floor(
           CASE WHEN n_pos > 0 THEN
             (CAST(cum_p AS DOUBLE) / CAST(n_pos AS DOUBLE)
              - CAST(cum_p - cp AS DOUBLE) / CAST(n_pos AS DOUBLE))
             * (CAST(cum_p AS DOUBLE) / CAST(cum_p + cum_n AS DOUBLE)
                + CASE WHEN (cum_p - cp) + (cum_n - cn) > 0
                       THEN CAST(cum_p - cp AS DOUBLE)
                            / CAST((cum_p - cp) + (cum_n - cn) AS DOUBLE)
                       ELSE 1.0 END)
             / 2.0
           ELSE 0.0 END * 1e12) AS BIGINT) AS term_pico
  FROM cum CROSS JOIN tot
)
SELECT n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN CAST(SUM(term_pico) AS DOUBLE) / 1e12
       END AS pr_auc
FROM terms GROUP BY n_pos, n_neg
"""


# ---------------------------------------------------------------------------
# D37 — expected calibration error over d32's reliability bins:
# ECE = Σ_b (n_b/n)·|frac_pos_b − mean_score_b|. Mean scores are exact
# by quantization (per-row floor(s·1e9) is an exact integer, integer
# sums commute — no float SUM crosses partitions or engines); the
# 10-term cross-bin sum rides the same fixed-point idiom. The one
# number a "my quality score is a probability" claim must survive.
# Scores are shifted to [0, 1] (s+0.5 on the ~[-0.4, 0.4] fixture
# domain) so the calibration claim is well-posed.
# ---------------------------------------------------------------------------


#: Decile cut points, defined ONCE and repr-interpolated into both
#: engines (the D32 idiom): `0.1 * i` accumulates one-ulp drift
#: (0.30000000000000004 ≠ 0.3), splitting bin assignment for scores
#: exactly on a boundary (ADVICE r07). `i / 10` is correctly rounded.
D37_CUTS = tuple(i / 10 for i in range(1, 10))


def d37_expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    s = F.element_at("embedding", 1).cast("double") + F.lit(0.5)
    bin_expr = None
    for c in D37_CUTS:
        ind = F.when(F.lit(float(c)) < s, 1).otherwise(0)
        bin_expr = ind if bin_expr is None else bin_expr + ind
    binned = emb.select(
        bin_expr.alias("bin"),
        F.floor(s * F.lit(1e9)).cast("long").alias("s_nano"),
        (F.col("label") >= 5).alias("pos"),
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum("s_nano").alias("sum_nano"),
    )
    n_tot = bins.agg(F.sum("n").alias("n_all"))
    frac = F.col("n_pos").cast("double") / F.col("n").cast("double")
    mean_s = F.col("sum_nano").cast("double") / F.lit(1e9) / F.col("n").cast("double")
    term = (
        F.abs(frac - mean_s)
        * F.col("n").cast("double")
        / F.col("n_all").cast("double")
    )
    return (
        bins.crossJoin(F.broadcast(n_tot))
        .select(
            "n_all",
            F.floor(term * F.lit(1e12)).cast("long").alias("term_pico"),
        )
        .groupBy("n_all")
        .agg((F.sum("term_pico").cast("double") / F.lit(1e12)).alias("ece"))
        .select(F.col("n_all").cast("long").alias("n_rows"), "ece")
    )


_D37_BIN_SQL = " + ".join(
    f"(CASE WHEN {c!r} < s THEN 1 ELSE 0 END)" for c in D37_CUTS
)

D37_SQL = f"""
WITH scored AS (
  SELECT CAST(embedding[1] AS DOUBLE) + 0.5 AS s, label >= 5 AS pos
  FROM embeddings
),
binned AS (
  SELECT {_D37_BIN_SQL} AS bin,
       CAST(floor(s * 1e9) AS BIGINT) AS s_nano, pos
  FROM scored
),
bins AS (
  SELECT bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE pos) AS BIGINT) AS n_pos,
         CAST(SUM(s_nano) AS BIGINT) AS sum_nano
  FROM binned GROUP BY bin
),
na AS (SELECT CAST(SUM(n) AS BIGINT) AS n_all FROM bins),
terms AS (
  SELECT n_all,
         CAST(floor(
           abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
               - CAST(sum_nano AS DOUBLE) / 1e9 / CAST(n AS DOUBLE))
           * CAST(n AS DOUBLE) / CAST(n_all AS DOUBLE)
           * 1e12) AS BIGINT) AS term_pico
  FROM bins CROSS JOIN na
)
SELECT n_all AS n_rows,
       CAST(SUM(term_pico) AS DOUBLE) / 1e12 AS ece
FROM terms GROUP BY n_all
"""


QUERIES["d36_pr_auc"] = d36_pr_auc
ORACLES["d36_pr_auc"] = D36_SQL
QUERIES["d37_expected_calibration_error"] = d37_expected_calibration_error
ORACLES["d37_expected_calibration_error"] = D37_SQL


# ---------------------------------------------------------------------------
# W12 — distributed global ranking of RAW rows by price (desc) with a
# running revenue share: the textbook "rank every row in the table"
# query that a single-partition window serializes and the two-pass
# bucketed cumulative keeps distributed — deliberately run at raw-row
# grain on a near-unique measure, the adversarial regime, as the
# operator's standing demonstration. Unique (price desc, orderkey,
# linenumber) ordering makes every output value deterministic; the
# revenue cumulative is exact cents.
# ---------------------------------------------------------------------------


def w12_distributed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.cumulative import (
        partitioned_cumulative,
    )

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").cast("double").alias("price"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("__cents"),
    )
    ranked = partitioned_cumulative(
        li,
        [],
        "price",
        sums={"cum_cents": "__cents"},
        row_number_col="rnk",
        descending=True,
        tiebreak=["l_orderkey", "l_linenumber"],
    )
    total = li.agg(F.sum("__cents").alias("__tot"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "l_orderkey",
            "l_linenumber",
            "price",
            "rnk",
            F.col("cum_cents").alias("cum_cents"),
            (
                F.col("cum_cents").cast("double") / F.col("__tot").cast("double")
            ).alias("revenue_share"),
        )
        .orderBy("rnk")
    )


W12_SQL = """
WITH base AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_extendedprice AS DOUBLE) AS price,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
  FROM lineitem
),
ranked AS (
  SELECT l_orderkey, l_linenumber, price,
         CAST(row_number() OVER w AS BIGINT) AS rnk,
         CAST(SUM(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cum_cents
  FROM base
  WINDOW w AS (ORDER BY price DESC, l_orderkey, l_linenumber)
),
tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM base)
SELECT l_orderkey, l_linenumber, price, rnk, cum_cents,
       CAST(cum_cents AS DOUBLE) / CAST(t AS DOUBLE) AS revenue_share
FROM ranked CROSS JOIN tot
ORDER BY rnk
"""


QUERIES["w12_distributed_rank"] = w12_distributed_rank
ORACLES["w12_distributed_rank"] = W12_SQL


# ---------------------------------------------------------------------------
# D38 — winsorized mean revenue per return flag: the robust mean for
# heavy-tailed measures (caps outlier leverage, keeps tail mass).
# Bounds are nearest-rank order statistics — actual data values via the
# crossing test over the value-grain cumulative — so clamped sums stay
# exact DECIMAL and only the final mean divides in double.
# ---------------------------------------------------------------------------


def d38_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.stats import winsorized_mean

    li = read_table(spark, sf_dir, "lineitem")
    return winsorized_mean(
        li,
        ["l_returnflag"],
        F.round(F.col("l_extendedprice") * 100, 0).cast("long"),
    ).orderBy("l_returnflag")


D38_SQL = """
WITH per_value AS (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT g, v, c,
         SUM(c) OVER (PARTITION BY g ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
         SUM(c) OVER (PARTITION BY g) AS n
  FROM per_value
),
bounds AS (
  SELECT g,
         MIN(CASE WHEN cm >= CAST(ceil(0.05 * n) AS BIGINT) THEN v END) AS lo,
         MIN(CASE WHEN cm >= CAST(ceil(0.95 * n) AS BIGINT) THEN v END) AS hi,
         MAX(n) AS n_rows
  FROM cum GROUP BY g
),
agg AS (
  SELECT p.g, b.lo, b.hi, b.n_rows,
         SUM(CAST(greatest(least(p.v, b.hi), b.lo) AS HUGEINT) * p.c) AS ws,
         SUM(CAST(p.v AS HUGEINT) * p.c) AS rs
  FROM per_value p JOIN bounds b ON p.g = b.g
  GROUP BY p.g, b.lo, b.hi, b.n_rows
)
SELECT g AS l_returnflag,
       CAST(n_rows AS BIGINT) AS n_rows,
       lo AS lo_cents,
       hi AS hi_cents,
       CAST(ws AS DOUBLE) / CAST(n_rows AS DOUBLE) AS winsorized_mean_cents,
       CAST(rs AS DOUBLE) / CAST(n_rows AS DOUBLE) AS raw_mean_cents
FROM agg
ORDER BY l_returnflag
"""


QUERIES["d38_winsorized_mean"] = d38_winsorized_mean
ORACLES["d38_winsorized_mean"] = D38_SQL


# ---------------------------------------------------------------------------
# D39 — lag-1 autocorrelation of the monthly revenue series per return
# flag: the seasonality/momentum probe completing the time-series
# battery (d34 trend, d18 EMA, d13 WMA). The lagged pairing is an
# equi-join on consecutive month indexes (no window at all), and the
# correlation is Pearson over exact DECIMAL moments of the paired
# (y_t, y_{t−1}) set — the certified d9/grouped_correlation idiom, so
# the statistic is bit-reproducible cross-engine.
# ---------------------------------------------------------------------------


def d39_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias("mx"),
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
            "cents"
        )
    )
    cur = monthly.select("flag", "mx", F.col("cents").alias("y"))
    prev = monthly.select(
        "flag", (F.col("mx") + 1).alias("mx"), F.col("cents").alias("x")
    )
    pairs = cur.join(prev, ["flag", "mx"])
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mom = pairs.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(d(F.col("x"))).alias("sx"),
        F.sum(d(F.col("y"))).alias("sy"),
        F.sum(d(F.col("x")) * d(F.col("y"))).alias("sxy"),
        F.sum(d(F.col("x")) * d(F.col("x"))).alias("sxx"),
        F.sum(d(F.col("y")) * d(F.col("y"))).alias("syy"),
    )
    # cov/var numerators computed EXACTLY in decimal (n·Σxy − Σx·Σy fits
    # 38 digits at these magnitudes): a float a·b − c·d here is
    # contraction-sensitive — DuckDB's compiled expression may fuse a
    # multiply-add where the JVM (strict by spec) cannot, and the R-flag
    # series diverged in the last bits exactly that way. After the exact
    # subtraction, the only float ops are one multiply, one sqrt, one
    # divide — single correctly-rounded ops on both engines.
    nd = F.col("n_pairs").cast("decimal(19,0)")
    cov = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("decimal(38,0)")
    vx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("decimal(38,0)")
    vy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("decimal(38,0)")
    den = F.sqrt(vx.cast("double") * vy.cast("double"))
    return mom.select(
        "flag",
        "n_pairs",
        F.when((vx > 0) & (vy > 0), cov.cast("double") / den).alias("acf_lag1"),
    ).orderBy("flag")


D39_SQL = """
WITH monthly AS (
  SELECT l_returnflag AS flag,
         year(l_shipdate) * 12 + month(l_shipdate) - 1 AS mx,
         SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS cents
  FROM lineitem GROUP BY 1, 2
),
pairs AS (
  SELECT c.flag, c.cents AS y, p.cents AS x
  FROM monthly c JOIN monthly p ON c.flag = p.flag AND c.mx = p.mx + 1
),
mom AS (
  SELECT flag,
         CAST(count(*) AS BIGINT) AS n_pairs,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM pairs GROUP BY 1
)
SELECT flag, n_pairs,
       CASE WHEN (n_pairs * sxx - sx * sx) > 0 AND (n_pairs * syy - sy * sy) > 0
            THEN CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                        * CAST(n_pairs * syy - sy * sy AS DOUBLE))
       END AS acf_lag1
FROM mom
ORDER BY flag
"""


QUERIES["d39_autocorrelation"] = d39_autocorrelation
ORACLES["d39_autocorrelation"] = D39_SQL
