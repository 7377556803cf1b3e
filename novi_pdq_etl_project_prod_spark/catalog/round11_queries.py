"""Round-11 catalog additions.

M70 — the COMPOSED incremental-ingest funnel (VERDICT r10 #2): one
increment through expectations-quarantine → exact-dedup pre-filter →
MinHash near-dup vs the standing corpus → acceptance, certified END TO
END as a per-doc disposition report. The individually-oracled stages
(dq11 expectations, m69 exact increment, m66 near-dup increment) say
each piece is right; this query says the COMPOSITION is right — the
same claim m42 makes for the batch curation funnel, now for the ingest
pipeline that ``plans.ingest.run_incremental_ingest`` runs per trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.session import read_table as _t


# ---------------------------------------------------------------------------
# M70 — composed ingest funnel: standing corpus = even doc_ids,
# increment = odd doc_ids (the m66 split), quality rule = trimmed text
# length >= 100 chars. Output: (doc_id, disposition) for every
# increment doc — quarantined | exact_dup | near_dup | accepted.
# ---------------------------------------------------------------------------

_M70_RULES = {"min_len": "length(trim(text)) >= 100"}


def m70_ingest_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.plans.ingest import (
        ingest_disposition,
        ingest_increment_vs_standing,
    )

    docs = _t(spark, sf_dir, "documents")
    inc = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    standing = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    res = ingest_increment_vs_standing(inc, standing, _M70_RULES)
    return ingest_disposition(res).orderBy("doc_id")


# The oracle rebuilds the funnel in SQL over the same split: the
# quarantine predicate verbatim, the m69 exact-dedup pattern, then the
# m8 deterministic-minhash chain over standing ∪ exact-survivors
# filtered to increment-touching pairs (the engine never forms old×old;
# the oracle computes all pairs and filters — different path, same set),
# and the greedy canonical-first drop rule (both-new → larger id;
# new-old → the increment endpoint).
# The funnel CTE chain is shared by M70 (disposition report), M76 (the
# span stage over the funnel's accepted set) and — via the
# parameterized builder — m82's retraction variant (round 12): one
# definition so the oracles can never drift. The %2 endpoint tests in
# the pair CTEs require inc ⊆ odd ids and standing ⊆ even ids, which
# every caller preserves.


def funnel_ctes(inc_body: str, standing_body: str) -> str:
    """The m70 ingest-funnel oracle chain with pluggable increment /
    standing corpus CTE bodies (single-line SQL SELECTs)."""
    return f"""inc AS ({inc_body}),
standing AS ({standing_body}),
quar AS (
  SELECT doc_id FROM inc
  WHERE NOT coalesce(length(trim(text)) >= 100, FALSE)
),
valid AS (
  SELECT i.* FROM inc i
  WHERE i.doc_id NOT IN (SELECT doc_id FROM quar)
),
h_new AS (
  SELECT doc_id AS id, md5(text) AS h FROM valid WHERE text IS NOT NULL
),
old_min AS (
  SELECT md5(text) AS h, MIN(doc_id) AS old_min
  FROM standing WHERE text IS NOT NULL GROUP BY 1
),
new_min AS (SELECT h, MIN(id) AS new_min FROM h_new GROUP BY 1),
exact_dup AS (
  SELECT n.id AS doc_id
  FROM h_new n
  LEFT JOIN old_min o ON o.h = n.h
  JOIN new_min m ON m.h = n.h
  WHERE o.old_min IS NOT NULL OR n.id > m.new_min
),
surv AS (
  SELECT v.* FROM valid v
  WHERE v.doc_id NOT IN (SELECT doc_id FROM exact_dup)
),
corpus0 AS (
  SELECT doc_id, text FROM standing
  UNION ALL
  SELECT doc_id, text FROM surv
),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM corpus0
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
  FROM toks WHERE len(t) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh FROM idx
),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) % 2147483647 AS h
  FROM sh
),
coeff AS (
  SELECT i,
         CAST(('0x' || substr(md5('mh:a:' || CAST(i AS VARCHAR)), 1, 15))
              AS BIGINT) % 2147483646 + 1 AS a,
         CAST(('0x' || substr(md5('mh:b:' || CAST(i AS VARCHAR)), 1, 15))
              AS BIGINT) % 2147483647 AS b
  FROM range(64) r(i)
),
mins AS (
  SELECT doc_id, i, MIN((a * h + b) % 2147483647) AS m
  FROM hashed CROSS JOIN coeff GROUP BY 1, 2
),
sigs AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mins GROUP BY 1),
banded AS (
  SELECT doc_id, b,
         CAST(b AS VARCHAR) || ',' ||
         array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), ',') AS bk
  FROM sigs, range(16) r(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM banded a JOIN banded b2 ON a.bk = b2.bk AND a.doc_id < b2.doc_id
),
agree AS (
  SELECT id_a, id_b, SUM(CASE WHEN x = y THEN 1 ELSE 0 END) AS m
  FROM (
    SELECT c.id_a, c.id_b, unnest(sa.sig) AS x, unnest(sb.sig) AS y
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.id_a
    JOIN sigs sb ON sb.doc_id = c.id_b
  ) GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM agree
  WHERE CAST(m AS DOUBLE) / 64 >= 0.5
    AND (id_a % 2 = 1 OR id_b % 2 = 1)
),
near_drop AS (
  SELECT DISTINCT CASE WHEN id_a % 2 = 1 AND id_b % 2 = 1 THEN id_b
                       WHEN id_a % 2 = 1 THEN id_a
                       ELSE id_b END AS doc_id
  FROM pairs
)"""


_M70_FUNNEL_CTES = funnel_ctes(
    "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1",
    "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0",
)

M70_SQL = f"""
WITH {_M70_FUNNEL_CTES}
SELECT doc_id, disposition FROM (
  SELECT doc_id, 'quarantined' AS disposition FROM quar
  UNION ALL
  SELECT doc_id, 'exact_dup' FROM exact_dup
  UNION ALL
  SELECT doc_id, 'near_dup' FROM near_drop
  UNION ALL
  SELECT doc_id, 'accepted' FROM surv
  WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)
)
ORDER BY doc_id
"""


QUERIES = {"m70_ingest_funnel": m70_ingest_funnel}
ORACLES = {"m70_ingest_funnel": M70_SQL}


# ---------------------------------------------------------------------------
# M71 — long-substring dedup (Lee et al. 2022, VERDICT r10 #3): maximal
# token spans covered by 10-token runs repeating >= 2 times corpus-wide
# (cross-doc or within-doc), at k-gram-chain grain. The oracle rebuilds
# the same chain: positional k-gram md5s, repeat filter, gaps-and-
# islands interval merge — exact span set, both engines.
# ---------------------------------------------------------------------------

_M71_K = 10
_M71_MIN_COUNT = 2


def m71_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        repeated_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    return repeated_spans(
        docs, k=_M71_K, min_count=_M71_MIN_COUNT
    ).orderBy("doc_id", "span_start")


M71_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
),
g AS (
  SELECT doc_id, i AS s,
         md5(array_to_string(list_slice(t, i, i + {_M71_K} - 1), ' ')) AS gh
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {_M71_K} + 1)) AS i
        FROM toks WHERE len(t) >= {_M71_K})
),
rep AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= {_M71_MIN_COUNT}),
marks AS (SELECT doc_id, s, s + {_M71_K} AS e FROM g JOIN rep USING (gh)),
isl AS (
  SELECT doc_id, s, e,
         CASE WHEN s > coalesce(MAX(e) OVER (PARTITION BY doc_id ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS brk
  FROM marks),
grp AS (
  SELECT doc_id, s, e,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS UNBOUNDED PRECEDING) AS isl
  FROM isl)
SELECT doc_id,
       CAST(MIN(s) AS INT) AS span_start,
       CAST(MAX(e) AS INT) AS span_end,
       CAST(MAX(e) - MIN(s) AS BIGINT) AS span_tokens
FROM grp GROUP BY doc_id, isl
ORDER BY doc_id, span_start
"""


QUERIES["m71_repeated_spans"] = m71_repeated_spans
ORACLES["m71_repeated_spans"] = M71_SQL


# ---------------------------------------------------------------------------
# M72 — long-substring EXCISION, certified byte-for-byte (the m60 idiom
# at span grain): per doc, token/removal accounting plus the md5 of the
# reassembled cleaned text. m71 certifies WHICH spans are repeated;
# this certifies the destructive step actually applied to the corpus.
# ---------------------------------------------------------------------------


def m72_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        excise_repeated_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    out = excise_repeated_spans(docs, k=_M71_K, min_count=_M71_MIN_COUNT)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5("text").alias("clean_md5"),
    ).orderBy("doc_id")


M72_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
),
g AS (
  SELECT doc_id, i AS s,
         md5(array_to_string(list_slice(t, i, i + {_M71_K} - 1), ' ')) AS gh
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {_M71_K} + 1)) AS i
        FROM toks WHERE len(t) >= {_M71_K})
),
rep AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= {_M71_MIN_COUNT}),
marks AS (SELECT doc_id, s, s + {_M71_K} AS e FROM g JOIN rep USING (gh)),
cov AS (
  SELECT DISTINCT doc_id, unnest(generate_series(s, e - 1)) AS pos
  FROM marks
),
tk AS (
  SELECT doc_id, unnest(t) AS tok,
         unnest(generate_series(1, len(t))) AS pos
  FROM toks
),
kept AS (
  SELECT k.doc_id,
         count(*) AS n_kept,
         string_agg(k.tok, ' ' ORDER BY k.pos) AS cleaned
  FROM tk k
  LEFT JOIN cov c ON c.doc_id = k.doc_id AND c.pos = k.pos
  WHERE c.pos IS NULL
  GROUP BY k.doc_id
),
n AS (
  -- every input doc gets a row (round-11 review): token-less docs
  -- surface as (0, 0, md5('')) in BOTH engines
  SELECT doc_id, coalesce(len(t), 0) AS n_tokens FROM toks
)
SELECT n.doc_id,
       CAST(n.n_tokens AS BIGINT) AS n_tokens,
       CAST(n.n_tokens - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
       md5(coalesce(k.cleaned, '')) AS clean_md5
FROM n
LEFT JOIN kept k ON k.doc_id = n.doc_id
ORDER BY n.doc_id
"""


QUERIES["m72_span_excision"] = m72_span_excision
ORACLES["m72_span_excision"] = M72_SQL


# ---------------------------------------------------------------------------
# M73 — INCREMENTAL long-substring dedup: the ingest-path twin of m71,
# completing the incremental family (m69 exact, m66 near-dup, m73 span
# grain). Standing corpus = even doc_ids touched only through its gram
# SET; increment = odd doc_ids. The oracle is the FULL-corpus m71 chain
# restricted to increment docs — a genuinely different computation path
# (the engine never re-tokenizes or shuffles the standing corpus)
# arriving at the same span set, which is the incremental pattern's
# correctness claim.
# ---------------------------------------------------------------------------


def m73_incremental_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        gram_set,
        incremental_repeated_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 2 == 1)
    standing = docs.where(F.col("doc_id") % 2 == 0)
    return incremental_repeated_spans(
        new, gram_set(standing, k=_M71_K), k=_M71_K
    ).orderBy("doc_id", "span_start")


M73_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
),
g AS (
  SELECT doc_id, i AS s,
         md5(array_to_string(list_slice(t, i, i + {_M71_K} - 1), ' ')) AS gh
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {_M71_K} + 1)) AS i
        FROM toks WHERE len(t) >= {_M71_K})
),
rep AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= {_M71_MIN_COUNT}),
marks AS (
  SELECT doc_id, s, s + {_M71_K} AS e
  FROM g JOIN rep USING (gh)
  WHERE doc_id % 2 = 1
),
isl AS (
  SELECT doc_id, s, e,
         CASE WHEN s > coalesce(MAX(e) OVER (PARTITION BY doc_id ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS brk
  FROM marks),
grp AS (
  SELECT doc_id, s, e,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS UNBOUNDED PRECEDING) AS isl
  FROM isl)
SELECT doc_id,
       CAST(MIN(s) AS INT) AS span_start,
       CAST(MAX(e) AS INT) AS span_end,
       CAST(MAX(e) - MIN(s) AS BIGINT) AS span_tokens
FROM grp GROUP BY doc_id, isl
ORDER BY doc_id, span_start
"""


QUERIES["m73_incremental_spans"] = m73_incremental_spans
ORACLES["m73_incremental_spans"] = M73_SQL


# ---------------------------------------------------------------------------
# M74 — BM25 scored retrieval (Robertson & Zaragoza 2009): every doc
# scored against a fixed probe query; the lexical side of the retrieval
# stack (dense ANN = m7/m10/m17, fusion = m59). Exact cross-engine:
# rational k1/b constants reduce each per-term score to integer-argument
# lns and one division; per-doc sums ride the fixed-point idiom.
# ---------------------------------------------------------------------------

_M74_TERMS = ("join", "vector", "stream", "window", "quality")


def m74_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.text import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    out = bm25_scores(docs, _M74_TERMS)
    return out.select(
        F.col("id").alias("doc_id"), "n_hit_terms", "score"
    ).orderBy("doc_id")


_M74_IN = ", ".join(f"'{t}'" for t in _M74_TERMS)

# A..D from k1 = 6/5, b = 3/4 (bm25_scores defaults):
#   A = (6+5)*4 = 44, B = 5*4 = 20, C = 6*(4-3) = 6, D = 6*3 = 18
# The BM25 CTE chain is shared by M74 (scores), M78 (the hybrid
# fusion's lexical channel) and — via the parameterized builder —
# m80's post-retraction variant (round 12, over the surviving corpus):
# one definition so none can drift.


def bm25_ctes(source: str, terms_in: str | None = None) -> str:
    """The m74 BM25 oracle chain over a pluggable corpus relation
    (``source`` — a table name or parenthesized subquery with
    (doc_id, text)) and probe-term IN-list."""
    tin = _M74_IN if terms_in is None else terms_in
    return f"""toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM {source}
),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS dl_sum FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
  WHERE term IN ({tin})
  GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
terms AS (
  -- products formed in DOUBLE (same order as the engine): BIGINT
  -- products wrap past 2^63 at the 100 TB regime
  SELECT tf.doc_id,
         CAST(floor(
           ((ln(2*n_docs + 2) - ln(2*df + 1))
            * ((44e0 * CAST(tf AS DOUBLE) * CAST(dl_sum AS DOUBLE))
               / (20e0 * CAST(tf AS DOUBLE) * CAST(dl_sum AS DOUBLE)
                  + 6e0 * CAST(dl_sum AS DOUBLE)
                  + 18e0 * CAST(dl.dl AS DOUBLE) * CAST(n_docs AS DOUBLE))))
           * 1e6) AS BIGINT) AS tq
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
),
bm AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_hit_terms,
         CAST(sum(tq) AS DOUBLE) / 1e6 AS score
  FROM terms GROUP BY doc_id
)"""


_M74_CTES = bm25_ctes("documents")

M74_SQL = f"""
WITH {_M74_CTES}
SELECT doc_id, n_hit_terms, score FROM bm
ORDER BY doc_id
"""


QUERIES["m74_bm25_rank"] = m74_bm25_rank
ORACLES["m74_bm25_rank"] = M74_SQL


# ---------------------------------------------------------------------------
# M75 — DSIR importance weights (Xie et al. 2023): raw-corpus docs
# (lang != 'en') scored by hashed-unigram log-likelihood ratio against
# the target corpus (lang = 'en') — the automated data-selection signal
# for pretraining mixtures. md5-bucketed features (the certified
# md5→int60 idiom), Laplace-smoothed, fixed-point per-doc sums.
# ---------------------------------------------------------------------------

_M75_B = 256


def m75_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.text import dsir_logweights

    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == "en")
    raw = docs.where(F.col("lang") != "en")
    out = dsir_logweights(target, raw, n_buckets=_M75_B)
    return out.select(
        F.col("id").alias("doc_id"), "n_feats", "logweight"
    ).orderBy("doc_id")


M75_SQL = f"""
WITH tok_t AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents WHERE lang = 'en'
),
tok_r AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents WHERE lang <> 'en'
),
bt AS (
  SELECT CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {_M75_B} AS b,
         count(*) AS ct
  FROM tok_t GROUP BY 1
),
br AS (
  SELECT CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {_M75_B} AS b,
         count(*) AS cr
  FROM tok_r GROUP BY 1
),
bucket AS (
  SELECT coalesce(bt.b, br.b) AS b,
         coalesce(ct, 0) AS ct,
         coalesce(cr, 0) AS cr
  FROM bt FULL OUTER JOIN br ON bt.b = br.b
),
tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM bucket),
pb AS (
  SELECT b,
         ln(ct + 1) - ln(cr + 1) + ln(tr + {_M75_B}) - ln(tt + {_M75_B})
           AS logratio
  FROM bucket CROSS JOIN tot
),
feats AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {_M75_B} AS b,
         count(*) AS n
  FROM tok_r GROUP BY 1, 2
),
scored AS (
  SELECT doc_id, n,
         CAST(floor((n * logratio) * 1e6) AS BIGINT) AS wq
  FROM feats JOIN pb USING (b)
)
SELECT doc_id,
       CAST(sum(n) AS BIGINT) AS n_feats,
       CAST(sum(wq) AS DOUBLE) / 1e6 AS logweight
FROM scored GROUP BY doc_id
ORDER BY doc_id
"""


QUERIES["m75_dsir_weights"] = m75_dsir_weights
ORACLES["m75_dsir_weights"] = M75_SQL


# ---------------------------------------------------------------------------
# M76 — the composed funnel's SPAN STAGE: long-substring detection over
# the docs the m70 funnel ACCEPTS, judged against the standing corpus'
# gram set plus within-increment repeats — the fourth stage of the
# composed ingest (expectations → exact → near-dup → spans), certified
# END TO END: the oracle re-derives the accepted set via the full m70
# funnel chain (_M70_FUNNEL_CTES, shared so the two can never drift)
# and then runs the m71 span chain over standing ∪ accepted restricted
# to accepted docs — the arrival-time semantics of the streaming sink.
# ---------------------------------------------------------------------------

# k=4: the funnel REMOVES the docs most likely to share long runs (its
# exact/near stages drop them), so accepted-set spans are rarer than
# m71/m73 corpus spans — k chosen so the certification is non-empty at
# the driver's sf0.01 (k=10 certifies an empty set, which any two
# engines "agree" on).
_M76_K = 4


def m76_ingest_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.plans.ingest import (
        ingest_increment_vs_standing,
    )

    docs = _t(spark, sf_dir, "documents")
    inc = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    standing = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    res = ingest_increment_vs_standing(
        inc, standing, _M70_RULES, span_k=_M76_K
    )
    return res["repeated_spans"].orderBy("doc_id", "span_start")


M76_SQL = f"""
WITH {_M70_FUNNEL_CTES},
acc AS (
  SELECT doc_id, text FROM surv
  WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)
),
spancorp AS (
  SELECT doc_id, text FROM standing
  UNION ALL
  SELECT doc_id, text FROM acc
),
stoks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM spancorp
),
sg AS (
  SELECT doc_id, i AS s,
         md5(array_to_string(list_slice(t, i, i + {_M76_K} - 1), ' ')) AS gh
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {_M76_K} + 1)) AS i
        FROM stoks WHERE len(t) >= {_M76_K})
),
srep AS (SELECT gh FROM sg GROUP BY gh HAVING count(*) >= 2),
smarks AS (
  SELECT doc_id, s, s + {_M76_K} AS e
  FROM sg JOIN srep USING (gh)
  WHERE doc_id IN (SELECT doc_id FROM acc)
),
sisl AS (
  SELECT doc_id, s, e,
         CASE WHEN s > coalesce(MAX(e) OVER (PARTITION BY doc_id ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS brk
  FROM smarks),
sgrp AS (
  SELECT doc_id, s, e,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS UNBOUNDED PRECEDING) AS isl
  FROM sisl)
SELECT doc_id,
       CAST(MIN(s) AS INT) AS span_start,
       CAST(MAX(e) AS INT) AS span_end,
       CAST(MAX(e) - MIN(s) AS BIGINT) AS span_tokens
FROM sgrp GROUP BY doc_id, isl
ORDER BY doc_id, span_start
"""


QUERIES["m76_ingest_spans"] = m76_ingest_spans
ORACLES["m76_ingest_spans"] = M76_SQL


# ---------------------------------------------------------------------------
# M77 — INCREMENTAL DSIR: the ingest-path twin of m75, extending the
# incremental family (m69 exact, m66 near-dup, m73 spans) to
# DISTRIBUTION-valued state. Increment = odd non-en docs, scored
# against the target distribution (en docs) and the raw distribution
# AS OF arrival (even non-en docs only — the arrival-time contract);
# bucket universe densified to all B buckets so increment-only buckets
# score the Laplace floor instead of silently dropping.
# ---------------------------------------------------------------------------


def m77_incremental_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.text import (
        dsir_bucket_counts,
        incremental_dsir_logweights,
    )

    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == "en")
    raw = docs.where(F.col("lang") != "en")
    standing = raw.where(F.col("doc_id") % 2 == 0)
    inc = raw.where(F.col("doc_id") % 2 == 1)
    res = incremental_dsir_logweights(
        inc,
        dsir_bucket_counts(target, n_buckets=_M75_B),
        dsir_bucket_counts(standing, n_buckets=_M75_B),
        n_buckets=_M75_B,
    )
    return res["weights"].select(
        F.col("id").alias("doc_id"), "n_feats", "logweight"
    ).orderBy("doc_id")


# Parameterized over the STANDING raw corpus' WHERE clause so m81
# (round 12) can certify the post-retraction distribution — from-scratch
# over the surviving standing corpus — against the engine's
# negative-delta sums, without a second copy of the chain.
def dsir_incremental_sql(standing_where: str) -> str:
    return f"""
WITH tok_t AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents WHERE lang = 'en'
),
tok_s AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents WHERE lang <> 'en' AND {standing_where}
),
tok_i AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents WHERE lang <> 'en' AND doc_id % 2 = 1
),
bt0 AS (
  SELECT CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {_M75_B} AS b,
         count(*) AS ct
  FROM tok_t GROUP BY 1
),
bt AS (
  SELECT r.b, coalesce(ct, 0) AS ct
  FROM range({_M75_B}) r(b) LEFT JOIN bt0 ON bt0.b = r.b
),
br AS (
  SELECT CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {_M75_B} AS b,
         count(*) AS cr
  FROM tok_s GROUP BY 1
),
bucket AS (
  SELECT coalesce(bt.b, br.b) AS b,
         coalesce(ct, 0) AS ct,
         coalesce(cr, 0) AS cr
  FROM bt FULL OUTER JOIN br ON bt.b = br.b
),
tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM bucket),
pb AS (
  SELECT b,
         ln(ct + 1) - ln(cr + 1) + ln(tr + {_M75_B}) - ln(tt + {_M75_B})
           AS logratio
  FROM bucket CROSS JOIN tot
),
feats AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {_M75_B} AS b,
         count(*) AS n
  FROM tok_i GROUP BY 1, 2
),
scored AS (
  SELECT doc_id, n,
         CAST(floor((n * logratio) * 1e6) AS BIGINT) AS wq
  FROM feats JOIN pb USING (b)
)
SELECT doc_id,
       CAST(sum(n) AS BIGINT) AS n_feats,
       CAST(sum(wq) AS DOUBLE) / 1e6 AS logweight
FROM scored GROUP BY doc_id
ORDER BY doc_id
"""


M77_SQL = dsir_incremental_sql("doc_id % 2 = 0")

QUERIES["m77_incremental_dsir"] = m77_incremental_dsir
ORACLES["m77_incremental_dsir"] = M77_SQL


# ---------------------------------------------------------------------------
# M78 — HYBRID retrieval: the BM25 lexical channel (m74) fused with the
# dense cosine channel (m7's brute-force exact top-k) by reciprocal-
# rank fusion (m59's operator) — the full two-channel search stack the
# m74 docstring pointed at. One hybrid query = the fixed probe TERMS +
# the probe VECTOR (vec_id 0); documents.doc_id ≡ embeddings.vec_id in
# the fixture (the usual one-embedding-per-doc corpus layout). The
# probe's own doc (id 0) is excluded from both channels (the m59
# self-exclusion convention, applied symmetrically).
# ---------------------------------------------------------------------------

_M78_KIN, _M78_KOUT, _M78_C = 20, 10, 60


def m78_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        brute_force_topk,
        rrf_fuse,
    )
    from novi_pdq_etl_project_prod_spark.operators.text import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")

    # lexical channel: global top-KIN by BM25 — orderBy().limit() is
    # the distributed TakeOrderedAndProject shape (o3 pattern); the
    # rank window then runs over KIN rows only
    lex_top = (
        bm25_scores(docs, _M74_TERMS)
        .where(F.col("id") != 0)
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(_M78_KIN)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    lex = (
        lex_top.select(
            F.lit(0).cast("long").alias("query_id"),
            F.col("id").alias("neighbor_id"),
            "score",
        )
        .withColumn("rank", F.row_number().over(w))
    )
    dense = brute_force_topk(
        emb, emb.where(F.col("vec_id") == 0), k=_M78_KIN, metric="cosine"
    )
    return rrf_fuse([lex, dense], k=_M78_KOUT, c=_M78_C).orderBy(
        "query_id", "rank"
    )


M78_SQL = f"""
WITH {_M74_CTES},
lex AS (
  SELECT CAST(0 AS BIGINT) AS query_id, doc_id AS neighbor_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
  FROM bm WHERE doc_id <> 0
  QUALIFY r <= {_M78_KIN}
),
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id = 0
),
den AS (
  SELECT query_id, vec_id AS neighbor_id,
         row_number() OVER (
           ORDER BY list_dot_product(qv, embedding::DOUBLE[])
             / (sqrt(list_dot_product(qv, qv))
                * sqrt(list_dot_product(embedding::DOUBLE[],
                                        embedding::DOUBLE[]))) DESC,
             vec_id ASC
         ) AS r
  FROM embeddings, q WHERE vec_id <> query_id
  QUALIFY r <= {_M78_KIN}
),
fused AS (
  SELECT coalesce(lex.query_id, den.query_id) AS query_id,
         coalesce(lex.neighbor_id, den.neighbor_id) AS neighbor_id,
         coalesce(1.0 / ({_M78_C} + CAST(lex.r AS DOUBLE)), 0.0)
         + coalesce(1.0 / ({_M78_C} + CAST(den.r AS DOUBLE)), 0.0)
           AS rrf_score
  FROM lex FULL JOIN den USING (query_id, neighbor_id)
)
SELECT query_id, neighbor_id, rrf_score,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, neighbor_id ASC)
            AS INT) AS rank
FROM fused
QUALIFY rank <= {_M78_KOUT}
ORDER BY query_id, rank
"""


QUERIES["m78_hybrid_retrieval"] = m78_hybrid_retrieval
ORACLES["m78_hybrid_retrieval"] = M78_SQL


# ---------------------------------------------------------------------------
# M79 — BM25 over the persisted inverted index (build-once/search-many,
# the lexical twin of m17's IVF pattern): the index path must produce
# byte-identical scores to the from-scratch m74, so its ORACLE IS
# m74's SQL — two engine paths, one certified answer.
# ---------------------------------------------------------------------------


def m79_bm25_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.text import (
        bm25_scores_from_index,
        build_bm25_index,
    )

    docs = _t(spark, sf_dir, "documents")
    idx = build_bm25_index(docs)
    out = bm25_scores_from_index(
        idx["postings"], idx["doclens"], _M74_TERMS
    )
    return out.select(
        F.col("id").alias("doc_id"), "n_hit_terms", "score"
    ).orderBy("doc_id")


QUERIES["m79_bm25_from_index"] = m79_bm25_from_index
ORACLES["m79_bm25_from_index"] = M74_SQL
