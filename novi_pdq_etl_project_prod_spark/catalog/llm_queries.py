"""Training-data pipeline operators (SURVEY.md §7.2 M6) over the
``documents`` and ``embeddings`` fixture tables: dedup (exact + near),
similarity search, text analysis, fingerprinting.

SQL-expressible ops ship with DuckDB oracles (the fixture near-dups have
Jaccard ≈ 0.99, so thresholded queries return real pairs). Round 8
graduated the deterministic sketch paths to exact oracles (VERDICT r07
item 1): m8 (md5 MinHash + hash-free banding), m9 (60-bit md5 SimHash),
m13 (closure over m8's edges via recursive CTE), m24 (integer sign-LSH
with the exact rational cosine test). Only genuinely non-replicable ops
(m10 float-plane LSH top-k, m17 trained IVF routing, m25 round-mode
quantization) remain oracle-less, each with ground-truth/recall floors
pinned in ``tests/test_llm_ops.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.operators import text as TX
from novi_pdq_etl_project_prod_spark.operators.dedup import (
    contamination_pairs,
    exact_duplicates,
    minhash_near_duplicates_md5,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    simhash_signatures_md5,
)
from novi_pdq_etl_project_prod_spark.operators.multimodal import (
    exact_stratified_sample,
    mixture_sample,
)
from novi_pdq_etl_project_prod_spark.operators.similarity import (
    brute_force_topk,
    hyperplane_lsh_topk,
    ivf_topk,
)


from novi_pdq_etl_project_prod_spark.session import read_table as _t


#: Wordlists for the language-ID heuristic demo (drawn from the fixture
#: vocabulary so hits actually occur; an engine user supplies real lists).
LANG_WORDLISTS = {
    "en": ("the", "a", "fast", "data", "row"),
    "es": ("table", "join", "query"),
}


# ---------------------------------------------------------------------------
# M1 — exact duplicate groups (hash-groupBy dedup)
# ---------------------------------------------------------------------------

def m1_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # member_ids stringified: the driver's pandas canonicalization cannot
    # sort/hash array cells, so both sides emit a scalar CSV string.
    return exact_duplicates(docs).select(
        "fingerprint",
        "canonical_id",
        "n_copies",
        F.array_join(
            F.transform(F.array_sort("member_ids"), lambda x: x.cast("string")), ","
        ).alias("member_ids"),
    )


M1_SQL = """
WITH fp AS (
  SELECT doc_id,
         md5(lower(array_to_string(
           list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''), ' '
         ))) AS fingerprint
  FROM documents
)
SELECT fingerprint,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies,
       array_to_string(list_sort(list(doc_id)), ',') AS member_ids
FROM fp GROUP BY 1
"""


# ---------------------------------------------------------------------------
# M2 — exact n-gram Jaccard near-dup pairs (inverted-index self-join)
# ---------------------------------------------------------------------------

def m2_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, n=3, threshold=0.8, df_cap=None
    )


M2_SQL = """
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
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common, sa.sz AS sz_a, sb.sz AS sz_b,
       CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard
FROM common
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
"""


# ---------------------------------------------------------------------------
# M3 — token statistics (counting + quality signals)
# ---------------------------------------------------------------------------

def m3_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        TX.bpe_ish_token_count("text").alias("n_pieces"),
        TX.distinct_token_ratio("text").alias("distinct_ratio"),
        TX.stopword_ratio("text").alias("stopword_frac"),
        TX.mean_token_length("text").alias("mean_tok_len"),
    )


M3_SQL = """
WITH toks AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(t) AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INT)
         AS n_pieces,
       CASE WHEN len(t) = 0 THEN 1.0
            ELSE CAST(len(list_distinct(t)) AS DOUBLE) / len(t) END AS distinct_ratio,
       CASE WHEN len(t) = 0 THEN 0.0
            ELSE CAST(len(list_filter(t, x -> list_contains(
                   ['the','a','of','and','to','in','is','it'], lower(x)))) AS DOUBLE)
                 / len(t) END AS stopword_frac,
       CASE WHEN len(t) = 0 THEN 0.0
            ELSE CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                 / len(t) END AS mean_tok_len
FROM toks
"""


# ---------------------------------------------------------------------------
# M4 — language-ID heuristic (wordlist argmax, deterministic tie-break)
# ---------------------------------------------------------------------------

def m4_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.language_score("text", LANG_WORDLISTS["en"]).alias("hits_en"),
        TX.language_score("text", LANG_WORDLISTS["es"]).alias("hits_es"),
        TX.detect_language("text", LANG_WORDLISTS).alias("pred_lang"),
    )


M4_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
),
scored AS (
  SELECT doc_id,
         CAST(len(list_filter(t, x -> list_contains(
           ['the','a','fast','data','row'], lower(x)))) AS INT) AS hits_en,
         CAST(len(list_filter(t, x -> list_contains(
           ['table','join','query'], lower(x)))) AS INT) AS hits_es
  FROM toks
)
SELECT doc_id, hits_en, hits_es,
       CASE WHEN hits_en = 0 AND hits_es = 0 THEN 'und'
            WHEN hits_es > hits_en THEN 'es'
            ELSE 'en' END AS pred_lang
FROM scored
"""


# ---------------------------------------------------------------------------
# M5 — quality filter (the gating application of M3's signals)
# ---------------------------------------------------------------------------

def m5_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = m3_token_stats(spark, sf_dir)
    return stats.where(
        (F.col("n_tokens") >= 20)
        & (F.col("n_tokens") <= 1000)
        & (F.col("distinct_ratio") >= 0.1)
        & (F.col("mean_tok_len") >= 2.0)
        & (F.col("mean_tok_len") <= 12.0)
    ).select("doc_id", "n_tokens", "distinct_ratio", "mean_tok_len")


M5_SQL = f"""
WITH stats AS ({M3_SQL})
SELECT doc_id, n_tokens, distinct_ratio, mean_tok_len
FROM stats
WHERE n_tokens BETWEEN 20 AND 1000
  AND distinct_ratio >= 0.1
  AND mean_tok_len BETWEEN 2.0 AND 12.0
"""


# ---------------------------------------------------------------------------
# M6 — document fingerprinting (whole-doc md5 + 1-perm MinHash component)
# ---------------------------------------------------------------------------

def m6_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.document_fingerprint("text").alias("fingerprint"),
        TX.min_shingle_hash("text", n=3).alias("min_shingle_md5"),
    )


M6_SQL = """
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
minsh AS (SELECT doc_id, MIN(md5(sh)) AS min_shingle_md5 FROM sh GROUP BY 1)
SELECT toks.doc_id,
       md5(lower(array_to_string(t, ' '))) AS fingerprint,
       minsh.min_shingle_md5
FROM toks LEFT JOIN minsh ON toks.doc_id = minsh.doc_id
"""


# ---------------------------------------------------------------------------
# M7 — exact embedding similarity top-k (brute-force baseline;
# bit-identical to DuckDB list_dot_product arithmetic)
# ---------------------------------------------------------------------------

def m7_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return brute_force_topk(emb, q, k=5, metric="cosine")


M7_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 10
),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
           AS score
  FROM c, q WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, score,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
"""


# ---------------------------------------------------------------------------
# M8-M10 — approximate ops: rows-only driver check, ground-truth-validated
# in tests/test_llm_ops.py
# ---------------------------------------------------------------------------

def m12_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return TX.tfidf_top_terms(docs, k=5)


M12_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id AS id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS c FROM documents),
scored AS (
  SELECT tf.id, tf.term, tf.tf,
         tf.tf * (ln((n.c + 1.0) / (dfreq.df + 1.0)) + 1) AS tfidf
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
)
SELECT id, term, tf, tfidf, CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY id
                               ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
WHERE rank <= 5
"""


def m8_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dups on the DETERMINISTIC md5 path (graduated to
    an exact DuckDB oracle in round 8 — VERDICT r07 item 1): one md5
    base hash per shingle, 64 affine permutations mod 2³¹−1, hash-free
    band keys, est_jaccard = agreeing-minima/64. The signatures come
    from one Arrow pass (`minhash_signatures_md5`), the only MinHash
    path in the engine."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_near_duplicates_md5(
        docs, n=3, num_hashes=64, bands=16, threshold=0.5
    ).orderBy("id_a", "id_b")


# Shared md5-MinHash CTE chain (shingles → base hash → md5-regenerated
# affine coefficients → signatures → hash-free band keys → candidate
# pairs → minima-agreement filter). The affine coefficients regenerate
# inside the SQL from the same md5 strings the Spark side uses
# (dedup.minhash_affine_coeffs) — no literals to drift. Reused verbatim
# by M8 (pairs) and M13 (closure over the same edges).
_M8_EDGE_CTES = """
toks AS (
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
  SELECT id_a, id_b FROM agree WHERE CAST(m AS DOUBLE) / 64 >= 0.5
)
""".strip()

M8_SQL = f"""
WITH {_M8_EDGE_CTES}
SELECT id_a, id_b, CAST(m AS DOUBLE) / 64 AS est_jaccard
FROM agree
WHERE CAST(m AS DOUBLE) / 64 >= 0.5
ORDER BY id_a, id_b
"""


#: m9's 60 signed bit-sum aggregates / packed-signature terms, generated
#: once and spliced into the SQL (the Spark side computes the same 60
#: bit-sums per doc in one Arrow pass, simhash_signatures_md5).
_M9_BIT_SUMS = ",\n         ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(60)
)
_M9_SIG = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
    for i in range(60)
)


def m9_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups on the DETERMINISTIC md5 path (graduated to an
    exact DuckDB oracle in round 8): 60-bit signatures from md5 token
    hashes (one Arrow pass, `simhash_signatures_md5` — the only SimHash
    path in the engine), 4 × 15-bit pigeonhole banding, exact hamming
    ≤ 3 filter."""
    docs = _t(spark, sf_dir, "documents")
    sigs = simhash_signatures_md5(docs)
    return (
        simhash_near_duplicates(sigs)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


M9_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM toks
),
bitsums AS (
  SELECT doc_id,
         {_M9_BIT_SUMS}
  FROM hashed GROUP BY doc_id
),
sigs AS (SELECT doc_id, {_M9_SIG} AS sig FROM bitsums),
chunks AS (
  SELECT doc_id, sig, c, (sig >> (c * 15)) & 32767 AS ch
  FROM sigs, range(4) r(c)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
                  a.sig AS sig_a, b2.sig AS sig_b
  FROM chunks a JOIN chunks b2
    ON a.c = b2.c AND a.ch = b2.ch AND a.doc_id < b2.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= 3
ORDER BY id_a, id_b
"""


def m14_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return TX.chunk_documents(docs, chunk_tokens=64, overlap=8)


M14_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
),
sized AS (
  SELECT doc_id, t, len(t) AS n,
         CASE WHEN len(t) <= 64 THEN 1
              ELSE CAST(ceil((len(t) - 64) / 56.0) AS INT) + 1 END AS n_chunks
  FROM toks
),
idx AS (
  SELECT doc_id, t, n, unnest(generate_series(0, n_chunks - 1)) AS chunk_id
  FROM sized
)
SELECT doc_id AS id,
       CAST(chunk_id AS INT) AS chunk_id,
       array_to_string(list_slice(t, chunk_id * 56 + 1, chunk_id * 56 + 64), ' ')
         AS chunk_text,
       CAST(least(n - chunk_id * 56, 64) AS INT) AS n_tokens
FROM idx
"""


def m15_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = TX.gopher_quality_flags(docs)
    return out.select(
        "doc_id", "n_words",
        F.col("ok_word_count").cast("string").alias("ok_word_count"),
        F.col("ok_mean_word_len").cast("string").alias("ok_mean_word_len"),
        F.col("ok_repetition").cast("string").alias("ok_repetition"),
        F.col("passes_gopher").cast("string").alias("passes_gopher"),
    )


M15_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
),
stats AS (
  SELECT doc_id,
         len(t) AS n_words,
         CASE WHEN len(t) = 0 THEN 0.0
              ELSE CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                   / len(t) END AS mean_len,
         CASE WHEN len(t) = 0 THEN 1.0
              ELSE CAST((SELECT max(c) FROM (
                     SELECT count(*) AS c FROM unnest(t) AS u(w) GROUP BY w))
                   AS DOUBLE) / len(t) END AS rep
  FROM toks
)
SELECT doc_id, CAST(n_words AS INT) AS n_words,
       CAST(n_words >= 50 AND n_words <= 100000 AS VARCHAR) AS ok_word_count,
       CAST(mean_len >= 3 AND mean_len <= 10 AS VARCHAR) AS ok_mean_word_len,
       CAST(rep <= 0.2 AS VARCHAR) AS ok_repetition,
       CAST(n_words >= 50 AND n_words <= 100000 AND mean_len >= 3
            AND mean_len <= 10 AND rep <= 0.2 AS VARCHAR) AS passes_gopher
FROM stats
"""


def m16_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    # plant PII deterministically so the scrubber has real work
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-123-4567 ssn 123-45-"),
            F.lpad(F.col("doc_id").cast("string"), 4, "0"),
        ).alias("dirty_text"),
    )
    return dirty.select(
        "doc_id",
        TX.redact_pii(F.col("dirty_text")).alias("clean_text"),
    )


M16_SQL = """
WITH dirty AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-123-4567 ssn 123-45-'
              || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS dirty_text
  FROM documents WHERE doc_id < 100
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(dirty_text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[REDACTED]', 'g'),
           '\\+?[0-9][0-9()\\-. ]{7,}[0-9]', '[REDACTED]', 'g'),
         '[0-9]{3}-[0-9]{2}-[0-9]{4}', '[REDACTED]', 'g') AS clean_text
FROM dirty
"""


def m13_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of MinHash near-dup pairs → dedup clusters.
    Graduated to an exact DuckDB oracle in round 8: the edge set is the
    deterministic md5 MinHash path (m8), and the iterative min-label
    propagation is certified against a recursive-CTE closure over the
    SAME edges (the m43 precedent)."""
    from novi_pdq_etl_project_prod_spark.operators.dedup import near_dup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates_md5(docs, threshold=0.5)
    return near_dup_clusters(pairs).orderBy("id")


# m8's deterministic edge set + m43's recursive-CTE min-label closure.
M13_SQL = f"""
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
)
SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id ORDER BY id
"""


def m10_lsh_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return hyperplane_lsh_topk(emb, q, k=5, dim=64, nbits=4, n_tables=16)


#: Target domain mixture for m18 — explicit rates for four sources, a
#: floor rate for the long tail. Thresholds are 4-hex-digit md5 prefixes
#: shared verbatim with the oracle SQL below.
MIXTURE_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
MIXTURE_DEFAULT = 0.05


def m18_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return mixture_sample(
        docs, MIXTURE_RATES, default_rate=MIXTURE_DEFAULT
    ).select("doc_id", "source")


M18_SQL = """
SELECT doc_id, source FROM documents
WHERE CASE
  WHEN source = 'src0' THEN TRUE
  WHEN source = 'src1'
    THEN substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < '8000'
  WHEN source = 'src2'
    THEN substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
  WHEN source = 'src3'
    THEN substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < '199a'
  ELSE substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < '0ccd'
END
"""


def m19_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs (doc_id % 97 != 0) sharing
    >= 2 distinct word 3-grams with the held-out eval split."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 97 != 0)
    ev = docs.where(F.col("doc_id") % 97 == 0)
    return contamination_pairs(train, ev, n=3, min_overlap=2)


M19_SQL = """
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
)
SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id, COUNT(*) AS n_common
FROM (SELECT * FROM sh WHERE doc_id % 97 <> 0) tr
JOIN (SELECT * FROM sh WHERE doc_id % 97 = 0) ev ON tr.sh = ev.sh
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


def m20_exact_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 5 docs per language, chosen by a content-addressed
    pseudo-random order (md5) — deterministic across engines, so fully
    oracle-able unlike Bernoulli sampling."""
    docs = _t(spark, sf_dir, "documents")
    return exact_stratified_sample(
        docs, strata_col="lang", k=5, id_col="doc_id"
    ).select("doc_id", "lang")


M20_SQL = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('42' || ':' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
WHERE rk <= 5
"""


def m21_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pre-training curation flow (quality → exact dedup →
    mixture → split) — every stage content-addressed, so the whole
    pipeline hash-matches DuckDB end-to-end."""
    from novi_pdq_etl_project_prod_spark.plans.curation import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    return curate_corpus(
        docs,
        min_tokens=20,
        max_tokens=1000,
        rates={"src1": 0.5, "src2": 0.25},
        default_rate=1.0,
        test_fraction=0.1,
    )


M21_SQL = """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
), q AS (
  SELECT doc_id, source, CAST(len(t) AS INT) AS n_tokens,
         md5(lower(array_to_string(t, ' '))) AS fp
  FROM toks WHERE len(t) BETWEEN 20 AND 1000
), d AS (
  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC) AS rn FROM q
), s AS (
  SELECT doc_id, source, n_tokens FROM d
  WHERE rn = 1
    AND CASE source
          WHEN 'src1'
            THEN substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < '8000'
          WHEN 'src2'
            THEN substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
          ELSE TRUE
        END
)
SELECT doc_id, source, n_tokens,
       CASE WHEN substring(md5('42' || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < '199a'
            THEN 'test' ELSE 'train' END AS split
FROM s
"""


def m17_ivf_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN (approximate — no oracle): recall vs brute force is
    pinned in test_llm_ops. nprobe/n_lists = 1/2 because the fixture
    embeddings are near-random (neighbors barely separated from noise);
    clustered real-world corpora sustain much lower probe ratios."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return ivf_topk(emb, q, k=5, n_lists=16, nprobe=8)


# ---------------------------------------------------------------------------
# M22 — cross-document boilerplate n-grams (C4-style cleaning signal)
# ---------------------------------------------------------------------------

def m22_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate fraction: share of its distinct 2-grams
    that occur in >5% of all documents (templated phrases / chrome)."""
    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        repeated_ngram_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return repeated_ngram_stats(docs, n=2, doc_fraction_cap=0.05).select(
        F.col("id").alias("doc_id"), "n_grams", "n_boilerplate", "boilerplate_frac"
    )


M22_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
  FROM toks WHERE len(t) >= 2
),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS sh FROM idx),
tot AS (SELECT COUNT(*) AS n_docs FROM documents),
bp AS (
  SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM sh GROUP BY 1), tot
  WHERE df > n_docs * 0.05
)
SELECT s.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN s.sh IN (SELECT sh FROM bp) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_boilerplate,
       CAST(SUM(CASE WHEN s.sh IN (SELECT sh FROM bp) THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS boilerplate_frac
FROM sh s GROUP BY 1
"""


# ---------------------------------------------------------------------------
# M23 — corpus report card (per-source curation stats)
# ---------------------------------------------------------------------------

def m23_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus statistics every curation run reports: doc and
    unique-doc counts (exact-dup rate via content fingerprint), token
    totals, and mean document length. Two-level aggregation — one
    shuffle to fingerprint grain, one to source grain."""
    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        "source",
        TX.document_fingerprint("text").alias("fp"),
        F.size(TX.tokens(F.col("text"))).alias("n_tok"),
        "n_chars",
    )
    per_fp = fp.groupBy("source", "fp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_tok").alias("tok"),
        F.sum("n_chars").alias("chars"),
    )
    return per_fp.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        (
            (F.sum("n") - F.count(F.lit(1))).cast("double") / F.sum("n")
        ).alias("dup_rate"),
        F.sum("tok").alias("total_tokens"),
        (F.sum("chars").cast("double") / F.sum("n")).alias("avg_chars"),
    )


M23_SQL = """
WITH f AS (
  SELECT source,
         md5(lower(array_to_string(
           list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''), ' '
         ))) AS fp,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))
           AS n_tok,
         n_chars
  FROM documents
),
g AS (
  SELECT source, fp, COUNT(*) AS n, SUM(n_tok) AS tok, SUM(n_chars) AS chars
  FROM f GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       COUNT(*) AS n_unique,
       CAST(SUM(n) - COUNT(*) AS DOUBLE) / SUM(n) AS dup_rate,
       CAST(SUM(tok) AS BIGINT) AS total_tokens,
       CAST(SUM(chars) AS DOUBLE) / SUM(n) AS avg_chars
FROM g GROUP BY 1
"""


# ---------------------------------------------------------------------------
# M24 — embedding near-dup pairs via LSH buckets (the m11 scale path)
# ---------------------------------------------------------------------------

def m24_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via sign-LSH on the EXACT integer
    path (graduated to a DuckDB oracle in round 8 — VERDICT r07 item 1):
    md5-derived integer hyperplanes, int64 sign bits, per-cell int64
    Gram verification with the rational cosine test (threshold 7/20 =
    0.35, the m40 idiom). The float-plane production path with
    auto-sized codes and occupancy caps
    (`similarity.embedding_near_dup_pairs_lsh`) remains the recall-probed
    alternative (m11-baseline recall pinned in test_llm_ops)."""
    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        embedding_lsh_pairs_exact,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_lsh_pairs_exact(
        emb, threshold_num=7, threshold_den=20, scale=1000,
        nbits=6, n_tables=8, dim=64,
    ).orderBy("id_a", "id_b")


M24_SQL = """
WITH v AS (
  SELECT vec_id AS id, d,
         CAST(round(CAST(e AS DOUBLE) * 1000, 0) AS BIGINT) AS v
  FROM (
    SELECT vec_id, unnest(embedding) AS e,
           unnest(generate_series(1, len(embedding))) AS d
    FROM embeddings
  )
),
n2 AS (SELECT id, CAST(SUM(v * v) AS BIGINT) AS n2 FROM v GROUP BY 1),
grid AS (
  SELECT t, b, d + 1 AS d,
         CAST(('0x' || substr(md5('lshp:' || CAST(t AS VARCHAR) || ':' ||
                                  CAST(b AS VARCHAR) || ':' ||
                                  CAST(d AS VARCHAR)), 1, 15))
              AS BIGINT) % 1048576 - 524288 AS c
  FROM range(8) r1(t), range(6) r2(b), range(64) r3(d)
),
dots AS (
  SELECT v.id, g.t, g.b, CAST(SUM(v.v * g.c) AS BIGINT) AS dot
  FROM v JOIN grid g USING (d) GROUP BY 1, 2, 3
),
buckets AS (
  SELECT id, t,
         CAST(SUM(CASE WHEN dot > 0
                       THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT)
           AS bucket
  FROM dots GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b2.id AS id_b
  FROM buckets a JOIN buckets b2
    ON a.t = b2.t AND a.bucket = b2.bucket AND a.id < b2.id
),
pair_dot AS (
  SELECT c.id_a, c.id_b, CAST(SUM(va.v * vb.v) AS BIGINT) AS dot
  FROM cand c
  JOIN v va ON va.id = c.id_a
  JOIN v vb ON vb.id = c.id_b AND vb.d = va.d
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b,
       p.dot AS dot_milli, na.n2 AS na_milli, nb.n2 AS nb_milli
FROM pair_dot p
JOIN n2 na ON na.id = p.id_a
JOIN n2 nb ON nb.id = p.id_b
WHERE p.dot >= 0 AND 400 * p.dot * p.dot >= 49 * na.n2 * nb.n2
ORDER BY p.id_a, p.id_b
"""


# ---------------------------------------------------------------------------
# M25 — int8 embedding quantization fidelity (storage-compression op)
# ---------------------------------------------------------------------------

def m25_quantization_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantize → dequantize every embedding and report per-vector cosine
    fidelity vs the original. ORACLED exactly since round 13: both
    engines round the SAME IEEE double half-away-from-zero (Spark's
    BigDecimal HALF_UP on the double's exact expansion == DuckDB's
    std::round) and both fold the dot/norm sums LEFT-TO-RIGHT over the
    row-local array (`F.aggregate` vs `list_reduce` — element order is
    the array's, never partition-dependent), so the raw doubles match
    bitwise — verified at sf0.01 AND sf0.1 before graduation. The
    ≥0.999 fidelity floor stays pinned in test_llm_ops."""
    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        _as_double,
        cosine,
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    orig = emb.select(
        F.col("vec_id").alias("id"), _as_double("embedding").alias("orig")
    )
    deq = dequantize_embeddings(quantize_embeddings(emb))
    return (
        orig.join(deq, "id")
        .select("id", cosine(F.col("orig"), F.col("v")).alias("cos_fidelity"))
        .orderBy("id")
    )


# int8 range bound makes the tinyint cast lossless (|x/scale| <= 127 by
# construction), so the oracle skips it; list_reduce's seeded fold
# ((x1+x2)+x3... vs Spark's ((0+x1)+x2)...) differs only by the exact
# identity 0.0+x1 == x1.
M25_SQL = """
WITH q AS (
  SELECT vec_id AS id,
         greatest(list_max(list_transform(embedding::DOUBLE[],
                                          x -> abs(x))) / 127.0,
                  1e-12) AS scale,
         embedding::DOUBLE[] AS v
  FROM embeddings
), deq AS (
  SELECT id, v, list_transform(v, x -> round(x / scale) * scale) AS dv
  FROM q
), folds AS (
  SELECT id,
    list_reduce(list_transform(list_zip(v, dv), s -> s[1] * s[2]),
                (a, b) -> a + b) AS dot_vd,
    list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS dot_vv,
    list_reduce(list_transform(dv, x -> x * x), (a, b) -> a + b) AS dot_dd
  FROM deq
)
SELECT id, dot_vd / (sqrt(dot_vv) * sqrt(dot_dd)) AS cos_fidelity
FROM folds ORDER BY id
"""


QUERIES = {
    "m25_quantization_fidelity": m25_quantization_fidelity,
    "m22_boilerplate_ngrams": m22_boilerplate_ngrams,
    "m23_corpus_report": m23_corpus_report,
    "m24_embedding_lsh_pairs": m24_embedding_lsh_pairs,
    "m1_exact_dedup_groups": m1_exact_dedup_groups,
    "m2_ngram_jaccard_pairs": m2_ngram_jaccard_pairs,
    "m3_token_stats": m3_token_stats,
    "m4_lang_id": m4_lang_id,
    "m5_quality_filter": m5_quality_filter,
    "m6_fingerprints": m6_fingerprints,
    "m7_embedding_topk": m7_embedding_topk,
    "m12_tfidf_top_terms": m12_tfidf_top_terms,
    "m14_chunk_documents": m14_chunk_documents,
    "m15_gopher_quality": m15_gopher_quality,
    "m16_pii_redaction": m16_pii_redaction,
    "m8_minhash_near_dups": m8_minhash_near_dups,
    "m9_simhash_near_dups": m9_simhash_near_dups,
    "m10_lsh_embedding_topk": m10_lsh_embedding_topk,
    "m17_ivf_embedding_topk": m17_ivf_embedding_topk,
    "m18_mixture_sample": m18_mixture_sample,
    "m20_exact_stratified_sample": m20_exact_stratified_sample,
    "m21_curation_pipeline": m21_curation_pipeline,
    "m19_decontaminate": m19_decontaminate,
    "m13_near_dup_clusters": m13_near_dup_clusters,
}

ORACLES = {
    "m22_boilerplate_ngrams": M22_SQL,
    "m23_corpus_report": M23_SQL,
    "m24_embedding_lsh_pairs": M24_SQL,
    "m25_quantization_fidelity": M25_SQL,
    "m8_minhash_near_dups": M8_SQL,
    "m9_simhash_near_dups": M9_SQL,
    "m13_near_dup_clusters": M13_SQL,
    "m1_exact_dedup_groups": M1_SQL,
    "m2_ngram_jaccard_pairs": M2_SQL,
    "m3_token_stats": M3_SQL,
    "m4_lang_id": M4_SQL,
    "m5_quality_filter": M5_SQL,
    "m6_fingerprints": M6_SQL,
    "m7_embedding_topk": M7_SQL,
    "m18_mixture_sample": M18_SQL,
    "m20_exact_stratified_sample": M20_SQL,
    "m21_curation_pipeline": M21_SQL,
    "m19_decontaminate": M19_SQL,
    "m12_tfidf_top_terms": M12_SQL,
    "m14_chunk_documents": M14_SQL,
    "m15_gopher_quality": M15_SQL,
    "m16_pii_redaction": M16_SQL,
    # m10 (float-plane LSH top-k), m17 (trained IVF): approximate —
    # rows-only checks by design, recall floors pinned in test_llm_ops
}
