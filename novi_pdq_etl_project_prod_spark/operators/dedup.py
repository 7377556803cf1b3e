"""Deduplication operators for training-data pipelines (SURVEY.md §7.2 M6):
exact (hash-groupBy), n-gram Jaccard (exact near-dup), MinHash + LSH
(approximate near-dup at scale), SimHash (bitwise near-dup).

Scale design (the whole point of these operators):

- **exact_duplicates** — one shuffle on a 128-bit fingerprint; the
  canonical survivor is min(doc_id), deterministic.
- **ngram_jaccard_pairs** — the *exact* baseline. Inverted-index self-join
  on shingles: cost ∝ Σ_shingle df², so extremely common shingles are
  dropped with a document-frequency cap first (standard "stop-shingle"
  removal — they carry no discriminative signal and quadratic cost).
  Use for validation and small corpora; at 100 TB use MinHash-LSH.
- **minhash_near_duplicates_md5** — one Arrow-batched pass per doc
  computes its MinHash signature (ASCII-whitespace tokens, distinct word
  n-grams, one md5 base hash per gram, k affine permutations mod 2³¹−1
  as a NumPy broadcast): no shuffle. Banding explodes each doc into b
  band rows keyed by the plain band values, one shuffle groups equal
  keys; candidate pair count ≈ true-near-dup count + tunable false
  positives, so the verify join touches candidates only — never the n²
  pair space.
- **simhash_signatures_md5 / simhash_near_duplicates** — one 60-bit
  signature per doc from md5 token hashes (the same Arrow pass shape);
  hamming-ball candidate search via 15-bit chunk exact-match (any pair
  within hamming distance 3 of 60 shares at least one of 4 chunks —
  pigeonhole).

Determinism: every hash is md5, and every Arrow UDF tokenizes like the
JVM ``tokens()`` and the DuckDB oracles (ASCII ``\\s+``), so each step is
reproducible across runs, partitionings and engines.
"""

from __future__ import annotations

import dataclasses
import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark import cache
from novi_pdq_etl_project_prod_spark.operators.text import (
    document_fingerprint,
    shingles,
    tokens,
)


def plan_lsh_bands(num_hashes: int, threshold: float) -> tuple[int, int]:
    """Choose (bands, rows_per_band) for a target Jaccard threshold.

    A pair with Jaccard s collides in ≥1 band with probability
    1 - (1 - s^r)^b; the curve's inflection sits near (1/b)^(1/r).
    Picks the divisor pair whose inflection lands closest to
    ``threshold`` — the standard MMDS band-planning rule, exposed so
    callers don't hand-tune bands when they change thresholds.
    """
    best = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        inflection = (1.0 / b) ** (1.0 / r)
        err = abs(inflection - threshold)
        if best is None or err < best[0]:
            best = (err, b, r)
    return best[1], best[2]


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition a narrow-partitioned input across the cluster before a
    CPU-heavy per-row stage. A single small parquet file scans as ONE
    partition, which would serialize the whole signature computation on
    one core; the repartition shuffles only the raw text (cheap) to buy
    full parallelism. No-op when the scan is already wide.

    Width is judged from the optimizer's size estimate rather than
    ``df.rdd.getNumPartitions()``: the RDD conversion splices a
    DataFrame→RDD boundary into the reused plan, breaking whole-stage
    codegen/Arrow reuse downstream. An input whose estimated bytes are
    below ~16 MB/core cannot scan wide under any sane
    ``maxPartitionBytes``, and at real scale the estimate is huge and
    this is a no-op."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        est_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # non-JVM plan edge; spreading is always safe
        return df.repartition(target)
    if est_bytes < target * 16 * 1024 * 1024:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact-duplicate groups: fingerprint → (canonical_id, n_copies,
    member ids). One hash-shuffle; survivor = min(id) (deterministic)."""
    fp = df.select(
        F.col(id_col), document_fingerprint(text_col).alias("fingerprint")
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
    )


def drop_exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one deterministic survivor per fingerprint (min id)."""
    w_fp = document_fingerprint(text_col).alias("__fp")
    from pyspark.sql import Window

    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__fp", w_fp)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


#: Python-side twin of the JVM/RE2 ``\s+`` tokenizer split: with
#: ``re.ASCII``, ``\s`` is exactly ``[ \t\n\x0b\f\r]`` — the same class
#: Java regex and DuckDB's RE2 match — so vectorized UDFs tokenize
#: identically to :func:`operators.text.tokens` on any input, including
#: non-ASCII whitespace (NBSP, U+2003, U+2028), which Python's
#: ``str.split()`` would eat.
_ASCII_WS = re.compile(r"\s+", re.ASCII)


def _ascii_tokens(text) -> list[str]:
    """The tokens :func:`operators.text.tokens` yields for ``text``: the
    ASCII-``\\s+`` split with its empty edge pieces trimmed. NULL text has
    no tokens. Every Arrow UDF in this module tokenizes through here."""
    if not isinstance(text, str):
        return []
    toks = _ASCII_WS.split(text)
    if toks and toks[0] == "":
        toks.pop(0)
    if toks and toks[-1] == "":
        toks.pop()
    return toks


def _shingle_array_udf(n: int):
    """Arrow-batched (per-text → distinct word n-gram list) pandas UDF.

    Fast path for ``shingles(...)``: the JVM ``shingles()`` expression is
    an interpreted higher-order function (transform + element_at×n +
    array_distinct — not codegen'd, ~µs per lambda step), which dominates
    wall time for shingle-explode consumers. A vectorized-batch Python
    set build is ~6× faster end to end. Semantics are identical: ASCII
    whitespace tokenization (:func:`_ascii_tokens`), first-occurrence-
    distinct grams, docs with fewer than ``n`` tokens get an empty list.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def sh_udf(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            toks = _ascii_tokens(text)
            if len(toks) < n:
                out.append([])
                continue
            out.append(
                list(
                    dict.fromkeys(
                        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                    )
                )
            )
        return pd.Series(out)

    return sh_udf


def _exploded_shingles_arrow(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, sh) rows of distinct word n-grams via Arrow batches."""
    sh_udf = _shingle_array_udf(n)
    return df.select(
        F.col(id_col).alias("id"), F.explode(sh_udf(F.col(text_col))).alias("sh")
    )


def _gram_pair_counts(
    df: DataFrame, id_col: str, text_col: str, n: int, df_cap: int | None
) -> DataFrame:
    """Undirected shared-gram counts per doc pair — the common core of the
    Jaccard and containment operators: (id_a, sz_a, id_b, sz_b, n_common)
    with id_a < id_b, where sz_* are the UN-capped distinct-gram set
    sizes and n_common counts grams shared after the ``df_cap`` drop.

    Plan shape (r05 rewrite of the naive inverted index; the old plan
    spent more wall on stage sprawl than on data): ONE Arrow shingle
    pass with the set size computed from the gram array itself — the
    per-doc ``sizes`` aggregate and its join-back are gone; the gram
    document frequency comes from a count-over-gram window instead of a
    separate groupBy + anti-join (its required sort is work the pair
    join's shuffle would redo anyway). Pairs are counted once in
    undirected (id_a < id_b) orientation — callers needing both
    directions re-emit rows narrowly rather than doubling the
    pair-aggregate shuffle.

    Cost model at 100 TB: Σ_gram df² pair mass, bounded by ``df_cap``
    (ubiquitous boilerplate grams carry no near-dup signal and all the
    quadratic cost); everything that shuffles is (id, sz, gram) — never
    document text.

    Parallelism note: the shingle UDF is CHEAP per row (one tokenize +
    set build — unlike MinHash's 64-hash arithmetic), so the
    ``_spread_small_input`` full-width fan-out costs more in Python
    stage round-trips than it buys on tiny inputs (measured 9.2s vs
    3.0s at sf0.1). Width here is proportional to input bytes (~2 MB of
    text per task) instead, capped at cluster parallelism — at real
    scale the parquet scan is already wide and no repartition happens
    at all. The narrow (id, sz, gram) relation is persisted so the
    self-join's two sides read one cache instead of re-running the
    Python stage per side (AQE broadcasts one side rather than reusing
    the gram exchange, and the optimizer's inferred ``size(arr) > 0``
    pushdown would otherwise clone the UDF below the exchange — 4
    evaluations without the cache, 1 with).
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        est = 1 << 40
    target = spark.sparkContext.defaultParallelism
    # ~256 KB of text per task: with spark.python.worker.reuse (default
    # on) the per-task Python round-trip is cheap once warm, so moderate
    # fan-out wins — measured width 1 → 2.4s vs width 8-16 → 1.7s warm at
    # sf0.1 (the old 2 MB/task figure was a cold-session measurement
    # dominated by worker spawn). At real scale the scan is already wide
    # and the est gate below makes this a no-op.
    width = min(target, max(1, est // (256 * 1024)))
    if width < target and est < target * 16 * 1024 * 1024:
        df = df.repartition(width)

    sh_udf = _shingle_array_udf(n)
    arr = df.select(
        F.col(id_col).alias("id"), sh_udf(F.col(text_col)).alias("_arr")
    )
    sh = arr.select(
        "id", F.size("_arr").alias("sz"), F.explode("_arr").alias("sh")
    )
    if df_cap is not None:
        sh = sh.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("sh"))
        ).where(F.col("_df") <= df_cap)
    # NOTE (optimization r15): an int64 xxhash64 join key AHEAD of the
    # gram string (string equality kept in-join, so exact) was measured
    # at ×10 and REJECTED — m39 median 6.4 s vs 5.5 s, m42 10.3 s vs
    # ~7.9 s: the equi-join already hashes the string once per row, so
    # the extra column only widened the shuffle and the cache.
    sh = cache.track(sh, eager=True)  # self-join sides race a lazy cache
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.id").alias("id_b"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (inverted-index self-join)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = 10_000,
) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard ≥ threshold.

    ``df_cap`` drops shingles appearing in more than that many documents
    before pairing (quadratic-cost control; None disables). Set sizes are
    computed on the *un-capped* shingle sets so Jaccard stays exact for
    surviving pairs as long as capped shingles are rare in true near-dups.
    """
    out = (
        _gram_pair_counts(df, id_col, text_col, n, df_cap)
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "n_common", "sz_a", "sz_b", "jaccard")


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = 10_000,
) -> DataFrame:
    """Directed near-SUBSET pairs: (a, b) where ``|grams(a) ∩ grams(b)| /
    |grams(a)| ≥ threshold`` — the asymmetric cousin of
    :func:`ngram_jaccard_pairs`.

    Containment is the right signal when one document embeds another
    (quote-with-commentary, template expansion, concatenated shards):
    a short document fully contained in a long one has low Jaccard
    (union is dominated by the long side) but containment 1.0, so a
    Jaccard-thresholded dedup pass ships both copies of the short text
    into training. Same inverted-index shape as Jaccard — shingle
    explode, gram-equality self-join, per-pair intersection count — but
    both directed orders are emitted (a≠b rather than a<b) and the
    denominator is the SOURCE side's gram count only.

    ``df_cap`` is the quadratic-cost guard: grams present in more than
    ``df_cap`` documents (ubiquitous boilerplate) are dropped from
    pairing while denominators stay un-capped, exactly as in the Jaccard
    operator.

    Both directed orders come from ONE undirected pair aggregate
    (n_common is symmetric): each (a < b) row re-emits as (a→b) and
    (b→a) via a narrow 2-element explode — half the pair-shuffle mass of
    aggregating directed pairs, no second pass.
    """
    pairs = _gram_pair_counts(df, id_col, text_col, n, df_cap)
    both = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a"),
                    F.col("id_b"),
                    F.col("n_common"),
                    F.col("sz_a"),
                ),
                F.struct(
                    F.col("id_b").alias("id_a"),
                    F.col("id_a").alias("id_b"),
                    F.col("n_common"),
                    F.col("sz_b").alias("sz_a"),
                ),
            )
        ).alias("_p")
    ).select("_p.*")
    out = both.withColumn(
        "containment", F.col("n_common").cast("double") / F.col("sz_a")
    ).where(F.col("containment") >= threshold)
    return out.select("id_a", "id_b", "n_common", "sz_a", "containment")


# ---------------------------------------------------------------------------
# MinHash + LSH (md5-derived, cross-engine-deterministic)
# ---------------------------------------------------------------------------

#: Modulus for the md5-derived affine MinHash permutations: the Mersenne
#: prime 2³¹−1. Small enough that (a·h + b) stays under 2⁶² — exact in
#: BIGINT in BOTH engines (no HUGEINT/DECIMAL needed) — while 31-bit
#: minima keep per-shingle collision probability ≈ 2⁻³¹, negligible for
#: signature quality.
MINHASH_MERSENNE31 = (1 << 31) - 1

def _md5_long60_py(s: str) -> int:
    """Driver-side twin of the certified cross-engine md5→int idiom:
    ``int(md5(s)[:15 hex], 16)`` == Spark ``conv(substring(md5(s),1,15),
    16,10)`` == DuckDB ``CAST(('0x' || substr(md5(s),1,15)) AS BIGINT)``
    (60 bits, fits BIGINT)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def md5_long60(col: Column) -> Column:
    """The Spark side of the certified md5→int idiom (see
    :func:`_md5_long60_py`)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_affine_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """The k affine permutation coefficients (aᵢ, bᵢ), themselves
    md5-derived (``mh:a:i`` / ``mh:b:i``) so a SQL oracle regenerates
    them from the same strings instead of carrying 2k literals."""
    m = MINHASH_MERSENNE31
    return [
        (
            _md5_long60_py(f"mh:a:{i}") % (m - 1) + 1,
            _md5_long60_py(f"mh:b:{i}") % m,
        )
        for i in range(num_hashes)
    ]


def _minhash_md5_sig_udf(n: int, num_hashes: int):
    """Arrow-batched (text → md5-affine MinHash signature) pandas UDF —
    the vectorized execution of :func:`minhash_signatures_md5`'s
    contract, value-identical to the declarative explode→64-min-agg
    form (guide §4.2: batch the custom arithmetic through NumPy instead
    of 64 interpreted aggregate expressions per exploded row).

    Per text: ASCII-whitespace tokens (:func:`_ascii_tokens`), distinct
    word n-grams, 60-bit md5 base hash per gram (``int(md5(g)[:15 hex],
    16) % M`` — computed from the digest bytes, same value), then all
    ``num_hashes`` affine minima in one (k × g) NumPy broadcast: products
    stay < 2⁶² so int64 is exact.
    Docs with < n tokens (or NULL text) yield NULL signatures, filtered
    by the caller."""
    from pyspark.sql.functions import pandas_udf

    m = MINHASH_MERSENNE31
    coeffs = minhash_affine_coeffs(num_hashes)

    @pandas_udf("array<long>")
    def sig_udf(texts: pd.Series) -> pd.Series:
        import numpy as np

        a = np.array([c[0] for c in coeffs], dtype=np.int64)[:, None]
        b = np.array([c[1] for c in coeffs], dtype=np.int64)[:, None]
        md5 = hashlib.md5
        out = []
        for text in texts:
            toks = _ascii_tokens(text)
            if len(toks) < n:
                out.append(None)
                continue
            grams = dict.fromkeys(
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            )
            h = np.fromiter(
                (
                    (int.from_bytes(md5(g.encode("utf-8")).digest()[:8], "big") >> 4)
                    % m
                    for g in grams
                ),
                dtype=np.int64,
                count=len(grams),
            )
            out.append(((a * h[None, :] + b) % m).min(axis=1))
        return pd.Series(out, dtype=object)

    # non-deterministic mark (guide §4.4): the caller filters on the
    # signature column; without it the pushed-down IsNotNull clones the
    # UDF below the filter and every doc pays the hashing twice
    return sig_udf.asNondeterministic()


def minhash_signatures_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """Cross-engine-DETERMINISTIC MinHash: one md5 base hash per distinct
    shingle, k affine permutations ``(aᵢ·h + bᵢ) mod 2³¹−1`` — every step
    replicable in ANSI SQL (the m8 DuckDB oracle).

    Execution (optimization r14, guide §4.2): ONE Arrow-vectorized
    map-side pass (:func:`_minhash_md5_sig_udf`) — tokenize, gram, md5
    and all k affine minima per doc inside a NumPy batch. The previous
    declarative form (shingle explode → k min-aggregates) paid the
    higher-order-function trap the ``shingles()`` docstring warns
    about — the tokenize re-evaluated per gram position, O(tokens²)
    per doc — plus a 64-column partial-agg exchange; the Arrow form is
    value-identical (pytest-pinned vs the declarative twin), needs no
    shuffle at all, and runs ~4× faster at sf0.1. Docs with < n tokens
    produce no rows, exactly as the explode form (its groupBy never saw
    them)."""
    df = _spread_small_input(df)
    sig = _minhash_md5_sig_udf(n, num_hashes)
    return (
        df.select(
            F.col(id_col).alias("id"), sig(F.col(text_col)).alias("signature")
        )
        .where(F.col("signature").isNotNull())
    )


def lsh_candidate_pairs_exact(
    signatures: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Band the signatures and emit candidate pairs (a < b) that collide in
    ≥1 band, with the signature-agreement Jaccard estimate ``est_jaccard``.

    Band keys are HASH-FREE: the key is the plain ``"band,v1,..,vr"``
    value string, so a SQL oracle reproduces the banding verbatim
    (``array_to_string(list_slice(sig,..), ',')``). For a threshold t,
    choose bands so that (1/bands)^(rows_per_band) straddles t (see
    :func:`plan_lsh_bands`): more bands ⇒ lower effective threshold, more
    candidates.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    # the self-join below evaluates its input twice; without a persist
    # the full signature computation is recomputed on both sides
    # (measured 45× slower at sf0.1). The eager count matters too: both
    # join sides otherwise race to fill the cache concurrently, computing
    # signatures twice in parallel.
    signatures = cache.track(signatures, eager=True)
    banded = signatures.where(F.col("signature").isNotNull()).select(
        "id",
        "signature",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ",",
                        F.lit(str(j)),
                        *[
                            F.col("signature")[j * r + k].cast("string")
                            for k in range(r)
                        ],
                    )
                    for j in range(bands)
                ]
            )
        ).alias("bk"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    )
    return pairs.select(
        "id_a",
        "id_b",
        (agree.cast("double") / F.lit(num_hashes)).alias("est_jaccard"),
    )


def minhash_near_duplicates_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end near-dup detection on the DETERMINISTIC md5 path —
    bit-for-bit oracle-able in DuckDB (the m8 graduation, VERDICT r07
    item 1): signatures → LSH candidates → signature-estimate filter. The
    verify-with-exact-Jaccard refinement is ``ngram_jaccard_pairs``
    restricted to these candidates."""
    sigs = minhash_signatures_md5(df, id_col, text_col, n, num_hashes)
    cands = lsh_candidate_pairs_exact(sigs, num_hashes, bands)
    return cands.where(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------------------
# Transitive clustering of near-dup pairs
# ---------------------------------------------------------------------------

def near_dup_clusters(
    pairs: DataFrame,
    ids: DataFrame | None = None,
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a candidate-pair edge list → dedup
    clusters (a ~ b and b ~ c ⇒ one group even if a ≁ c directly). The
    step that turns MinHash/SimHash/Jaccard *pairs* into deduplication
    *decisions*: keep ``min(cluster)``, drop the rest.

    Iterative min-label propagation: every node repeatedly adopts the
    smallest label among itself and its neighbors until fixpoint —
    O(diameter) joins, each a key-partitioned shuffle; near-dup clusters
    are tiny (diameter ≤ a few hops), so 3-4 iterations typically
    converge. localCheckpoint per round truncates the growing lineage
    (without it, iteration i replays all prior joins).

    Input: ``pairs`` with columns (id_a, id_b); optional ``ids`` (one
    ``id`` column) adds singleton nodes. Output: (id, cluster_id) where
    cluster_id = min id of the component — deterministic.
    """
    # Symmetrize with a row-local explode, NOT a union of two selects: the
    # two union branches would each re-evaluate the (possibly expensive)
    # upstream pair pipeline — common subplans are not deduplicated across
    # union branches. Pre-partition by dst so every iteration's
    # neighbor join reuses the cached partitioning instead of re-shuffling
    # the edge list each round.
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                    ),
                    F.struct(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition("dst")
        .persist()
    )
    # Fused first round: with labels initialized to ids, iteration 1's
    # neighbor-min join degenerates to min(dst) per src — one hash-agg,
    # no join. Components of diameter ≤ 1 (plain pairs — the near-dup
    # common case) are already converged here, so the loop's first pass
    # is just the zero-change confirmation.
    labels = sym.groupBy(F.col("src").alias("id")).agg(
        F.least(F.first("src"), F.min("dst")).alias("cluster_id")
    )
    if ids is not None:
        labels = (
            ids.select(F.col(ids.columns[0]).alias("id"))
            .distinct()
            .withColumn("cluster_id", F.col("id"))
            .unionByName(labels)
            .groupBy("id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
    labels = labels.localCheckpoint(eager=True)

    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # The change flag rides along into the checkpoint, so convergence
        # detection is a cheap agg over already-materialized rows instead
        # of a third join per round.
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                ).alias("cluster_id"),
                (
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                    < F.col("cluster_id")
                ).cast("int").alias("__changed"),
            )
        )
        updated = updated.localCheckpoint(eager=True)
        changed = updated.agg(F.sum("__changed")).collect()[0][0] or 0
        labels = updated.drop("__changed")
        if changed == 0:
            break
    sym.unpersist()
    return labels


def dedup_by_clusters(df: DataFrame, clusters: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Apply clustering decisions: keep only each cluster's canonical
    (min-id) member; rows absent from ``clusters`` are unique and kept."""
    keep = clusters.where(F.col("id") == F.col("cluster_id")).select("id")
    in_clusters = clusters.select("id")
    uniques = df.join(in_clusters, df[id_col] == in_clusters.id, "left_anti")
    keepers = df.join(keep, df[id_col] == keep.id, "left_semi")
    return uniques.unionByName(keepers)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


#: Banding of the 60-bit md5 SimHash: 4 chunks × 15 bits. By pigeonhole
#: any pair within hamming distance 3 (= chunks − 1) matches exactly on
#: at least one chunk.
SIMHASH_CHUNKS = 4
SIMHASH_CHUNK_BITS = 15
SIMHASH_MAX_HAMMING = SIMHASH_CHUNKS - 1


def simhash_near_duplicates(signatures: DataFrame) -> DataFrame:
    """Pairs (a < b) of :func:`simhash_signatures_md5` signatures within
    hamming distance ``SIMHASH_MAX_HAMMING``: exact-match join per
    ``SIMHASH_CHUNK_BITS``-bit chunk, then filter by true hamming
    distance (bit_count of xor)."""
    mask = (1 << SIMHASH_CHUNK_BITS) - 1
    # self-join input is evaluated twice (see lsh_candidate_pairs_exact)
    signatures = cache.track(signatures, eager=True)
    chunks = signatures.where(F.col("simhash").isNotNull()).select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), j * SIMHASH_CHUNK_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("ch"),
                    )
                    for j in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.ch").alias("ch"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ch") == F.col("b.ch"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= SIMHASH_MAX_HAMMING
    )


def _simhash_md5_sig_udf(bits: int):
    """Arrow-batched (text → 60-bit md5 SimHash) pandas UDF — the
    vectorized execution of :func:`simhash_signatures_md5`'s contract,
    value-identical to the declarative explode→``bits``-sum-agg form
    (optimization r15, guide §4.2 — the same move the r14 round made
    for MinHash: one NumPy batch pass instead of ``bits`` interpreted
    aggregate expressions per exploded token row).

    Per text: ASCII-``\\s+`` tokens (multiset — term frequency
    weighting), one 60-bit md5 base hash per DISTINCT token weighted by
    its count, the ``bits`` signed bit-sums in one (bits × T) NumPy
    broadcast, then the sign bits pack into one long. Docs with no
    tokens yield NULL, filtered by the caller (the explode form's
    groupBy never saw them)."""
    from collections import Counter

    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(bits, dtype=np.int64)[:, None]

    @pandas_udf("long")
    def sig_udf(texts: pd.Series) -> pd.Series:
        md5 = hashlib.md5
        weights = (1 << np.arange(bits, dtype=np.int64))
        out = []
        for text in texts:
            toks = _ascii_tokens(text)
            if not toks:
                out.append(None)
                continue
            counts = Counter(toks)
            h = np.fromiter(
                (
                    int.from_bytes(md5(t.encode("utf-8")).digest()[:8], "big")
                    >> 4
                    for t in counts
                ),
                dtype=np.int64,
                count=len(counts),
            )
            c = np.fromiter(
                counts.values(), dtype=np.int64, count=len(counts)
            )
            n_tok = int(c.sum())
            # bit i sum over the multiset: Σ c_t·bit_i(h_t)·2 − n_tok
            ones = (((h[None, :] >> shifts) & 1) * c[None, :]).sum(axis=1)
            sig = int(weights[(2 * ones - n_tok) > 0].sum())
            out.append(sig)
        return pd.Series(out, dtype=object)

    # non-deterministic mark (guide §4.4): the caller filters on the
    # signature column; without it the pushed-down IsNotNull clones the
    # UDF below the filter and every doc pays the hashing twice
    return sig_udf.asNondeterministic()


def simhash_signatures_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
) -> DataFrame:
    """Cross-engine-DETERMINISTIC SimHash: the token hash is the
    certified 60-bit md5 idiom (so the whole signature — bit sums, sign
    threshold, bit packing — is replicable in DuckDB SQL; the m9
    graduation, VERDICT r07 item 1). 60 bits instead of 64: the md5
    idiom yields 60, and a 60-bit simhash bands into 4 × 15-bit chunks
    with the same pigeonhole guarantee (:func:`simhash_near_duplicates`).

    Execution (optimization r15, guide §4.2): ONE Arrow-vectorized
    map pass (:func:`_simhash_md5_sig_udf`) — tokenize, md5, all
    ``bits`` signed bit-sums and the sign packing per doc inside a
    NumPy batch. The previous declarative form (token explode →
    ``bits`` sum-aggregates) shuffled a 61-column partial-agg row per
    (partition × doc) and evaluated 60 interpreted shift/mask sums per
    exploded token; the Arrow form is value-identical (pytest-pinned
    against the declarative twin in tests/test_optimization_r15.py),
    needs no shuffle at all, and the md5 hashing itself is shared per
    DISTINCT token instead of per occurrence. Docs with no tokens
    produce no rows, exactly as the explode form (its groupBy never
    saw them)."""
    df = _spread_small_input(df)
    sig = _simhash_md5_sig_udf(bits)
    return (
        df.select(
            F.col(id_col).alias("id"), sig(F.col(text_col)).alias("simhash")
        )
        .where(F.col("simhash").isNotNull())
    )


def repeated_ngram_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    doc_fraction_cap: float = 0.05,
) -> DataFrame:
    """Cross-document boilerplate measurement (the C4/RefinedWeb cleaning
    signal generalized to n-grams): an n-gram appearing in more than
    ``doc_fraction_cap`` of all documents is boilerplate (navigation
    chrome, license headers, templated phrases); per document, report
    how much of it is made of such grams.

    Output: (id, n_grams, n_boilerplate, boilerplate_frac) — the frac is
    the filter signal (drop or trim docs above a threshold).

    Scale shape: one shuffle to build the document-frequency table, and
    the boilerplate gram set is tiny by construction (few grams clear a
    percentage-of-corpus bar), so it broadcasts back onto the exploded
    grams; total-doc count rides in as a 1-row broadcast scalar. No
    pair joins anywhere — linear in corpus size.
    """
    sh = cache.track(
        _exploded_shingles_arrow(_spread_small_input(df), id_col, text_col, n),
        eager=True,  # df-table + per-doc counts otherwise race
    )
    n_docs = df.select(
        F.count(F.lit(1)).alias("__total_docs")
    )  # 1-row broadcast scalar
    freq = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .where(F.col("df") > F.col("__total_docs") * doc_fraction_cap)
        .select("sh")
    )
    flagged = sh.join(
        F.broadcast(freq).withColumn("__is_bp", F.lit(1)), "sh", "left"
    )
    return (
        flagged.groupBy(F.col("id"))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__is_bp"), F.lit(0))).alias("n_boilerplate"),
        )
        .withColumn(
            "boilerplate_frac",
            F.col("n_boilerplate").cast("double") / F.col("n_grams"),
        )
    )


def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap: int = 2,
    df_cap: int | None = 10_000,
) -> DataFrame:
    """Benchmark decontamination: (train doc, eval doc) pairs sharing at
    least ``min_overlap`` distinct word n-grams — the standard
    contamination test run before training on scraped corpora (an
    asymmetric variant of ``ngram_jaccard_pairs``: overlap count, not
    Jaccard, because eval items are usually much shorter than documents).

    Scale shape: the eval side is tiny (benchmarks are thousands of
    items, the corpus is billions of docs), so its exploded shingle set
    is broadcast and the whole check is one map-side join + one
    aggregation over the matching grams only. ``df_cap`` drops
    ubiquitous grams from the *train* side first (stopword phrases match
    everything and carry no contamination signal).
    """
    tr = _exploded_shingles_arrow(
        _spread_small_input(train), id_col, text_col, n
    ).withColumnRenamed("id", "train_id")
    ev = _exploded_shingles_arrow(eval_df, id_col, text_col, n).withColumnRenamed(
        "id", "eval_id"
    )
    # Semi-join to the (broadcast) eval grams FIRST: only matching train
    # grams survive into the frequency cap and the pairing join, so the
    # expensive shingle explode is consumed once, map-side, and never
    # shuffled at corpus width.
    matched = tr.join(F.broadcast(ev), "sh")
    if df_cap is not None:
        # matched feeds two consumers (frequency cap + pairing); persist
        # with an eager count so the shingle explode runs exactly once
        # (without the count the two plans race and both recompute).
        matched = cache.track(matched, eager=True)
        freq = matched.groupBy("sh").agg(
            F.count_distinct("train_id").alias("df")
        )
        matched = matched.join(
            F.broadcast(freq.where(F.col("df") > df_cap)), "sh", "left_anti"
        )
    return (
        matched.groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_overlap)
    )


def minhash_calibration_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-pair calibration of the MinHash estimate against EXACT
    shingle Jaccard — the audit that tells you whether (num_hashes,
    bands) are tuned for your corpus before trusting the estimate at
    100 TB: for every reported near-dup pair, the agreeing-minima
    estimate ``m/num_hashes`` next to the true ``|A∩B|/|A∪B|`` and the
    fixed-point absolute error ``err_micro = ⌊10⁶·|m·u − k·i|/(k·u)⌋``.

    Runs on the md5-deterministic path (:func:`minhash_signatures_md5`)
    so every column is oracle-exact. Scale shape: the expensive parts
    are exactly m8's (signatures + banding); the truth join is PAIR-
    SCOPED — shingles are semi-joined down to the docs appearing in
    reported pairs before the intersection count, so its cost tracks
    the (small) pair list, never the corpus.

    Output: (id_a, id_b, m_agree, n_common, n_union, est_jaccard,
    true_jaccard, err_micro), one row per reported pair.
    """
    k = num_hashes
    # pairs feeds FOUR branches (both pair_ids unions, the intersection
    # join, the final assembly): without the persist each branch
    # re-executes the entire MinHash pipeline — measured 8.2s vs 3.5s
    # at sf0.1. Same for the pair-scoped shingle table (three readers).
    pairs = cache.track(
        minhash_near_duplicates_md5(
            df, id_col, text_col, n, num_hashes, bands, threshold
        ).select(
            "id_a",
            "id_b",
            F.round(F.col("est_jaccard") * k).cast("long").alias("m_agree"),
        ),
        eager=True,
    )
    pair_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionAll(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sh = cache.track(
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(shingles(text_col, n))).alias("sh"),
        ).join(F.broadcast(pair_ids), "id", "leftsemi"),
        eager=True,
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    x = sh.select(F.col("id").alias("id_a"), "sh")
    y = sh.select(F.col("id").alias("id_b"), "sh")
    inter = (
        pairs.join(x, "id_a")
        .join(y, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .withColumn("n_common", F.coalesce(F.col("n_common"), F.lit(0)))
        .join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn("n_union", F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    )
    return out.select(
        "id_a",
        "id_b",
        "m_agree",
        "n_common",
        "n_union",
        (F.col("m_agree").cast("double") / k).alias("est_jaccard"),
        (F.col("n_common").cast("double") / F.col("n_union")).alias(
            "true_jaccard"
        ),
        F.expr(
            f"(1000000L * abs(m_agree * n_union - {k}L * n_common))"
            f" div ({k}L * n_union)"
        ).alias("err_micro"),
    )


def incremental_minhash_pairs(
    new_df: DataFrame,
    existing_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs for a corpus INCREMENT: every reported pair
    involves at least one NEW document (new×new and new×old), never
    old×old — the ingestion pattern that makes MinHash dedup viable at
    100 TB: a daily increment is banded against the standing corpus's
    signature table without re-pairing the corpus against itself
    (old×old pairs were already reported when those docs ingested).

    Scale shape: the increment pays signatures + banding in full; the
    standing corpus contributes ONLY its banded signature rows — in
    production that table is persisted once at ingest (signatures are
    content-addressed and immutable) and this function's
    ``existing_df`` side is the stored-signature scan, so per-increment
    cost is |new|·bands explode + one band-key join, independent of any
    old×old pair mass. Candidate verification (minima agreement) runs
    per candidate pair exactly as in :func:`minhash_near_duplicates_md5`.

    Output: (id_a < id_b, est_jaccard, pair_type ∈ {new_new, new_old})
    on the md5-deterministic path — bit-for-bit oracle-able as the m8
    pair set filtered to pairs touching the increment.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig_new = minhash_signatures_md5(new_df, id_col, text_col, n, num_hashes)
    sig_old = minhash_signatures_md5(
        existing_df, id_col, text_col, n, num_hashes
    )

    def _banded(sigs: DataFrame) -> DataFrame:
        return sigs.where(F.col("signature").isNotNull()).select(
            "id",
            "signature",
            F.explode(
                F.array(
                    *[
                        F.concat_ws(
                            ",",
                            F.lit(str(j)),
                            *[
                                F.col("signature")[j * r + k].cast("string")
                                for k in range(r)
                            ],
                        )
                        for j in range(bands)
                    ]
                )
            ).alias("bk"),
        )

    bn = cache.track(_banded(sig_new), eager=True)
    ball = bn.withColumn("is_new", F.lit(True)).unionByName(
        _banded(sig_old).withColumn("is_new", F.lit(False))
    )
    # no forced broadcast here (round-10 review): bn carries the FULL
    # signature arrays, so a mandatory hint would cap increment size at
    # Spark's 8 GB broadcast limit where the previous AQE-chosen join
    # completed — the eager persist above gives AQE real statistics to
    # pick broadcast when the increment is small, shuffle when not.
    # (The streaming twin bands key-only and bounds its trigger size,
    # so IT keeps the explicit hint.)
    a = bn.alias("a")
    b = ball.alias("b")
    # one-sided join: left side is ALWAYS the increment, so old×old
    # cells never pair; canonicalize to id_a < id_b and dedup the
    # new×new pairs seen from both sides
    pairs = (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            F.when(F.col("a.id") < F.col("b.id"), F.col("a.signature"))
            .otherwise(F.col("b.signature"))
            .alias("sig_a"),
            F.when(F.col("a.id") < F.col("b.id"), F.col("b.signature"))
            .otherwise(F.col("a.signature"))
            .alias("sig_b"),
            F.col("b.is_new").alias("other_is_new"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.first("sig_a").alias("sig_a"),
            F.first("sig_b").alias("sig_b"),
            # a pair is new_new iff BOTH endpoints are increments: the
            # left side always is, so check any observation of the
            # right side being new (consistent across duplicates)
            F.max(F.col("other_is_new")).alias("both_new"),
        )
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    )
    return pairs.select(
        "id_a",
        "id_b",
        (agree.cast("double") / F.lit(num_hashes)).alias("est_jaccard"),
        F.when(F.col("both_new"), F.lit("new_new"))
        .otherwise(F.lit("new_old"))
        .alias("pair_type"),
    ).where(F.col("est_jaccard") >= threshold)


def canonicalize_clusters(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    score_col: str = "score",
) -> DataFrame:
    """Turn near-dup CLUSTERS into a deduplication DROP LIST: per
    cluster keep the highest-``score`` member (quality score, text
    length, recency — the caller's policy), ties broken by smallest id
    (deterministic), and emit every other member with the survivor it
    deduplicates to. This is the last step of the near-dup pipeline —
    m8 pairs → m13 components → which rows actually leave the corpus —
    and the audit artifact reviewers sign off on before a destructive
    dedup at 100 TB.

    Input: ``clusters`` (id, cluster_id) from :func:`near_dup_clusters`;
    ``scores`` (id, score) — any per-doc frame. Output:
    (doc_id, cluster_id, keep_id, score) for each DROPPED member,
    i.e. ``count = Σ (|cluster| − 1)``.

    Score coverage (ADVICE r10): cluster members MISSING from
    ``scores`` are kept in the audit with a NULL score via a LEFT
    join — an inner join would silently drop them from both the keep
    pick and the drop list, shrinking the artifact that gates a
    destructive dedup. NULL sorts below every real score (``max``
    ignores NULLs), so an unscored member can never win survivorship
    unless its ENTIRE cluster is unscored (then the eqNullSafe tie
    logic keeps the smallest id — still deterministic).

    Shape: one id-keyed join (score attach), a cluster-grain max +
    min-id-among-ties pick (two map-side-combined hash-aggs and a
    cluster-keyed tie filter — type-safe for string ids, exact past
    2^53), one cluster-keyed join back. Every stage partitions on its
    key; no window over the corpus, no driver loop.
    """
    scored = clusters.join(
        scores.select(
            F.col(id_col).alias("__id"), F.col(score_col).alias("__score")
        ),
        clusters[id_col] == F.col("__id"),
        "left",
    ).select(
        F.col(id_col), F.col(cluster_col), F.col("__score").alias("score")
    )
    # two-stage deterministic pick (round-10 review): max score per
    # cluster, then MIN id among the score-ties. The one-agg
    # max_by(id, struct(score, -id)) alternative silently breaks for
    # non-numeric ids (unary minus casts a string id to double → NULL →
    # undefined tie order) and loses precision past 2^53 — this shape
    # is type-safe for any orderable id. Both aggs map-side combine;
    # the tie filter join reuses the cluster partitioning.
    best = scored.groupBy(cluster_col).agg(F.max("score").alias("__best"))
    keep = (
        scored.join(best, cluster_col)
        .where(F.col("score").eqNullSafe(F.col("__best")))
        .groupBy(cluster_col)
        .agg(F.min(id_col).alias("keep_id"))
    )
    return (
        scored.join(keep, cluster_col)
        .where(F.col(id_col) != F.col("keep_id"))
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(cluster_col),
            "keep_id",
            "score",
        )
    )


def split_leakage_matrix(
    docs: DataFrame,
    fold_col: str = "fold",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Cross-split leakage audit: for every ordered split pair
    (fold_a < fold_b), how many DISTINCT word ``n``-grams appear in
    both splits — the train/val/test leakage matrix reviewed before a
    split assignment ships (the split-level complement of
    :func:`contamination_pairs`, which names the offending doc pairs
    for one train/eval split).

    Scale shape: one Arrow shingle pass, one gram-grain hash-agg to the
    per-gram FOLD SET (``collect_set`` — bounded by k folds, never by
    docs), then an array-LOCAL ordered-pair explode (≤ k(k−1)/2 rows per
    gram; the m63 basket-local trick) and a k²-row count. No gram
    self-join, no doc×doc anything — corpus cost is exactly the shingle
    explode plus one shuffle at the gram grain.

    Output is DENSE (ADVICE r10): exactly k(k−1)/2 rows, one per
    ordered fold pair present in ``docs``, with ``shared_grams = 0``
    for clean pairs — so a zero-leakage pair is visibly zero, not
    indistinguishable from an absent fold when matrices are diffed
    across runs. The pair universe is one 1-row ``collect_set`` over
    the fold column (array-local pair expansion, no self-join) left-
    joined against the sparse counts — k² extra rows, free.
    """
    sh_udf = _shingle_array_udf(n)
    # fold rides the explode directly — no id join-back, the gram stream
    # goes straight into the gram-grain agg
    folded = docs.select(
        F.col(fold_col), F.explode(sh_udf(F.col(text_col))).alias("sh")
    )
    fold_sets = folded.groupBy("sh").agg(
        F.array_sort(F.collect_set(fold_col)).alias("fs")
    )
    pairs = fold_sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "fs",
                    lambda x, i: F.transform(
                        F.slice(F.col("fs"), i + 2, F.size("fs")),
                        lambda y: F.struct(
                            x.alias("fold_a"), y.alias("fold_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    counts = pairs.groupBy(
        F.col("p.fold_a").alias("fold_a"), F.col("p.fold_b").alias("fold_b")
    ).agg(F.count(F.lit(1)).cast("long").alias("shared_grams"))
    # dense universe: every ordered fold pair from the INPUT frame
    # (folds whose docs carry no qualifying gram still appear) — one
    # 1-row collect_set agg + the same array-local pair expansion, then
    # a broadcast-sized left join; clean pairs read shared_grams = 0
    universe = (
        docs.agg(F.array_sort(F.collect_set(fold_col)).alias("fs"))
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        "fs",
                        lambda x, i: F.transform(
                            F.slice(F.col("fs"), i + 2, F.size("fs")),
                            lambda y: F.struct(
                                x.alias("fold_a"), y.alias("fold_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.fold_a", "p.fold_b")
    )
    return universe.join(counts, ["fold_a", "fold_b"], "left").select(
        "fold_a",
        "fold_b",
        F.coalesce(F.col("shared_grams"), F.lit(0).cast("long")).alias(
            "shared_grams"
        ),
    )


def incremental_exact_dups(
    new_df: DataFrame,
    existing_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-duplicate report for a corpus INCREMENT — the exact twin of
    :func:`incremental_minhash_pairs` (m66), run first in an ingest
    pipeline because it is the cheap filter: every increment doc whose
    md5(text) already exists in the standing corpus (``exact_old``) or
    earlier in the increment itself (``exact_new``), with the id it
    duplicates. Standing-vs-standing is never compared (those dupes
    were reported at their own ingest).

    Output: (doc_id, dup_of, dup_type) for DUPLICATE increment docs
    only; ``dup_of`` = the smallest standing id with the same hash, else
    the smallest increment id (group canonical). Content hashes are
    md5 — bit-reproducible in any engine, so the report is exactly
    SQL-oracle-able.

    NULL-text rows are never reported (md5(NULL) is NULL and the inner
    hash join drops it — no content, no duplicate relation).

    Scale shape: one hash-agg of the standing corpus to (hash, min id)
    — in production that table is persisted once at ingest and this
    side is a scan — plus one hash-keyed join against the increment's
    hashes and one increment-grain min. No text ever shuffles: hashes
    and ids only.
    """
    h_new = new_df.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("h")
    )
    old_min = (
        existing_df.select(
            F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("h")
        )
        .groupBy("h")
        .agg(F.min("id").alias("old_min"))
    )
    new_min = h_new.groupBy("h").agg(F.min("id").alias("new_min"))
    return (
        h_new.join(old_min, "h", "left")
        .join(new_min, "h")
        .where(
            F.col("old_min").isNotNull() | (F.col("id") > F.col("new_min"))
        )
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce(F.col("old_min"), F.col("new_min")).alias("dup_of"),
            F.when(F.col("old_min").isNotNull(), F.lit("exact_old"))
            .otherwise(F.lit("exact_new"))
            .alias("dup_type"),
        )
    )


def incremental_pairs_from_signatures(
    sig_new: DataFrame,
    sig_old: DataFrame,
    num_hashes: int,
    bands: int,
    threshold: float,
    n_new: int | None = None,
) -> DataFrame:
    """Signature-table form of the incremental pair join: identical
    banding/verification semantics to ``incremental_minhash_pairs`` but
    the standing side is the persisted (id, signature) table itself —
    no re-hash of old documents ever happens on the streaming path.

    Plan shape (round-10 rewrite, measured at a 500k-doc standing
    corpus): the band explode emits ONLY (id, band-key) — never the
    signature array. Carrying the array through the Generate forces a
    per-exploded-row deep copy out of the parquet columnar batch
    (bands× per signature: 8M array materializations at 500k docs,
    52.8s vs 2.2s for the key-only explode — the profiled bottleneck of
    the first sink cut). Candidate pairs (band collisions, tiny) are
    then joined BACK to the un-exploded signature scans to fetch the
    two arrays for minima-agreement verification — two broadcast probes
    that decode arrays once per matching row, not bands× per corpus
    row. The increment side of the band join is broadcast (one
    trigger's docs vs the whole corpus; bound trigger size with
    maxFilesPerTrigger rather than dropping the hint). Bonus: the pair
    aggregate no longer buffers arrays, so it hash-aggregates instead
    of sort-aggregating."""
    r = num_hashes // bands

    def _banded_keys(sigs: DataFrame) -> DataFrame:
        return sigs.where(F.col("signature").isNotNull()).select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.concat_ws(
                            ",",
                            F.lit(str(j)),
                            *[
                                F.col("signature")[j * r + k].cast("string")
                                for k in range(r)
                            ],
                        )
                        for j in range(bands)
                    ]
                )
            ).alias("bk"),
        )

    bn = _banded_keys(sig_new)
    ball = bn.withColumn("is_new", F.lit(True)).unionByName(
        _banded_keys(sig_old).withColumn("is_new", F.lit(False))
    )
    # mega-batch guard (round-11 review): the increment side of the
    # band join is broadcast by design (one trigger's banded keys vs
    # the whole corpus; callers bound trigger size) — but an
    # availableNow catch-up can deliver one mega-batch, and bands ×
    # |batch| key rows would then be a forced OOM-bound broadcast.
    # Past the cap the hint drops and AQE picks the join (same
    # graceful degradation as the exact-dedup stage). sig_new is
    # persisted by every caller, so the count is cheap — and a caller
    # that already counted it for its own cache fill passes ``n_new``
    # so this doesn't cost a job at all (optimization r14: each extra
    # action is a full plan-and-schedule round trip on the driver).
    n_banded = (sig_new.count() if n_new is None else n_new) * max(bands, 1)
    a = broadcast_if_bounded(bn, n_banded).alias("a")
    b = ball.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            F.col("b.is_new").alias("other_is_new"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.max(F.col("other_is_new")).alias("both_new"))
    )
    # no forced broadcast on the join-backs (round-10 review): candidate
    # count is bounded by band collisions against the WHOLE standing
    # corpus, not by trigger size (a boilerplate-heavy batch can collide
    # with a large corpus fraction), and with_a additionally carries
    # arrays — AQE picks broadcast from runtime sizes in the common tiny
    # case and falls back to a shuffle join instead of an 8 GB failure
    # in the pathological one.
    sigs_all = sig_new.unionByName(sig_old)
    with_a = sigs_all.select(
        F.col("id").alias("id_a"), F.col("signature").alias("sig_a")
    ).join(cand, "id_a")
    pairs = sigs_all.select(
        F.col("id").alias("id_b"), F.col("signature").alias("sig_b")
    ).join(with_a, "id_b")
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            (agree.cast("double") / F.lit(num_hashes)).alias("est_jaccard"),
            F.when(F.col("both_new"), F.lit("new_new"))
            .otherwise(F.lit("new_old"))
            .alias("pair_type"),
        )
        .where(F.col("est_jaccard") >= threshold)
        # exactly-once per pair even if a doc id ever appears twice in
        # the signature table (the join-back would re-expand what the
        # pre-rewrite first() aggregate collapsed); pair-sized shuffle
        .dropDuplicates(["id_a", "id_b"])
    )


def _kgram_hashes(t: Column, k: int) -> Column:
    """The md5 hex hash of every ``k``-token window of the token array
    ``t``, in position order: element ``i`` (1-based) hashes tokens
    ``i .. i+k-1`` joined by single spaces. O(n·k) JVM array slices —
    never ``element_at`` per index, the O(n²) trap.

    ``sequence(1, size - k + 1)`` counts DOWN for a doc shorter than
    ``k``, so every caller guards short docs itself. Pass a tokens
    column already materialized in its own projection (see
    ``text.ngram_novelty``): the interpreted lambda then slices a
    computed array instead of re-running the split per position."""
    return F.transform(
        F.sequence(F.lit(1), F.size(t) - F.lit(k - 1)),
        lambda i: F.md5(F.concat_ws(" ", F.slice(t, i, k))),
    )


def _gram_positions(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """The positional gram frame ``(doc_id, s, gh)``: one row per
    k-gram of every doc with at least ``k`` tokens, ``s`` its 1-based
    start token."""
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("t")
    ).where(F.size("t") >= k)
    return base.select(
        "doc_id",
        F.posexplode(_kgram_hashes(F.col("t"), k)).alias("pos0", "gh"),
    ).select("doc_id", (F.col("pos0") + 1).alias("s"), "gh")


def _merge_islands(marks: DataFrame) -> DataFrame:
    """Merge per-doc intervals ``(doc_id, s, e)`` (``e`` exclusive, ``s``
    unique per doc) into maximal spans ``(doc_id, span_start, span_end,
    span_tokens)``: overlapping and touching intervals join one span.

    Gaps-and-islands in a window PARTITIONED BY DOC, so state is bounded
    by document length, never corpus length: ordered by start, a mark
    opens a new island iff it starts past the running max end."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("s")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = marks.withColumn(
        "brk",
        F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(-1)), 1).otherwise(0),
    ).withColumn(
        "isl", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        flagged.groupBy("doc_id", "isl")
        .agg(F.min("s").alias("span_start"), F.max("e").alias("span_end"))
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start"))
            .cast("long")
            .alias("span_tokens"),
        )
    )


def _excise_spans(t: Column, spans: Column) -> Column:
    """The tokens of ``t`` that no span in ``spans`` covers, in order.
    ``spans`` is an ``array<struct<span_start:int,span_end:int>>`` of
    disjoint 1-based intervals, end exclusive (NULL = no spans), as
    :func:`_merge_islands` yields them.

    Gap-slice assembly (optimization r15): the kept text is exactly the
    concatenation of the inter-span gaps — one aggregate over the (few)
    sorted spans whose step is a JVM array slice+concat, O(tokens +
    spans·copy), instead of a per-token indexed filter with an exists()
    lambda per position (interpreted, O(tokens × spans)). The gap
    before span x is [prev+1, span_start-1] with prev = previous
    span_end − 1 (the last covered position), and slice() with length 0
    at touching spans yields the empty gap exactly."""
    sp = F.coalesce(
        spans, F.array().cast("array<struct<span_start:int,span_end:int>>")
    )
    return F.aggregate(
        F.array_sort(sp),
        F.struct(
            F.lit(0).alias("prev"),
            F.array().cast("array<string>").alias("acc"),
        ),
        lambda st, x: F.struct(
            (x["span_end"] - 1).alias("prev"),
            F.concat(
                st["acc"],
                F.slice(t, st["prev"] + 1, x["span_start"] - st["prev"] - 1),
            ).alias("acc"),
        ),
        lambda st: F.concat(
            st["acc"], F.slice(t, st["prev"] + 1, F.size(t) - st["prev"])
        ),
    )


def repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Long-substring dedup, detection stage (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): the
    maximal token spans covered by ``k``-token runs that repeat at least
    ``min_count`` times corpus-wide (across docs OR within one — the
    paper removes both). VERDICT r10 #3 — the one LLM-dedup modality
    m60 (corpus-frequent trigram scrub) and m29 (winnowing overlap
    detection) bracket but neither delivers: find-and-EXCISE verbatim
    repeats at ~50-token grain; :func:`excise_repeated_spans` is the
    excision.

    Correctness frame: a verbatim repeat of length ≥ k tokens is a run
    of repeated k-grams, so flagging repeated k-grams and merging
    overlapping/adjacent flagged windows yields exactly the maximal
    repeated spans at k-token resolution (repeats shorter than k are
    invisible — the paper's own grain cutoff). This is the sorted
    k-gram-chain route; a true suffix array is deliberately out of
    Spark shape (a corpus-global order-dependent structure — the
    k-gram chain is the shuffle-friendly equivalent at fixed grain).

    Plan shape: per-doc k-gram HASHES from O(n·k) array slices (md5 of
    the joined slice — positions ride a posexplode; never element_at
    per index, the O(n²) trap), ONE hash-agg at gram grain for the
    repeat filter, a semi-join back (gram-keyed, candidate-sized right
    side), then gaps-and-islands interval merging in a window
    PARTITIONED BY DOC — state bounded by document length, never corpus
    length. No doc×doc join anywhere; corpus cost = the gram explode +
    one gram-grain shuffle (the m60/m68 budget).

    Output: (doc_id, span_start, span_end, span_tokens) — 1-based token
    indices, end exclusive, ordered within doc; ``span_tokens ≥ k``.
    """
    # The gram pass is the dominant cost (O(n·k) slice-concat + md5 per
    # token position) and BOTH the repeat filter and the mark join read
    # it — unpersisted, the plan ran the whole generation twice
    # (optimization r15; two Generate nodes in the r14 plan). One lazy
    # persist: the filter side fills it, the mark side reads blocks.
    grams = cache.track(_gram_positions(df, id_col, text_col, k))
    rep = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_count)
        .select("gh")
    )
    marks = grams.join(rep, "gh").select(
        "doc_id", "s", (F.col("s") + k).alias("e")
    )
    return _merge_islands(marks)


def excise_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Long-substring dedup, excision stage: remove every token covered
    by a :func:`repeated_spans` span and reassemble the document (the
    m60 positional-cover/reassembly machinery at span grain). Docs with
    no repeated span pass through byte-identical; docs whose entire
    text is one repeated span come back empty (n_kept = 0, text "").

    Output: (doc_id, n_tokens, n_removed, text) — cleaned text with
    single-space joins (the tokenizer's inverse up to whitespace
    normalization, same contract as m60's scrub). EVERY input doc gets
    a row (round-11 review): empty/whitespace/NULL text surfaces as
    (0, 0, "") rather than silently vanishing — a pipeline replacing
    its corpus with the excised output must not delete rows.
    """
    spans = repeated_spans(df, id_col, text_col, k, min_count)
    # Row-local rebuild (optimization r14, guide §2.3 — shuffle the span
    # METADATA, never the tokens): spans are merged non-overlapping
    # intervals, a handful per doc, so collect them into one array per
    # doc and excise with per-row higher-order functions. The previous
    # shape exploded every token to (doc, pos, tok) rows, anti-joined
    # them against an exploded position cover, and re-assembled the
    # text through a sort_array(collect_list(...)) aggregate — three
    # token-grain exchanges carrying the corpus text; this shape's only
    # exchange is the doc-grain span-array join (span-doc-sized side).
    spans_per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__sp")
    )
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("t")
    )
    kept = _excise_spans(F.col("t"), F.col("__sp"))
    return (
        base.join(spans_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.size("t"), F.lit(0)).cast("long").alias("n_tokens"),
            kept.alias("__kept"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("n_tokens")
                - F.coalesce(F.size("__kept"), F.lit(0))
            )
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.array_join("__kept", " "), F.lit("")).alias("text"),
        )
    )


#: Trigger-size guard for the exact-dedup broadcast fast path
#: (VERDICT r10 #6): the exact-dedup sink/funnel broadcasts the batch's
#: (id, hash) frame against one map-side standing scan — correct while
#: triggers are bounded (maxFilesPerTrigger), but an availableNow
#: catch-up over a huge backlog can deliver one mega-batch. Past this
#: many DISTINCT batch hashes (~2M rows ≈ 100s of MB with md5 strings)
#: the forced hint is dropped and the joins fall back to AQE's choice —
#: a shuffle join that degrades gracefully instead of an executor-OOM
#: broadcast. The decision costs one row-local count over the
#: (persisted) batch.
BROADCAST_HINT_MAX_ROWS = 2_000_000


def broadcast_if_bounded(df: DataFrame, n_rows: int):
    """``F.broadcast(df)`` when ``n_rows`` is under
    :data:`BROADCAST_HINT_MAX_ROWS`, else ``df`` unhinted (AQE decides).
    """
    return F.broadcast(df) if n_rows <= BROADCAST_HINT_MAX_ROWS else df


def _exact_hash_stage(
    h_new: DataFrame, standing: DataFrame | None, n_hashes: int
) -> tuple[DataFrame, DataFrame]:
    """The trigger-side exact-dedup stage shared by the ingest funnel
    and the streaming exact sink: ``h_new`` is the batch's (id, h)
    content hashes, ``standing`` the (h, canonical_id) table or None
    (first batch), ``n_hashes`` the batch's distinct-hash count (the
    broadcast guard). Returns ``(report, new_hashes)``: the (doc_id,
    dup_of, dup_type) report of :func:`incremental_exact_dups` and the
    (h, canonical_id) rows of hashes not yet standing.

    Scale shape: the batch hashes are broadcast against ONE map-side
    scan of the standing table (matched hashes and their canonical ids
    come back candidate-sized); the standing table is never shuffled.
    The candidate-sized ``enriched`` frame is tracked so the report,
    the new-hash rows and their emptiness checks reuse one standing
    scan. The persist is lazy: its first consumer is a broadcast build,
    a single driver-side collect, so the fill cannot race, and an eager
    fill would cost one more serial job per batch."""
    bc = lambda d: broadcast_if_bounded(d, n_hashes)  # noqa: E731
    new_min = h_new.groupBy("h").agg(F.min("id").alias("new_min"))
    if standing is None:
        # derive an EMPTY matched frame from the batch itself so
        # old_min's type always equals the caller's id type
        matched = new_min.select("h", F.col("new_min").alias("old_min")).limit(0)
    else:
        matched = (
            standing.join(bc(h_new.select("h").distinct()), "h")
            .groupBy("h")
            .agg(F.min("canonical_id").alias("old_min"))
        )
    enriched = cache.track(new_min.join(bc(matched), "h", "left"))
    report = (
        h_new.join(bc(enriched), "h")
        .where(
            F.col("old_min").isNotNull() | (F.col("id") > F.col("new_min"))
        )
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce(F.col("old_min"), F.col("new_min")).alias("dup_of"),
            F.when(F.col("old_min").isNotNull(), F.lit("exact_old"))
            .otherwise(F.lit("exact_new"))
            .alias("dup_type"),
        )
    )
    # hashes already standing keep their canonical row untouched
    new_hashes = enriched.where(F.col("old_min").isNull()).select(
        "h", F.col("new_min").alias("canonical_id")
    )
    return report, new_hashes


@dataclasses.dataclass(frozen=True)
class GramProbe:
    """An EXISTENCE-PROBE view of a corpus' k-gram hashes: the wrapped
    frame may carry per-occurrence multiplicity (no distinct shuffle was
    paid), so it is only valid where the consumer dedups downstream —
    exactly the incremental span path's standing-side probe
    (:func:`incremental_repeated_spans`, whose ``matched`` set applies
    its own ``distinct``). The type IS the contract (VERDICT r11
    "what's wrong" #3): a multiset can no longer be silently handed to
    a consumer that assumes set semantics — such a caller receives a
    ``GramProbe`` object, not a DataFrame, and fails loudly. Build one
    with :func:`gram_probe`; MATERIALIZED gram state stays a true set
    (:func:`gram_set`)."""

    frame: DataFrame


def _gram_frame(sg) -> DataFrame | None:
    """Unwrap a ``DataFrame | GramProbe | None`` standing-gram input."""
    return sg.frame if isinstance(sg, GramProbe) else sg


def gram_probe(
    df: DataFrame,
    text_col: str = "text",
    k: int = 50,
) -> GramProbe:
    """A transient existence-probe over ``df``'s k-grams — the
    ``distinct``-free (pure map-side explode) twin of :func:`gram_set`,
    wrapped in :class:`GramProbe` so the skipped-shuffle trade is typed
    rather than commented. Deliberately takes no id column: the probe
    frame is id-free by design (doc attribution lives in
    :func:`doc_gram_set`)."""
    return GramProbe(_gram_explode(df, text_col, k))


def _gram_explode(df: DataFrame, text_col: str, k: int) -> DataFrame:
    base = df.select(tokens(text_col).alias("t")).where(F.size("t") >= k)
    return base.select(F.explode(_kgram_hashes(F.col("t"), k)).alias("gh"))


def gram_set(
    df: DataFrame,
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """The standing k-gram SET a corpus contributes — one (gh,) row per
    DISTINCT k-token-run md5 — the persisted state of the incremental
    long-substring path (:func:`incremental_repeated_spans`). Content-
    addressed and append-only: new corpora only ever ADD grams.

    Storage realism (documented trade): one row per distinct k-gram is
    O(total distinct token windows) — the price every k-gram-chain /
    suffix-array dedup pays to see cross-corpus repeats; at 100 TB it
    is a large but flat, hash-shardable table (md5 keys distribute
    uniformly), and only EXISTENCE is stored, never positions.

    For a transient existence probe that skips the dedup shuffle, use
    :func:`gram_probe` — the typed multiset variant (its wrapper class
    documents exactly where that trade is sound). For a RETRACTABLE
    persisted gram table, use :func:`doc_gram_set` (doc-attributed rows
    an anti-join can subtract).
    """
    return _gram_explode(df, text_col, k).distinct()


def doc_gram_set(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """Per-doc DISTINCT k-gram rows ``(doc_id, gh)`` — the
    DOC-ATTRIBUTED form of :func:`gram_set`, which is what makes gram
    state RETRACTABLE: dropping a doc is one anti-join on ``doc_id``
    (``plans.retract``), and the surviving rows' distinct ``gh`` set
    equals a from-scratch :func:`gram_set` over the surviving corpus —
    a (gh)-only set can never be subtracted exactly because it records
    no contributor. Existence readers select ``gh`` and dedup
    downstream (the standing probe in
    :func:`incremental_repeated_spans` already does). Storage is one
    row per (doc, distinct-gram) instead of per distinct gram — the
    same order for long-k grams, which are rarely shared across docs
    (sharing IS the repeat signal)."""
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("t")
    ).where(F.size("t") >= k)
    return base.select(
        "doc_id", F.explode(_kgram_hashes(F.col("t"), k)).alias("gh")
    ).distinct()


def incremental_repeated_spans_state(
    new_df: DataFrame,
    standing_grams: DataFrame | GramProbe | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    attributed: bool = False,
) -> dict[str, DataFrame]:
    """:func:`incremental_repeated_spans` plus the state delta a sink
    must persist: ``{"spans": ..., "new_grams": ...}`` where
    ``new_grams`` is the increment's distinct gram hashes NOT already
    standing — derived from the SAME gram explode and the SAME standing
    probe as the span detection (round-11 review: the sink previously
    rebuilt both independently, doubling the standing-side scan the
    docstring promises happens once).

    ``attributed=True`` adds ``"doc_grams"`` — the increment's
    per-doc DISTINCT (doc_id, gh) rows (ALL of them, not just unseen:
    retraction must know every contributor), the delta for a
    RETRACTABLE gram table (:func:`doc_gram_set` shape). It comes from
    the same cached gram explode as the spans, not a second tokenize
    pass (round-12 second review)."""
    # GramProbe (typed multiset) and true set tables are interchangeable
    # HERE — the matched set below applies its own distinct; a persisted
    # doc-attributed gram table (doc_gram_set) also reads fine, its gh
    # column is all this probe touches
    standing_grams = _gram_frame(standing_grams)
    grams = _gram_positions(new_df, id_col, text_col, k)
    if attributed:
        # the positional gram frame feeds THREE consumers in attributed
        # mode (counts, marks, doc_grams) — pin it so the explode runs
        # once; batch-bounded rows
        grams = cache.track(grams)
    inc_counts = cache.track(
        grams.groupBy("gh").agg(F.count(F.lit(1)).alias("c"))
    )
    n_inc = inc_counts.count()  # fills the cache; also the hint guard
    bc = lambda d: broadcast_if_bounded(d, n_inc)  # noqa: E731
    if standing_grams is None:
        matched = inc_counts.select("gh").limit(0)
    else:
        # ONE map-side pass over the standing gram set: broadcast the
        # increment's distinct hashes, matched set comes back
        # candidate-sized; the standing table is never shuffled. The
        # distinct matters when standing_grams carries multiplicity
        # (GramProbe callers, or a doc-attributed doc_gram_set table):
        # a corpus-frequent gram must not inflate the frame that gets
        # broadcast below.
        matched = (
            standing_grams.join(bc(inc_counts.select("gh")), "gh")
            .select("gh")
            .distinct()
        )
    flagged = inc_counts.where(F.col("c") >= 2).select("gh").unionByName(
        matched
    ).distinct()
    marks = grams.join(bc(flagged), "gh").select(
        "doc_id", "s", (F.col("s") + k).alias("e")
    )
    spans = _merge_islands(marks)
    new_grams = inc_counts.select("gh").join(bc(matched), "gh", "left_anti")
    out = {"spans": spans, "new_grams": new_grams}
    if attributed:
        out["doc_grams"] = grams.select("doc_id", "gh").distinct()
    return out


def incremental_repeated_spans(
    new_df: DataFrame,
    standing_grams: DataFrame | GramProbe | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """Long-substring dedup for a corpus INCREMENT — the ingest-path
    twin of :func:`repeated_spans`, completing the incremental family
    (m69 exact, m66 near-dup, this at span grain): maximal token spans
    of NEW docs whose k-grams repeat anywhere in standing ∪ increment.

    Metamorphic contract (the m66/m69 claim, pinned by test and the
    m73 oracle): the reported span set equals
    ``repeated_spans(standing ∪ increment)`` restricted to increment
    docs — while the standing corpus is touched only through its gram
    SET (``standing_grams`` from :func:`gram_set`), never re-tokenized,
    never shuffled. ``min_count`` is fixed at 2 on this path: one
    standing occurrence plus the increment's makes any shared gram a
    repeat, so gram EXISTENCE is sufficient state (counts would need
    merge-on-write; existence appends).

    Scale shape: the increment pays its own gram explode; its DISTINCT
    gram hashes (trigger-bounded) probe the standing set via ONE
    map-side scan (broadcast-guarded like the exact-dedup stage —
    :func:`broadcast_if_bounded`); within-increment repeats come from
    one increment-gram-grain hash-agg. Island merging is doc-local.
    Standing-side cost is exactly one column scan of (gh), whatever
    the corpus size.
    """
    return incremental_repeated_spans_state(
        new_df, standing_grams, id_col, text_col, k
    )["spans"]
