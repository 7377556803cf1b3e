"""Embedding similarity search (SURVEY.md §7.2 M6): brute-force cosine
top-k as the exact baseline, random-hyperplane LSH bucketing and an
IVF-Flat coarse quantizer as the two scale paths.

Scale design:

- **brute_force_topk** — exact. The query set is broadcast (it's the
  small side); each executor scans its corpus partitions once computing
  dot products with JVM higher-order functions (zip_with + aggregate —
  sequential, deterministic double arithmetic), then per-query top-k via
  window. Cost O(|queries| × |corpus| × dim) — right answer for
  |queries| ≪ |corpus|. Never materializes the full similarity matrix
  when k is small: the window keeps k rows per query per partition
  before the final shuffle.
- **ivf_topk** — approximate, FAISS-IVF-Flat-shaped. A spherical
  k-means coarse quantizer (trained driver-side on a small deterministic
  sample — the one legitimate ``collect`` in this module) partitions the
  corpus into ``n_lists`` inverted lists; each query probes its
  ``nprobe`` nearest lists and scores exactly within them. Cost
  O(|corpus| × n_lists × dim) for one-off assignment plus
  O(|corpus| × nprobe/n_lists × |queries| × dim) for scoring. Unlike
  LSH, list sizes are data-adaptive (centroids follow density), so skew
  is bounded without tuning bit counts.
- **hyperplane_lsh_topk** — approximate. Both sides get a ``nbits``-bit
  sign-pattern bucket from fixed pseudo-random hyperplanes (seeded
  numpy, driver-side constants). Join on bucket equality (optionally
  with multiple probe tables / fewer bits for higher recall), score only
  within buckets. Cost drops to O(collisions × dim) — the IVF-style
  recall/cost dial is ``nbits``.

Embeddings are cast to double before any arithmetic: float32 summation
order would otherwise make results partition-order dependent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark import cache


def _as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _pair_cos_udf():
    """Arrow-batched pairwise cosine: one einsum + vectorized norms per
    batch instead of a per-row interpreted JVM fold (2-4× end-to-end on
    the candidate-scoring stages). Only for NON-oracled paths — numpy's
    pairwise-summation dot can differ from the sequential JVM fold in
    the last ulp, which is fine for recall-floored ANN ops but would
    break the m7/m11 DuckDB hash parity (those keep ``cosine``)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_cos(va_s: pd.Series, vb_s: pd.Series) -> pd.Series:
        A = np.vstack(va_s.to_numpy())
        B = np.vstack(vb_s.to_numpy())
        dots = np.einsum("ij,ij->i", A, B)
        return pd.Series(
            dots / (np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1))
        )

    return pair_cos


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k neighbors for each query over the corpus.

    Output: (query_id, neighbor_id, score, rank) with rank 1..k, score
    descending, ties broken by neighbor id ascending (deterministic).
    Self-matches (same id) are excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    score = {
        "cosine": cosine(F.col("qv"), F.col("cv")),
        "dot": dot(F.col("qv"), F.col("cv")),
    }[metric]
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", score.alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def grouped_zscore_normalize(
    df: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group z-score normalization of embedding vectors via
    ``applyInPandas`` (grouped-map Pandas UDF — the third Arrow surface
    next to mapInPandas and applyInPandasWithState).

    Each group's vectors are stacked into a numpy matrix, normalized by
    the group's per-dimension mean/std (ddof=0; zero-variance dims pass
    through), and returned with the same ids. Group-sized state is the
    scaling unit: a group must fit one executor's Arrow batch — for
    groups of unbounded size, compute moments with DataFrame aggs and
    join instead (same math, two shuffles, no size limit).
    """
    import pandas as pd

    schema = df.select(id_col, group_col, vec_col).schema

    def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
        std = m.std(axis=0)
        std[std == 0] = 1.0
        normed = (m - m.mean(axis=0)) / std
        out = pdf[[id_col, group_col]].copy()
        out[vec_col] = list(normed.astype("float32"))
        return out

    return df.select(id_col, group_col, vec_col).groupBy(group_col).applyInPandas(
        _normalize, schema=schema
    )


def random_hyperplanes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic hyperplane normals for sign-LSH (driver-side
    constants, broadcast with the plan)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((nbits, dim)).tolist()


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    nbits: int = 6,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH (OR-amplification).

    A single nbits-bit table has per-neighbor collision probability
    (1 - θ/π)^nbits — too low for useful recall. With L independent
    tables a pair collides if it matches in ANY table:
    1 - (1 - p^nbits)^L. The recall/cost dials: nbits ↑ ⇒ smaller
    buckets (fewer false candidates); n_tables ↑ ⇒ higher recall
    (more candidates). Exact cosine is computed on the candidate union
    only; output schema matches ``brute_force_topk`` (rank may stop
    short of k when buckets are small — the approximation showing).
    """
    from pyspark.sql.functions import pandas_udf

    # All-table bucket ids in one vectorized numpy pass: a (rows × dim)
    # batch matmul against (dim × n_tables·nbits) stacked hyperplanes,
    # sign bits packed per table. Building the equivalent JVM expression
    # tree (n_tables × nbits × dim literal nodes through interpreted
    # higher-order functions) measured ~50× slower — this is the
    # legitimate Pandas-UDF case: Arrow batches + BLAS beat codegen-less
    # expression interpretation.
    all_planes = np.vstack(
        [random_hyperplanes(dim, nbits, seed + 1000 * t) for t in range(n_tables)]
    )  # (n_tables*nbits, dim)
    weights = (2 ** np.arange(nbits - 1, -1, -1)).astype("int64")

    @pandas_udf("array<long>")
    def bucket_ids(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy())  # (rows, dim) float
        bits = (m @ all_planes.T) > 0  # (rows, n_tables*nbits)
        bits = bits.reshape(len(m), n_tables, nbits).astype("int64")
        ids = bits @ weights  # (rows, n_tables)
        return pd.Series(list(ids))

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("buckets", bucket_ids(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).withColumn("buckets", bucket_ids(F.col("cv")))
    tbl_idx = F.sequence(F.lit(0), F.lit(n_tables - 1))
    expand = lambda side: side.select(  # noqa: E731
        "*",
        F.explode(
            F.zip_with(
                F.col("buckets"),
                tbl_idx,
                lambda bkt, t: F.struct(t.alias("tbl"), bkt.alias("bucket")),
            )
        ).alias("b"),
    ).select(
        *[col for col in side.columns if col != "buckets"],
        F.col("b.tbl").alias("tbl"),
        F.col("b.bucket").alias("bucket"),
    )
    qb = expand(q)
    cb = expand(c)
    cands = (
        cb.join(F.broadcast(qb), ["tbl", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        _pair_cos_udf()(F.col("qv"), F.col("cv")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def lsh_plane_coeffs(
    n_tables: int, nbits: int, dim: int, salt: str = "lshp"
) -> "np.ndarray":
    """Deterministic INTEGER hyperplane components for the exact sign-LSH
    variant: c(t,b,d) = md5₆₀("salt:t:b:d") mod 2²⁰ − 2¹⁹ — a centered
    20-bit integer, symmetric around 0 (any symmetric component
    distribution yields valid sign-LSH). md5-derived so a SQL oracle
    regenerates the planes from the same strings with zero literals.
    20 bits keeps every dot term |v·c| < 2³¹ for milli-unit vectors —
    exact in BIGINT/int64 in both engines. Returns an
    (n_tables·nbits, dim) int64 matrix, table-major."""
    from novi_pdq_etl_project_prod_spark.operators.dedup import _md5_long60_py

    rows = []
    for t in range(n_tables):
        for b in range(nbits):
            rows.append(
                [
                    _md5_long60_py(f"{salt}:{t}:{b}:{d}") % (1 << 20) - (1 << 19)
                    for d in range(dim)
                ]
            )
    return np.asarray(rows, dtype=np.int64)


def embedding_lsh_pairs_exact(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_num: int = 7,
    threshold_den: int = 20,
    scale: int = 1000,
    nbits: int = 6,
    n_tables: int = 8,
    dim: int = 64,
    salt: str = "lshp",
) -> DataFrame:
    """Embedding near-dup pairs via sign-LSH, EXACT cross-engine (the
    m24 graduation, VERDICT r07 item 1): every decision is integer
    arithmetic shared bit-for-bit with a DuckDB oracle.

    - vectors quantize to milli units Spark-side (``round(e·scale)`` —
      the certified cluster_scoped_dup_pairs idiom);
    - hyperplanes are md5-derived centered 20-bit INTEGERS
      (:func:`lsh_plane_coeffs`): sign bits come from exact int64 dot
      products, so bucketing is reproducible anywhere — unlike the
      float-plane production path (:func:`embedding_near_dup_pairs_lsh`),
      whose numpy matmul signs can differ in the last ulp across BLAS
      builds (that path keeps the auto-sized codes and bucket-occupancy
      caps for recall-floored production use);
    - candidate verification reuses the exact rational cosine test
      ``dot ≥ 0 ∧ den²·dot² ≥ num²·‖a‖²·‖b‖²`` per (table, bucket) cell
      with one int64 numpy Gram per cell (the m40 block shape — exact
      integers, so BLAS order doesn't matter).

    Output: (id_a < id_b, dot_milli, na_milli, nb_milli), deduplicated
    across tables. Scale shape: |corpus| × n_tables bucket rows, Gram
    cost bounded by bucket occupancy — grow ``nbits`` with the corpus
    exactly as the production path auto-sizes."""
    planes = lsh_plane_coeffs(n_tables, nbits, dim, salt)
    weights = (np.int64(1) << np.arange(nbits, dtype=np.int64))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def bucket_ids(vs: pd.Series) -> pd.Series:
        M = np.stack([np.asarray(v, dtype=np.int64) for v in vs])
        bits = (M @ planes.T) > 0  # exact int64 dots, then sign
        bits = bits.reshape(len(M), n_tables, nbits).astype(np.int64)
        return pd.Series(list(bits @ weights))

    v_int = F.transform(
        _as_double(vec_col), lambda x: F.round(x * scale, 0).cast("long")
    )
    base = corpus.select(
        F.col(id_col).alias("id"), v_int.alias("v")
    ).withColumn(
        "n2",
        F.aggregate("v", F.lit(0).cast("long"), lambda acc, x: acc + x * x),
    ).withColumn("buckets", bucket_ids(F.col("v")))
    tbl_idx = F.sequence(F.lit(0), F.lit(n_tables - 1))
    expanded = base.select(
        "id",
        "v",
        "n2",
        F.explode(
            F.zip_with(
                F.col("buckets"),
                tbl_idx,
                lambda bkt, t: F.struct(t.alias("tbl"), bkt.alias("bucket")),
            )
        ).alias("b"),
    ).select("id", "v", "n2", F.col("b.tbl").alias("tbl"), F.col("b.bucket").alias("bucket"))

    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den
    id_type = dict(corpus.dtypes)[id_col]

    _I64_MAX = np.iinfo(np.int64).max

    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id", kind="mergesort")
        ids = pdf["id"].to_numpy()
        M = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["v"]])
        n2 = pdf["n2"].to_numpy()
        # the Spark-side n2 (F.aggregate in LONG) wraps silently when
        # dim·max|coord|² exceeds int64 — past that everything downstream
        # is garbage, so fail loudly (lower `scale` / normalize inputs)
        cmax = int(np.abs(M).max()) if M.size else 0
        if M.size and M.shape[1] * cmax * cmax > _I64_MAX:
            raise ValueError(
                "embedding_lsh_pairs_exact: quantized coordinates too "
                f"large (max |coord| = {cmax}, dim = {M.shape[1]}) — the "
                "int64 squared-norm accumulation would wrap; reduce "
                "`scale` or pre-normalize the embeddings"
            )
        G = M @ M.T  # exact int64 pairwise dots (|G| ≤ n2max by C-S)
        ia, ib = np.triu_indices(len(ids), 1)
        dots = G[ia, ib]
        n2max = int(n2.max()) if len(n2) else 0
        dmax = int(np.abs(dots).max()) if len(dots) else 0
        if (
            den2 * dmax * dmax > _I64_MAX
            or num2 * n2max * n2max > _I64_MAX
        ):
            # exact arbitrary-precision fallback: the int64 products
            # would wrap silently (the DuckDB oracle's BIGINT ERRORS
            # here — silent divergence is the one unacceptable outcome),
            # so run the oversized cell through Python ints
            d_o = dots.astype(object)
            keep_o = (den2 * d_o * d_o) >= (
                num2 * n2[ia].astype(object) * n2[ib].astype(object)
            )
            keep = (dots >= 0) & keep_o.astype(bool)
        else:
            keep = (dots >= 0) & (
                den2 * dots * dots >= num2 * n2[ia] * n2[ib]
            )
        ia, ib, dots = ia[keep], ib[keep], dots[keep]
        return pd.DataFrame(
            {
                "id_a": ids[ia],
                "id_b": ids[ib],
                "dot_milli": dots,
                "na_milli": n2[ia],
                "nb_milli": n2[ib],
            }
        )

    pairs = expanded.groupBy("tbl", "bucket").applyInPandas(
        _cell_pairs,
        schema=(
            f"id_a {id_type}, id_b {id_type}, "
            "dot_milli long, na_milli long, nb_milli long"
        ),
    )
    return pairs.dropDuplicates(["id_a", "id_b"])


def embedding_near_dup_pairs_lsh(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    dim: int = 64,
    nbits: int | None = None,
    n_tables: int = 16,
    seed: int = 42,
    target_bucket_occupancy: int = 32,
    max_bucket_occupancy: int | None = None,
    engine: str = "block",
) -> DataFrame:
    """Embedding-cosine near-dup PAIRS at scale — the production path for
    which ``m11`` (bounded all-pairs cross join) is the validation
    baseline. Multi-table sign-LSH buckets the corpus; only vectors
    sharing a (table, bucket) cell are paired, then exact cosine filters
    candidates to ``threshold``.

    Scale shape, in order of what matters:

    - candidate pairs ≈ n_tables × n²/(2·2^nbits), so ``nbits`` MUST
      grow with the corpus: by default it is sized from a corpus count
      so mean bucket occupancy ≈ ``target_bucket_occupancy`` (one cheap
      count action; pass ``nbits`` explicitly to skip it). Deeper codes
      lower per-table recall — ``n_tables`` dials it back, and for the
      true near-duplicate regime (cosine ≥ 0.9, bit-agreement ≥ 0.85)
      deep codes stay high-recall.
    - the bucket self-join carries IDS ONLY — vectors join back in per
      side after pair dedup, so the wide rows move |corpus| times, not
      |candidate-pairs| times (measured 8× on the fixture).
    - ``max_bucket_occupancy`` caps bucket SKEW: clustered corpora put a
      cluster's whole mass in a few cells per table, and one 20k-member
      bucket alone yields 4·10⁸ candidate pairs (measured: a 200k-vector
      clustered probe spilled 50 GB before the cap existed). Cells above
      the cap are dropped from pairing — a documented recall trade on
      exactly the pairs a shallower code would also conflate; members of
      a dropped cell usually still collide in another, less-aligned
      table. Set to ~100× target occupancy in production; None = off
      (the ``block`` engine defaults it to 100× target: blocks must be
      bounded to fit an Arrow group).
    - ``engine="block"`` (default) scores each (table, bucket) cell with
      ONE BLAS Gram (``applyInPandas`` — the m37 shape): candidate pairs
      are never materialized as rows, so the pair-shaped traffic is true
      pairs × collision multiplicity instead of the full candidate mass
      (measured 7.5× at 200k vectors: 234s → 31s, dominated before by a
      51M-row candidate-ID join + dedup). ``engine="pairs"`` keeps the
      ids-only candidate join + vectorized verifier — the pure-DataFrame
      fallback where Python workers are unavailable.
    """
    from pyspark.sql.functions import pandas_udf

    vecs_df = cache.track(corpus.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    ))
    if nbits is None:
        n = vecs_df.count()  # also eager-fills the persist
        nbits = min(20, max(4, int(np.ceil(np.log2(
            max(n / target_bucket_occupancy, 2.0)
        )))))

    all_planes = np.vstack(
        [random_hyperplanes(dim, nbits, seed + 1000 * t) for t in range(n_tables)]
    )
    weights = (2 ** np.arange(nbits - 1, -1, -1)).astype("int64")

    @pandas_udf("array<long>")
    def bucket_ids(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy())
        bits = (m @ all_planes.T) > 0
        bits = bits.reshape(len(m), n_tables, nbits).astype("int64")
        return pd.Series(list(bits @ weights))

    tbl_idx = F.sequence(F.lit(0), F.lit(n_tables - 1))
    banded = (
        vecs_df.withColumn("buckets", bucket_ids(F.col("v")))
        .select(
            "id",
            F.explode(
                F.zip_with(
                    F.col("buckets"),
                    tbl_idx,
                    lambda bkt, t: F.struct(t.alias("tbl"), bkt.alias("bucket")),
                )
            ).alias("b"),
        )
        .select("id", F.col("b.tbl").alias("tbl"), F.col("b.bucket").alias("bucket"))
    )
    banded = cache.track(banded, eager=True)  # self-join sides race a lazy cache
    if engine == "block" and max_bucket_occupancy is None:
        max_bucket_occupancy = 100 * target_bucket_occupancy
    if max_bucket_occupancy is not None:
        # one narrow agg over (tbl, bucket); cells above the cap are
        # excluded from BOTH join sides (see docstring recall trade)
        sizes = banded.groupBy("tbl", "bucket").agg(
            F.count(F.lit(1)).alias("__occ")
        )
        banded = (
            banded.join(
                F.broadcast(sizes.where(F.col("__occ") > max_bucket_occupancy)),
                ["tbl", "bucket"],
                "left_anti",
            )
        )
        banded = cache.track(banded, eager=True)
    if engine == "block":
        thr = float(threshold)
        vec_banded = banded.join(vecs_df, "id")

        def _block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("id", kind="mergesort")
            ids = pdf["id"].to_numpy()
            M = np.vstack(pdf["v"].to_numpy())
            norms = np.linalg.norm(M, axis=1)
            norms[norms == 0] = 1.0
            G = (M @ M.T) / np.outer(norms, norms)
            ia, ib = np.triu_indices(len(ids), 1)
            keep = G[ia, ib] >= thr
            ia, ib = ia[keep], ib[keep]
            return pd.DataFrame(
                {"id_a": ids[ia], "id_b": ids[ib], "cos_sim": G[ia, ib]}
            )

        emitted = vec_banded.groupBy("tbl", "bucket").applyInPandas(
            _block_pairs, schema="id_a long, id_b long, cos_sim double"
        )
        # a pair found via several shared cells carries the SAME cos (the
        # block math is a pure function of the two vectors), so the dedup
        # is value-stable; traffic here is true pairs only
        return emitted.dropDuplicates(["id_a", "id_b"])
    if engine != "pairs":
        raise ValueError(f"unknown engine {engine!r}")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = vecs_df.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = vecs_df.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))

    # vectorized exact verification: one Arrow batch einsum instead of a
    # per-pair interpreted JVM fold (the candidate stream is the hot path)
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            _pair_cos_udf()(F.col("va"), F.col("vb")).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def embedding_related_pairs_ivf(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    n_lists: int | None = None,
    nprobe: int = 2,
    target_list_occupancy: int = 256,
    sample_size: int | None = None,
    n_iters: int = 10,
    seed: int = 42,
    max_list_occupancy: int | None = None,
) -> DataFrame:
    """RELATED-pair mining (moderate cosine, e.g. ≥ 0.5) via IVF probe
    lists — the density-adaptive answer to SCALE.md's measured open edge:
    at cos 0.5 the bit-agreement is only 2/3, so depth-tuned sign-LSH
    collisions collapse (13-bit recall 0.198 at 200k vectors) and the
    shallow-code escape hatch was measured and rejected (skew-shaped
    candidate mass). Spherical-k-means lists follow the corpus's cluster
    structure instead of random hyperplanes, so co-probed lists
    concentrate exactly where above-threshold pairs live.

    Pipeline: train centroids on a hash-spread sample (driver numpy,
    bounded) → assign every vector to its ``nprobe`` nearest lists (one
    vectorized Arrow pass) → score each list's full block in ONE BLAS
    matmul (``applyInPandas`` per list) emitting only above-threshold
    pairs → dedup pairs found via multiple shared lists. Precision is
    1.0 by construction (every emitted pair is exactly scored); recall
    is the probe-coverage dial.

    Scale shape:

    - candidate pairs (≈ n · nprobe · occupancy / 2, occupancy ≈
      n·nprobe/n_lists) are NEVER materialized as rows: each list's
      occ × occ block is scored inside one Arrow batch and only hits
      survive, so the only pair-shaped traffic is true pairs + their
      multi-list duplicates. A JVM candidate self-join at the same
      recall measured ~100× slower (interpreted per-pair cosine) and
      shuffles the candidate mass.
    - ``n_lists`` MUST grow with the corpus: auto-sized to
      ``n / target_list_occupancy`` (one count action). Training stays
      driver-bounded: incremental seeding (O(sample·n_lists·dim)), the
      sample floats at 8× n_lists.
    - ``max_list_occupancy`` (default 8× target) bounds the per-list
      block at cap² — the skew quarantine of the LSH pair path, and
      here also the Arrow batch memory bound. A clustered corpus can
      put one cluster's whole mass into one list; multi-probe
      assignment gives dropped-list members a second chance in their
      next-nearest lists.

    Measured at 100× fixture density (200k vectors, SCALE.md): exact
    ground truth 289,748 pairs at cos ≥ 0.5; nprobe=6 with
    target_list_occupancy=128 mines 158k of them — recall 0.545, zero
    false positives, 34s — where depth-tuned sign-LSH measured 0.198.
    Keep occupancy (n·nprobe/n_lists) safely UNDER the hot-list cap:
    over-probing so occupancy reaches the cap quarantines exactly the
    lists holding the pairs (nprobe=8 measured 0.42–0.49).

    Output: (id_a, id_b, cos_sim) with id_a < id_b, cos_sim ≥ threshold.
    """
    from pyspark.sql.functions import pandas_udf

    vecs_df = cache.track(corpus.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    ), eager=True)
    n = vecs_df.count()  # cached: the eager fill already ran it
    if n_lists is None:
        n_lists = int(min(4096, max(4, round(n / target_list_occupancy))))
    if sample_size is None:
        sample_size = int(min(n, max(2048, 8 * n_lists)))
    if max_list_occupancy is None:
        max_list_occupancy = 8 * target_list_occupancy
    cents = train_ivf_centroids(
        vecs_df, "id", "v", n_lists, sample_size, n_iters, seed,
        sample_by_hash=True,
    )
    k_probe = min(nprobe, n_lists)

    @pandas_udf("array<int>")
    def probe_lists(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype("float64")
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ cents.T
        order = np.argsort(-sims, axis=1, kind="stable")[:, :k_probe]
        return pd.Series(list(order.astype("int32")))

    assigned = cache.track(vecs_df.select(
        "id", F.explode(probe_lists(F.col("v"))).alias("list_id"), "v"
    ), eager=True)  # fill before the occupancy agg re-reads it
    sizes = assigned.groupBy("list_id").agg(F.count(F.lit(1)).alias("__occ"))
    assigned = assigned.join(
        F.broadcast(sizes.where(F.col("__occ") > max_list_occupancy)),
        "list_id",
        "left_anti",
    )
    thr = float(threshold)

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        m = np.vstack(pdf["v"].to_numpy()).astype("float64")
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ m.T
        ii, jj = np.nonzero(np.triu(sims >= thr, k=1))
        a, b = ids[ii], ids[jj]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cos_sim": sims[ii, jj]}
        )

    return (
        assigned.groupBy("list_id")
        .applyInPandas(score_block, "id_a long, id_b long, cos_sim double")
        # a pair sharing several probed lists is emitted once per list
        # with an identical float64 score; keep one
        .dropDuplicates(["id_a", "id_b"])
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: q = round(x / scale) with
    scale = max|x| / 127. At 100 TB of embeddings this is the storage
    lever — 4× smaller than float32 (8× vs float64) for <0.1% cosine
    error on typical embedding distributions — and it is a row-local JVM
    transform: no shuffle, no Python. Output: (id, scale, q:array<tinyint>).
    """
    v = _as_double(vec_col)
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0),
        F.lit(1e-12),  # all-zero vectors: keep the division defined
    )
    return df.select(
        F.col(id_col).alias("id"),
        scale.alias("scale"),
        F.transform(v, lambda x: F.round(x / scale).cast("tinyint")).alias("q"),
    )


def dequantize_embeddings(df: DataFrame) -> DataFrame:
    """Inverse of ``quantize_embeddings``: x ≈ q · scale (array<double>)."""
    return df.select(
        "id",
        F.transform(
            F.col("q"), lambda qi: qi.cast("double") * F.col("scale")
        ).alias("v"),
    )


# ---------------------------------------------------------------------------
# IVF-Flat: spherical k-means coarse quantizer + probed exact scoring
# ---------------------------------------------------------------------------

def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    sample_size: int = 2048,
    n_iters: int = 10,
    seed: int = 42,
    sample_by_hash: bool = False,
) -> np.ndarray:
    """Train unit-norm centroids for an IVF index (driver-side Lloyd).

    The training sample is deterministic across partitionings: the
    ``sample_size`` lowest-id vectors by default, or — with
    ``sample_by_hash`` — the lowest by ``xxhash64(id, seed)``, a
    uniform spread over the whole corpus (a lowest-id sample of a corpus
    whose geometry varies along the id axis, e.g. crawl snapshots
    appended over time, trains centroids that only route the head; both
    run as a top-N, never a full sort). k-means++ seeding + Lloyd
    iterations run on the driver in numpy with an incrementally
    maintained best-similarity array, so seeding is O(sample × n_lists ×
    dim) — not the naive O(sample × n_lists² × dim), which matters for
    the pair-mining path's thousands of lists. Centroids are
    L2-normalized each round (spherical k-means) so nearest-centroid-
    by-dot-product == nearest-by-cosine.
    """
    ordering = (
        F.xxhash64(F.col(id_col), F.lit(seed)) if sample_by_hash
        else F.col(id_col)
    )
    rows = (
        corpus.select(id_col, vec_col).orderBy(ordering).limit(sample_size).collect()
    )
    m = np.array([list(r[1]) for r in rows], dtype="float64")
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)

    rng = np.random.default_rng(seed)
    # k-means++ seeding on the sphere (distance = 1 - cosine), with the
    # per-point best similarity updated incrementally per new centroid
    first = m[rng.integers(len(m))]
    centroids = [first]
    best_sim = m @ first
    for _ in range(1, n_lists):
        d = np.maximum(1.0 - best_sim, 0.0)
        probs = d / d.sum() if d.sum() > 0 else np.full(len(m), 1.0 / len(m))
        nxt = m[rng.choice(len(m), p=probs)]
        centroids.append(nxt)
        best_sim = np.maximum(best_sim, m @ nxt)
    cents = np.vstack(centroids)

    for _ in range(n_iters):
        assign = np.argmax(m @ cents.T, axis=1)
        for j in range(n_lists):
            members = m[assign == j]
            if len(members):
                c = members.sum(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    cents[j] = c / n
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    sample_size: int = 2048,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via an IVF-Flat index (train → assign → probe).

    Corpus vectors are assigned to their nearest centroid's inverted
    list (one vectorized Arrow pass); each query probes its ``nprobe``
    nearest lists. Exact cosine is computed only for (query, corpus)
    pairs sharing a probed list — recall misses only neighbors whose
    list the query didn't probe, so ``nprobe/n_lists`` is the recall/
    cost dial. Output schema matches ``brute_force_topk``.

    At scale the corpus side can be written out partitioned by
    ``list_id`` once and re-probed by many query batches — the index is
    a DataFrame, not driver state (see :func:`build_ivf_index` /
    :func:`ivf_index_topk` for the persisted form).
    """
    cents = train_ivf_centroids(
        corpus, id_col, vec_col, n_lists, sample_size, seed=seed
    )
    assigned = _ivf_assign(corpus, cents, id_col, vec_col)
    return _ivf_probe_topk(assigned, queries, cents, id_col, vec_col, k, nprobe)


def _ivf_assign(
    corpus: DataFrame, cents: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    """(neighbor_id, cv, list_id) — each corpus vector routed to its
    nearest centroid's inverted list in one vectorized Arrow pass."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def nearest_list(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype("float64")
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(m @ cents.T, axis=1).astype("int32"))

    return corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).withColumn("list_id", nearest_list(F.col("cv")))


def _ivf_probe_topk(
    assigned: DataFrame,
    queries: DataFrame,
    cents: np.ndarray,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int,
) -> DataFrame:
    """Probe ``nprobe`` lists per query over an assigned corpus and
    return exact-cosine top-k within the probed lists."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def probe_lists(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype("float64")
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ cents.T
        # top-nprobe lists, ties broken by list id (argsort is stable on
        # the negated, index-tagged key)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype("int32")))

    q = (
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
        )
        .withColumn("list_id", F.explode(probe_lists(F.col("qv"))))
    )
    scored = (
        assigned.join(F.broadcast(q), "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _pair_cos_udf()(F.col("qv"), F.col("cv")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def default_n_lists(n_vectors: int) -> int:
    """Density-scaled IVF geometry: ``round(sqrt(N))`` — the classical
    list count that balances the two scan costs (centroid routing reads
    n_lists rows, probing reads ~nprobe·N/n_lists vectors; their product
    is minimized at sqrt) — floored at the fixture geometry (16) and
    capped at 4096 so centroid training stays driver-bounded. VERDICT
    r13 #3: a fixed n_lists=16 at 200k vectors probes 25% of the corpus
    per query; sqrt(N)=447 lists probe under 1% at the same nprobe
    fraction (geometry sweep in SCALE.md / tools/ivf_geometry_probe)."""
    return int(min(4096, max(16, round(n_vectors ** 0.5))))


def build_ivf_index(
    corpus: DataFrame,
    root: str,
    table: str = "ann",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = None,
    sample_size: int | None = None,
    seed: int = 42,
    sample_by_hash: bool = False,
    layer=None,
) -> dict:
    """Materialize an IVF index as snapshot-committed TABLES — train the
    centroids and route every corpus vector ONCE, then let any number of
    query batches (or future sessions) probe without re-touching the
    corpus. This is the deployment shape for ANN over 100 TB: the index
    build is the one expensive pass; searches read two tables.

    Written under ``<root>/curated/``: ``<table>_centroids`` (n_lists
    rows — the routing state, kilobytes) and ``<table>_vectors``
    (the corpus re-sorted by ``list_id`` so parquet row-group min/max
    stats prune unprobed lists at scan time; at cluster scale write it
    ``partitionBy("list_id")`` for directory-level pruning instead).
    Both go through the ``_CURRENT`` pointer protocol, so a rebuild is
    an atomic swap: live queries keep the old index until the flip, and
    :func:`sources.layers.read_snapshot_as_of` can pin a search to a
    prior index version for reproducibility.

    The DEFAULT geometry is density-scaled (``n_lists=None`` →
    :func:`default_n_lists`, ~sqrt(N); one count action) instead of
    frozen fixture geometry — the round-13 ×100 probe's
    25%-of-corpus-per-query regime was a fixed list count saturating,
    not IVF's scale shape (VERDICT r13 #3). Measured at 200k vectors
    (``tools/ivf_geometry_probe_r14.json``): sqrt(N)-scale lists with
    ``nprobe ≈ n_lists/8`` reach BETTER dense recall@10 than the
    fixture geometry (0.69–0.72 vs 0.61 mean) while scanning HALF the
    corpus fraction (12.5% vs 25%) — pair the default geometry with
    ``nprobe = max(4, n_lists // 8)`` at search time (pytest-pinned at
    fixture scale, ``test_round14_ops``). Determinism-pinned callers
    (m88's row-identity to m85) pass their explicit fixture value.
    ``sample_size=None`` floats the training sample at
    ``max(2048, 8·n_lists)`` the way ``embedding_related_pairs_ivf``
    does.
    """
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        MedallionLayer,
        overwrite_snapshot,
    )

    layer = MedallionLayer.CURATED if layer is None else layer
    spark = corpus.sparkSession
    if n_lists is None:
        n_lists = default_n_lists(corpus.count())
    if sample_size is None:
        sample_size = max(2048, 8 * n_lists)
    cents = train_ivf_centroids(
        corpus, id_col, vec_col, n_lists, sample_size, seed=seed,
        sample_by_hash=sample_by_hash,
    )
    assigned = _ivf_assign(corpus, cents, id_col, vec_col)
    vec_path = overwrite_snapshot(
        assigned.repartition(F.col("list_id")).sortWithinPartitions("list_id"),
        root,
        layer,
        f"{table}_vectors",
    )
    cent_df = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)],
        "list_id int, centroid array<double>",
    )
    cent_path = overwrite_snapshot(
        cent_df, root, layer, f"{table}_centroids"
    )
    return {"vectors": vec_path, "centroids": cent_path, "n_lists": n_lists}


def ivf_index_topk(
    spark,
    root: str,
    queries: DataFrame,
    table: str = "ann",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
    tombstones: DataFrame | None = None,
    layer=None,
) -> DataFrame:
    """Top-k search against a PERSISTED IVF index (:func:`build_ivf_index`)
    — no training, no corpus assignment: read the n_lists-row centroid
    table to the driver (bounded by list count, never corpus size),
    route queries, and probe the stored inverted lists. Output schema
    matches ``ivf_topk``/``brute_force_topk``. Against an index built
    with the density-scaled default geometry (~sqrt(N) lists), pair
    ``nprobe = max(4, n_lists // 8)`` — measured at 200k vectors to
    beat the frozen fixture geometry's recall at half its scanned
    corpus fraction (``tools/ivf_geometry_probe_r14.json``).

    ``tombstones`` joins the ANN family to the retraction contract
    (``plans.retract``, round 13): a persisted index is a DERIVED
    doc-keyed table, so without this filter a retracted doc's embedding
    keeps being RETURNED by searches until the index is rebuilt — the
    one reader the tombstone anti-join didn't cover. Pass the layer's
    tombstone set (``read_tombstones``; first column = retracted id in
    the index's id space) and dropped vectors are anti-joined out of
    the stored lists BEFORE the top-k window, so results still carry k
    live neighbors and every surviving candidate's score is unchanged
    (pytest-pinned). Same cost shape as every retraction reader: one
    broadcast anti-join bounded by drops-since-compaction. The
    PHYSICAL path stays the rebuild: re-running ``build_ivf_index``
    over the post-compaction corpus is the atomic-swap refresh (and
    retrains centroids on the survivors, which a reader-side filter
    deliberately does not).
    """
    from novi_pdq_etl_project_prod_spark.plans.retract import retract_ids
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        MedallionLayer,
        resolve_table_path,
        table_path,
    )

    layer = MedallionLayer.CURATED if layer is None else layer
    cent_rows = (
        spark.read.parquet(
            resolve_table_path(
                table_path(root, layer, f"{table}_centroids")
            )
        )
        .orderBy("list_id")
        .collect()
    )
    cents = np.vstack([np.asarray(r["centroid"]) for r in cent_rows])
    assigned = spark.read.parquet(
        resolve_table_path(
            table_path(root, layer, f"{table}_vectors")
        )
    )
    assigned = retract_ids(assigned, tombstones, "neighbor_id")
    return _ivf_probe_topk(assigned, queries, cents, id_col, vec_col, k, nprobe)


def maybe_rebuild_ivf(
    spark,
    root: str,
    layer,
    source_table: str,
    index_table: str = "ann",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = None,
    sample_size: int | None = None,
    seed: int = 42,
    sample_by_hash: bool = False,
    staleness_threshold: float = 0.1,
    index_layer=None,
    force: bool = False,
) -> dict:
    """Threshold-gated refresh of a persisted IVF index — the ANN
    family's maintenance policy, completing the ingest↔ANN composition
    (round 13): streaming ingest appends embedding rows (and curation
    retracts them), the persisted index drifts stale, and this lane
    rebuilds it on the normal tick cadence the way ``maybe_compact``
    bounds segment growth.

    Staleness audit (round 14 — watermarked, ADVICE r13 medium #1):
    churn = |appends since the last build| + tombstones SINCE the last
    build. A successful build records a watermark in the layer's
    manifest meta (``ann_watermark:<index_table>``: the published
    vectors-snapshot name, the indexed row count, and the tombstone
    count at build time); while the live index matches the watermark's
    snapshot, churn is ``|n_live + new_tomb − n_indexed| + new_tomb``
    with ``new_tomb = max(0, n_tomb − n_tomb_at_build)``. The previous
    absolute formula read ``2·n_tomb`` the tick AFTER a rebuild whose
    tombstones were not yet compacted (the rebuilt index already
    excludes them) and re-fired a full corpus rebuild every tick —
    rebuild thrash at exactly the build-once scale this lane exists
    for. An index swapped outside this function invalidates the
    watermark (snapshot mismatch) and the audit falls back to the
    absolute bound, which stays exact when every tombstoned row was
    indexed and sane otherwise (a plain count delta is BLIND to
    symmetric churn — second round-13 review).

    Audit cost (round 14 — metadata-priced, VERDICT r13 #2): when the
    source table's writers maintain the self-validating ``rowcount``
    manifest meta (``sources.layers.commit_tables`` rowcount_deltas /
    rowcount_absolute; the ingest funnel and ``compact_retractions``
    do), the live count is ``rowcount − n_tomb`` — O(manifest) plus one
    count of the small tombstone table, ZERO corpus-order reads on a
    no-op tick (``count_source: "manifest"`` in the report; the
    manifest path assumes tombstone ids reference source-table rows,
    the standard retraction contract). Without a valid rowcount the
    audit falls back to the exact id-column scan through the tombstone
    anti-join (``count_source: "scan"`` — the pre-round-14 cost). The
    stored-vector count comes from the watermark when valid, else one
    parquet footer read. A rebuild that FIRES always re-counts the
    live corpus exactly (it is about to scan it anyway).

    Past ``staleness_threshold`` (churn / max(indexed, 1)), when no
    index exists yet, or under force — the ``force`` argument (the
    tick passes it on the tick whose retraction lane just cleared
    tombstones) or an UNSERVICED rebuild obligation
    (:data:`plans.retract.ANN_REBUILD_OWED_KEY`, written by
    ``compact_retractions`` in the same atomic commit that drops the
    tombstones; ADVICE r13 medium #2) — the rebuild runs
    :func:`build_ivf_index` over the live corpus: ONE corpus pass,
    centroids retrained on exactly the surviving rows, published as
    the atomic ``_CURRENT`` swap (live searches keep the old index
    until the flip). The obligation record is layer-wide and NEVER
    cleared; this index marks it serviced by stamping it into its own
    watermark (``serviced_obligation``), in the meta commit that
    follows the swap — so a rebuild that FAILS leaves the stamp
    unwritten and the next tick retries, a compaction landing
    MID-BUILD differs from the stamp and re-fires, and on a
    multi-index layer every index services the obligation
    independently (a cleared-flag design let the first rebuild strand
    its siblings — round-14 second review #1/#2). Below threshold
    (and with no unserviced obligation) the lane is a recorded no-op.

    An EMPTY live corpus never fires (an IVF index needs at least one
    vector; wiping the index would also be wrong while readers hold
    its path) — the stale index stays, the report says so loudly, and
    searches must keep passing tombstones. A manifest-priced estimate
    of zero is re-verified with the exact scan before that no-op.

    ``index_layer`` defaults to ``layer`` so per-layer ticks keep
    per-layer indexes (a hardcoded shared location would let two
    layers' ticks thrash one index — second round-13 review); pass it
    explicitly only to pin an index somewhere else deliberately. The
    watermark and obligation live in ``layer``'s manifest (the layer
    whose tombstones are audited).
    """
    from novi_pdq_etl_project_prod_spark.plans.retract import (
        ANN_REBUILD_OWED_KEY,
        read_live_table,
        read_tombstones,
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        current_snapshot,
        read_manifest,
        read_manifest_meta,
        resolve_table_path,
        table_path,
    )

    index_layer = layer if index_layer is None else index_layer
    entry = read_manifest(root, layer).get(source_table)
    if entry is None:
        return {"fired": False, "reason": f"{source_table} not in manifest"}
    meta = read_manifest_meta(root, layer)
    owed = meta.get(ANN_REBUILD_OWED_KEY)
    wm_key = f"ann_watermark:{index_table}"
    wm = meta.get(wm_key)

    vec_dir = table_path(root, index_layer, f"{index_table}_vectors")
    resolved = resolve_table_path(vec_dir)
    wm_valid = False
    if resolved == vec_dir:
        n_indexed = None  # never built
    else:
        wm_valid = (
            isinstance(wm, dict)
            and wm.get("vectors_snapshot") == current_snapshot(vec_dir)
        )
        n_indexed = (
            wm["n_indexed"]
            if wm_valid
            else spark.read.parquet(resolved).count()
        )
    # layer-wide obligation, judged per-index: pending unless THIS
    # index's live watermark already stamps this exact record
    obligation = owed is not None and (
        not wm_valid or wm.get("serviced_obligation") != owed
    )
    tomb = read_tombstones(spark, root, layer)
    n_tomb = 0 if tomb is None else tomb.count()

    # live count: manifest-priced when the self-validating rowcount
    # meta covers the source table, exact scan otherwise
    rc = meta.get(f"rowcount:{source_table}")
    live = None
    if (
        isinstance(rc, dict)
        and rc.get("rows") is not None
        and rc.get("entry") == entry
    ):
        n_live = max(0, int(rc["rows"]) - n_tomb)
        count_source = "manifest"
    else:
        live = read_live_table(spark, root, layer, source_table, id_col)
        n_live = live.count()
        count_source = "scan"
    if n_live == 0 and count_source == "manifest":
        # never declare the corpus empty off an estimate
        live = read_live_table(spark, root, layer, source_table, id_col)
        n_live = live.count()
        count_source = "scan"

    if n_indexed is None:
        staleness = float("inf")
    else:
        new_tomb = (
            max(0, n_tomb - int(wm.get("n_tomb_build", 0)))
            if wm_valid
            else n_tomb
        )
        staleness = (
            abs(n_live + new_tomb - n_indexed) + new_tomb
        ) / max(n_indexed, 1)
    if n_live == 0:
        if (force or obligation) and n_indexed is not None:
            # fully-retracted corpus on COMPACTION day (round-14
            # self-review #2): the tombstones the reader guard needs
            # are gone (or going), yet every indexed vector is
            # retracted — "retain the index" here would serve ONLY
            # retracted vectors forever. Publish an EMPTY vectors
            # snapshot instead (atomic swap; centroids kept so probe
            # routing stays well-formed and readers holding the old
            # snapshot age out through GC as usual): searches return
            # no rows, which is the correct answer over an empty live
            # corpus. The first future append drives staleness to inf
            # over n_indexed=0 and rebuilds a real index. An
            # ALREADY-empty index (n_indexed == 0) skips the redundant
            # snapshot write but still stamps the obligation serviced
            # (round-14 second review #2: the falsy-zero check left a
            # permanently re-forcing no-op with a misleading report).
            from novi_pdq_etl_project_prod_spark.sources.layers import (
                overwrite_snapshot,
            )

            if n_indexed > 0:
                # empty frame derived from the real assignment path so
                # the schema can never drift from rebuilt indexes
                # (round-14 second review #4); `live` is always
                # materialized here (a 0 estimate is scan-verified)
                overwrite_snapshot(
                    _ivf_assign(live, np.zeros((1, 1)), id_col, vec_col),
                    root,
                    index_layer,
                    f"{index_table}_vectors",
                )
            wm_commit = _commit_ann_meta(root, layer, {
                wm_key: {
                    "vectors_snapshot": current_snapshot(vec_dir),
                    "n_indexed": 0,
                    "n_tomb_build": n_tomb,
                    "serviced_obligation": owed,
                },
            })
            return {
                "fired": n_indexed > 0,
                "forced": True,
                "owed": obligation,
                "reason": (
                    "live corpus empty with tombstones cleared — "
                    "published an EMPTY index (retaining it would "
                    "serve only retracted vectors)"
                    if n_indexed > 0
                    else "live corpus empty — index already empty; "
                    "obligation stamped serviced"
                ),
                "n_live": 0,
                "n_indexed": n_indexed,
                "n_tombstones": n_tomb,
                "count_source": count_source,
                "watermark_commit": wm_commit,
            }
        return {
            "fired": False,
            "reason": (
                "live corpus empty — index retained; searches must "
                "keep passing tombstones"
            ),
            "n_live": 0,
            "n_indexed": n_indexed,
        }
    force = force or obligation
    if not force and staleness < staleness_threshold:
        return {
            "fired": False,
            "n_live": n_live,
            "n_indexed": n_indexed,
            "n_tombstones": n_tomb,
            "staleness": round(staleness, 4),
            "threshold": staleness_threshold,
            "count_source": count_source,
        }
    if live is None:
        live = read_live_table(spark, root, layer, source_table, id_col)
    if count_source == "manifest":
        # exact count for the watermark (the build scans the corpus
        # anyway; a drifted estimate must not poison future audits)
        n_live = live.count()
    # resolve the density-scaled defaults HERE from the exact count —
    # otherwise build_ivf_index would re-count the live corpus (a
    # second full scan + tombstone anti-join per rebuild; round-14
    # self-review #5)
    eff_lists = default_n_lists(n_live) if n_lists is None else n_lists
    eff_sample = (
        max(2048, 8 * eff_lists) if sample_size is None else sample_size
    )
    report = build_ivf_index(
        live,
        root,
        table=index_table,
        id_col=id_col,
        vec_col=vec_col,
        n_lists=eff_lists,
        sample_size=eff_sample,
        seed=seed,
        sample_by_hash=sample_by_hash,
        layer=index_layer,
    )
    # watermark the build AFTER the swap, stamping the audited
    # obligation serviced: a build that failed never reaches this
    # commit (next tick retries), and an obligation recorded MID-BUILD
    # differs from the stamp and re-fires — no clearing, no race
    wm_commit = _commit_ann_meta(root, layer, {
        wm_key: {
            "vectors_snapshot": current_snapshot(vec_dir),
            "n_indexed": n_live,
            "n_tomb_build": n_tomb,
            "serviced_obligation": owed,
        },
    })
    return {
        "fired": True,
        "forced": force,
        "owed": obligation,
        "n_live": n_live,
        "n_indexed": n_indexed,
        "n_tombstones": n_tomb,
        "staleness": None if staleness == float("inf") else round(staleness, 4),
        "count_source": count_source,
        "watermark_commit": wm_commit,
        **report,
    }


def _commit_ann_meta(root, layer, meta: dict) -> str:
    """Merge ``meta`` into the layer manifest (a data-less
    ``commit_tables`` — pure manifest-file I/O, internally CAS-retried
    against concurrent committers). Returns "ok" or a conflict string;
    a lost watermark is benign (the audit falls back to the absolute
    churn bound and an unstamped obligation just re-forces one
    rebuild)."""
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        SnapshotConflictError,
        commit_tables,
    )

    try:
        commit_tables({}, root, layer, meta=meta)
        return "ok"
    except SnapshotConflictError as exc:
        return f"conflict: {exc}"


def label_centroid_sums(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    micro_scale: int = 1_000_000,
) -> DataFrame:
    """Per-(label, dim) centroid accumulators in EXACT integer micro-units.

    Embedding components are rounded to ``1/micro_scale`` resolution and
    summed as BIGINTs, so the result is bit-identical regardless of
    partitioning or aggregation order — the property a cross-engine
    oracle needs, which float centroids (order-dependent double sums)
    cannot give. The true double centroid is ``sum_micro / (n_vecs *
    micro_scale)`` — one exact-input division, deterministic everywhere.

    Output: (label, dim, n_vecs, sum_micro). One posexplode + one
    hash-agg; (label, dim) cardinality = labels × dim, tiny at any corpus
    scale, so the agg is map-side-combined to almost nothing.
    """
    return (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode(_as_double(vec_col)).alias("dim", "_v"),
        )
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.round(F.col("_v") * micro_scale, 0).cast("long")).alias(
                "sum_micro"
            ),
        )
    )


def nearest_centroid_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    micro_scale: int = 1_000_000,
    centroid_source: DataFrame | None = None,
    keep_micro_col: str | None = None,
) -> DataFrame:
    """Assign every vector to its nearest label centroid (one k-means
    E-step / nearest-class-mean classification) in EXACT integer
    arithmetic, so the argmin is bit-deterministic across engines and
    partitionings.

    The centroid is the per-dim integer mean in micro units, rounded
    half-up via pure integer ops — ``(2s + n − pmod(2s + n, 2n)) / 2n``
    — which both Spark and a SQL oracle compute identically (no float
    round-trip). Squared L2 distances between micro-unit integers then
    compare directly as BIGINTs (bounded by dims · (2·|v|·scale)² —
    ~4e15 for 64 dims at |v| ≤ 4, far inside int64). Ties break toward
    the smaller label.

    Scale shape: the centroid table (labels × dim) collapses to ONE
    broadcast row; each vector computes every label distance in a single
    JVM fold over its own array — no per-vector shuffle, no pairwise
    join. Output: (id, true_label, assigned_label, is_match), plus the
    row's micro-unit vector under ``keep_micro_col`` when requested —
    downstream M-steps aggregate it in-flight instead of joining back to
    the input table (see ``kmeans_em_step``).
    """
    # centroids default to df's own labels; pass centroid_source to
    # assign one set against centroids trained on another (k-means seeds,
    # classify-new-data-by-old-centroids)
    sums = label_centroid_sums(
        centroid_source if centroid_source is not None else df,
        label_col,
        vec_col,
        micro_scale,
    )
    cents = (
        sums.withColumn(
            "c_micro",
            F.expr(
                "CAST((2*sum_micro + n_vecs "
                "- pmod(2*sum_micro + n_vecs, 2*n_vecs)) DIV (2*n_vecs) "
                "AS LONG)"
            ),
        )
        .groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "c_micro"))).alias("_dc")
        )
        .select(
            "label", F.transform("_dc", lambda s: s["c_micro"]).alias("c")
        )
    )
    one_row = cents.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("label", "c"))).alias("cents")
    )
    v_micro = F.transform(
        _as_double(vec_col), lambda x: F.round(x * micro_scale, 0).cast("long")
    )
    dists = F.transform(
        F.col("cents"),
        lambda cent: F.struct(
            cent["label"].alias("label"),
            F.aggregate(
                F.zip_with(F.col("_vm"), cent["c"], lambda v, c: (v - c) * (v - c)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
        ),
    )
    best = F.aggregate(
        F.col("_dists"),
        F.lit(None).cast("struct<label:int,d2:bigint>"),
        # strict < keeps the incumbent on ties; the array is label-sorted,
        # so the incumbent always holds the smaller label
        lambda acc, x: F.when(acc.isNull(), x).otherwise(
            F.when(x["d2"] < acc["d2"], x).otherwise(acc)
        ),
    )
    keep = [F.col("_vm").alias(keep_micro_col)] if keep_micro_col else []
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.col(label_col).alias("true_label"),
            v_micro.alias("_vm"),
        )
        .crossJoin(F.broadcast(one_row))
        .withColumn("_dists", dists)
        .select(
            "id", "true_label", best["label"].alias("assigned_label"), *keep
        )
        .withColumn(
            "is_match", (F.col("true_label") == F.col("assigned_label"))
        )
    )


def kmeans_em_step(
    df: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    micro_scale: int = 1_000_000,
) -> DataFrame:
    """ONE full Lloyd iteration (E-step + M-step) in exact integer
    micro-units — the deterministic, oracle-able core of
    ``kmeans_fit_assign`` (VERDICT r04 item 3: only the iteration LOOP is
    non-SQL; a single E+M step from deterministic seeds is plain
    relational algebra).

    E-step: every vector is assigned to its nearest label centroid
    (``nearest_centroid_assign`` — 1-row broadcast centroids, per-row JVM
    fold, bit-deterministic integer argmin). M-step: the new per-
    (cluster, dim) accumulators are aggregated from the SAME in-flight
    micro vectors (``keep_micro_col``), so the step costs ONE hash-agg
    shuffle of (cluster, dim) pairs total — no join back to the input
    table, no second scan; at 100 TB the exchange carries k × dim
    partials per map task, nothing row-shaped.

    Output: (cluster, dim, n_vecs, sum_micro, c_micro) where c_micro is
    the round-half-up integer mean — the centroids the NEXT iteration
    would broadcast.
    """
    assigned = nearest_centroid_assign(
        df, id_col, label_col, vec_col, micro_scale, keep_micro_col="_mv"
    )
    return (
        assigned.select(
            F.col("assigned_label").alias("cluster"),
            F.posexplode("_mv").alias("dim", "_v"),
        )
        .groupBy("cluster", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("_v").alias("sum_micro"),
        )
        .withColumn(
            "c_micro",
            F.expr(
                "CAST((2*sum_micro + n_vecs "
                "- pmod(2*sum_micro + n_vecs, 2*n_vecs)) DIV (2*n_vecs) "
                "AS LONG)"
            ),
        )
    )


def kmeans_fit_assign(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
    micro_scale: int = 1_000_000,
) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column, composed
    from the exact-integer centroid operators: each iteration is one
    nearest-centroid assignment of EVERY vector against centroids built
    from the previous labeling (1-row broadcast + per-row JVM fold) plus
    the k × dim centroid hash-agg — two narrow jobs per pass at any
    corpus size. The loop stops early when an iteration changes no
    assignment (a 1-row count — the same bounded-driver-traffic pattern
    as dedup's cluster propagation), and ``localCheckpoint`` truncates
    the iterative lineage so plans don't grow with iterations.

    Initialization is deterministic — the k lowest-id vectors seed
    single-member clusters — and every arithmetic step is the integer
    micro-unit path of ``nearest_centroid_assign``, so results are
    bit-reproducible across runs and partitionings.

    Returns (id, cluster) for every input row, clusters in [0, k).
    """
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    w = Window.orderBy("id")
    labeled = (
        vecs.orderBy("id")
        .limit(k)
        .select(
            "id", "v", (F.row_number().over(w) - 1).cast("int").alias("label")
        )
        .localCheckpoint(eager=True)
    )
    to_assign = vecs.withColumn("label", F.lit(0).cast("int"))
    for _ in range(max_iter):
        nxt = nearest_centroid_assign(
            to_assign,
            id_col="id",
            label_col="label",
            vec_col="v",
            micro_scale=micro_scale,
            centroid_source=labeled,
        ).select("id", F.col("assigned_label").alias("label"))
        nxt_labeled = (
            vecs.join(nxt, "id").select("id", "v", "label")
            .localCheckpoint(eager=True)
        )
        changed = (
            nxt_labeled.select("id", "label")
            .join(
                labeled.select("id", F.col("label").alias("prev")),
                "id",
                "left",
            )
            .where(
                F.col("prev").isNull() | (F.col("label") != F.col("prev"))
            )
            .count()
        )
        labeled = nxt_labeled
        if changed == 0:
            break
    return labeled.select("id", F.col("label").alias("cluster"))


# ---------------------------------------------------------------------------
# Cluster-scoped exact near-duplicate pairs (SemDeDup-style)
# ---------------------------------------------------------------------------

def cluster_scoped_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    threshold_num: int = 7,
    threshold_den: int = 20,
    scale: int = 1000,
    max_cluster_size: int | None = None,
    use_arrow: bool = True,
) -> DataFrame:
    """Semantic near-dup pairs the SemDeDup way (Abbas et al. 2023):
    cluster first, then compare pairs ONLY within a cluster — the cluster
    bounds the quadratic blow-up that makes corpus-wide pairwise cosine
    impossible at 100 TB. Any cluster assignment works (k-means cells
    from ``train_ivf_centroids``, ``nearest_centroid_assign`` output, or
    a label column); partitioning by cluster makes each cell's pairwise
    pass embarrassingly parallel and ``max cell size`` the only scale
    knob (cap or re-split hot cells exactly like the LSH bucket cap).

    The cosine threshold is evaluated in EXACT integer arithmetic so the
    operator is oracle-able bit-for-bit: vectors are rounded to milli
    units (``scale=1000``; unit-norm vectors then have |dot| ≤ scale² and
    every product fits comfortably in BIGINT), and ``cos(a, b) ≥ num/den``
    becomes ``dot ≥ 0 AND den²·dot² ≥ num²·‖a‖²·‖b‖²`` — no sqrt, no
    float compare, no last-ulp flake at the decision boundary.

    Output: directed-canonical pairs (``id_a < id_b``) with the integer
    evidence columns (``dot_milli``, ``na_milli``, ``nb_milli``).

    ``max_cluster_size`` is the quadratic-blow-up guard: the per-cell
    pair count is size², so cells must stay bounded as the corpus grows.
    The PRIMARY control is the clustering itself — scale CLUSTER COUNT
    with corpus size (k-means cells from ``train_ivf_centroids`` with
    k ∝ n, measured linear at 10× in SCALE.md; a fixed label set
    measured 86× wall at 10× vectors). The cap is the belt-and-braces:
    any cell still larger than the cap is deterministically sub-split by
    ``pmod(hash(id), ceil(size/cap))``, bounding pair mass at
    ``size·cap/2`` per cell at the cost of missing cross-sub-cell pairs
    (same trade as the LSH ``max_bucket_occupancy`` cap; SemDeDup's own
    recall is already cluster-granularity-limited).

    Two physically different engines, ONE semantics: the default
    (``use_arrow=True``) scores each cell's pairs with an int64 numpy
    Gram (``M Mᵀ`` per ``applyInPandas`` group — the m37 block-scoring
    shape, but in exact integers, so the output is BIT-IDENTICAL to the
    JVM path and the same DuckDB oracle certifies both). The JVM
    expression path (``use_arrow=False``) keeps the engine usable where
    Python workers are unavailable; its per-pair interpreted dot is what
    made the 10× probe's big cells slow (SCALE.md).
    """
    v_int = F.transform(
        _as_double(vec_col), lambda x: F.round(x * scale, 0).cast("long")
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(cluster_col).alias("cluster"),
        v_int.alias("v"),
    ).withColumn(
        "n2",
        F.aggregate("v", F.lit(0).cast("long"), lambda acc, x: acc + x * x),
    )
    if max_cluster_size is not None:
        sizes = base.groupBy("cluster").agg(F.count(F.lit(1)).alias("_csz"))
        sub = F.when(
            F.col("_csz") > max_cluster_size,
            F.pmod(
                F.hash("id"),
                F.ceil(F.col("_csz") / max_cluster_size).cast("int"),
            ),
        ).otherwise(F.lit(0))
        base = (
            base.join(F.broadcast(sizes), "cluster")
            .withColumn(
                "_ck",
                F.concat_ws(
                    "#", F.col("cluster").cast("string"), sub.cast("string")
                ),
            )
            .drop("_csz")
        )
    else:
        base = base.withColumn("_ck", F.col("cluster").cast("string"))
    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den
    if use_arrow:
        cluster_type = dict(df.dtypes)[cluster_col]
        id_type = dict(df.dtypes)[id_col]

        def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("id", kind="mergesort")
            ids = pdf["id"].to_numpy()
            M = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["v"]])
            n2 = pdf["n2"].to_numpy()
            G = M @ M.T  # exact int64 pairwise dots
            ia, ib = np.triu_indices(len(ids), 1)
            dots = G[ia, ib]
            keep = (dots >= 0) & (
                den2 * dots * dots >= num2 * n2[ia] * n2[ib]
            )
            ia, ib, dots = ia[keep], ib[keep], dots[keep]
            return pd.DataFrame(
                {
                    "id_a": ids[ia],
                    "id_b": ids[ib],
                    "cluster": pdf["cluster"].to_numpy()[ia],
                    "dot_milli": dots,
                    "na_milli": n2[ia],
                    "nb_milli": n2[ib],
                }
            )

        return base.groupBy("_ck").applyInPandas(
            _cell_pairs,
            schema=(
                f"id_a {id_type}, id_b {id_type}, cluster {cluster_type}, "
                "dot_milli long, na_milli long, nb_milli long"
            ),
        )
    a = base.alias("a")
    b = base.alias("b")
    dot_i = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(
            b,
            (F.col("a._ck") == F.col("b._ck"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.cluster").alias("cluster"),
            dot_i.alias("dot_milli"),
            F.col("a.n2").alias("na_milli"),
            F.col("b.n2").alias("nb_milli"),
        )
        .where(
            (F.col("dot_milli") >= 0)
            & (
                F.lit(den2) * F.col("dot_milli") * F.col("dot_milli")
                >= F.lit(num2) * F.col("na_milli") * F.col("nb_milli")
            )
        )
    )
    return pairs


# ---------------------------------------------------------------------------
# Exact-integer embedding covariance (the PCA/whitening input)
# ---------------------------------------------------------------------------

def embedding_covariance_moments(
    df: DataFrame,
    vec_col: str = "embedding",
    micro_scale: int = 1_000_000,
) -> DataFrame:
    """Population covariance moments of the embedding matrix, computed as
    EXACT integer micro-unit sums — the input to PCA / whitening /
    Mahalanobis scoring over a 100 TB embedding corpus.

    Scale shape: each Arrow batch computes its d×d integer Gram partial
    with one BLAS-shaped ``Mᵀ M`` (mapInPandas; no row blow-up — the
    naive dim×dim self-join shuffles ``n_vecs × d(d+1)/2`` rows, this
    ships ``d(d+1)/2`` rows PER BATCH), and one hash-agg reduces the
    partials. Integer sums are associative, so the result is bit-stable
    under any partitioning — the property that lets a DuckDB oracle
    certify it (d15).

    Output per (dim_a ≤ dim_b): ``n_vecs``, first moments ``s_a``/``s_b``
    and the cross moment ``s_ab``, all BIGINT in micro units; ``cov`` is
    the one double edge: ``(s_ab - s_a·s_b/n)/n / micro_scale²``.

    Rounding note: micro quantization uses trunc(|x|·scale + 0.5)·sign —
    round-half-away-from-zero, matching Spark's ``F.round`` (BigDecimal
    HALF_UP) and DuckDB's ``ROUND`` so all three agree on every value.
    """
    from collections.abc import Iterator

    scale = float(micro_scale)

    def _gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            M = (np.trunc(np.abs(V) * scale + 0.5) * np.sign(V)).astype(np.int64)
            d = M.shape[1]
            G = M.T @ M                      # exact int64 cross moments
            s = M.sum(axis=0)                # exact int64 first moments
            n = np.int64(M.shape[0])
            ia, ib = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "dim_a": ia.astype(np.int32),
                    "dim_b": ib.astype(np.int32),
                    "n_vecs": np.full(len(ia), n, dtype=np.int64),
                    "s_a": s[ia],
                    "s_b": s[ib],
                    "s_ab": G[ia, ib],
                }
            )

    moments = df.select(vec_col).mapInPandas(
        _gram,
        schema=(
            "dim_a int, dim_b int, n_vecs long, s_a long, s_b long, s_ab long"
        ),
    )
    agg = moments.groupBy("dim_a", "dim_b").agg(
        F.sum("n_vecs").alias("n_vecs"),
        F.sum("s_a").alias("s_a"),
        F.sum("s_b").alias("s_b"),
        F.sum("s_ab").alias("s_ab"),
    )
    n = F.col("n_vecs").cast("double")
    cov = (
        (
            F.col("s_ab").cast("double")
            - F.col("s_a").cast("double") * F.col("s_b").cast("double") / n
        )
        / n
        / F.lit(scale * scale)
    )
    return agg.select(
        "dim_a", "dim_b", "n_vecs", "s_a", "s_b", "s_ab", cov.alias("cov")
    )


def pca_components(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 4,
    micro_scale: int = 1_000_000,
):
    """Top-k principal components of the embedding corpus, from the
    EXACT integer covariance moments (:func:`embedding_covariance_moments`).

    The distributed part — one Gram pass over 100 TB of vectors — is
    d15's; what comes back to the driver is d(d+1)/2 moment rows (2,080
    for d=64: bounded by DIMENSION, never by corpus size), from which
    the dense d×d covariance and its eigendecomposition are a numpy
    call. Deterministic given the moments: integer sums are partition-
    order-free, ``eigh`` is deterministic on identical input, and the
    sign is pinned by convention (largest-|loading| coordinate made
    positive) so reruns and different cluster layouts emit identical
    components.

    Returns (components ndarray [k, d], eigenvalues ndarray [k], mean
    ndarray [d]) — plain numpy, ready to broadcast into
    :func:`pca_project`.
    """
    rows = embedding_covariance_moments(df, vec_col, micro_scale).collect()
    if not rows:
        raise ValueError("pca_components: empty embedding input")
    d = max(r["dim_b"] for r in rows) + 1
    n = rows[0]["n_vecs"]
    scale = float(micro_scale)
    cov = np.zeros((d, d))
    mean = np.zeros(d)
    for r in rows:
        a, b = r["dim_a"], r["dim_b"]
        c = (r["s_ab"] - r["s_a"] * r["s_b"] / n) / n / (scale * scale)
        cov[a, b] = cov[b, a] = c
        if a == b:
            mean[a] = r["s_a"] / n / scale
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # [k, d]
    # sign convention: the largest-|loading| coordinate is positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return comps, vals[order], mean


def pca_project(
    df: DataFrame,
    components: np.ndarray,
    mean: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Project embeddings onto fixed principal components — the
    dimensionality-reduction step before ANN indexing or clustering
    (project once, build the index on k ≪ d doubles per vector).

    Row-local: the [k, d] component matrix rides into an Arrow-batched
    UDF as a closure broadcast (kilobytes), each batch projects with one
    BLAS ``(V - mean) @ Cᵀ`` — no shuffle, no per-row Python. Output:
    (id, pc array<double>).
    """
    from pyspark.sql.functions import pandas_udf

    C = np.ascontiguousarray(components, dtype=np.float64)
    mu = np.ascontiguousarray(mean, dtype=np.float64)

    @pandas_udf("array<double>")
    def proj_udf(vecs: pd.Series) -> pd.Series:
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        P = (V - mu[None, :]) @ C.T
        return pd.Series(list(P))

    return df.select(F.col(id_col), proj_udf(F.col(vec_col)).alias("pc"))


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion [Cormack, Clarke & Buettcher 2009] of
    per-query candidate rankings: ``score = Σ_lists 1/(c + rank)``,
    absent-from-a-list contributes 0. The standard way to combine
    retrieval channels (dense cosine + lexical + LSH probes) without
    calibrating their score scales — only ranks meet, so the fusion is
    exact integer/rational arithmetic and deterministic wherever the
    input rankings are (ties broken by neighbor id).

    Inputs: DataFrames with (query_id, neighbor_id, rank). Output:
    (query_id, neighbor_id, rrf_score, rank) — top-``k`` fused rows per
    query.

    Scale shape: full-outer joins on (query, neighbor) over
    candidate-list-sized frames (|queries| × k_in rows each — never
    corpus-sized), then one per-query top-k window over ≤ Σ list
    lengths rows per query.
    """
    from functools import reduce

    assert rankings, "need at least one ranking"
    slim = [
        r.select(
            "query_id", "neighbor_id", F.col("rank").alias(f"__r{i}")
        )
        for i, r in enumerate(rankings)
    ]
    joined = reduce(
        lambda a, b: a.join(b, ["query_id", "neighbor_id"], "full"), slim
    )
    score = reduce(
        lambda acc, i: acc
        + F.coalesce(
            F.lit(1.0) / (F.lit(float(c)) + F.col(f"__r{i}").cast("double")),
            F.lit(0.0),
        ),
        range(len(slim)),
        F.lit(0.0),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        joined.select("query_id", "neighbor_id", score.alias("rrf_score"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
