"""Ground-truth validation for the approximate dedup/similarity operators
(the ones the driver only rows-checks): MinHash-LSH and SimHash against
exact n-gram Jaccard; hyperplane LSH against brute-force cosine top-k.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.operators.dedup import (
    _exploded_shingles_arrow,
    drop_exact_duplicates,
    exact_duplicates,
    minhash_near_duplicates_md5,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    simhash_signatures_md5,
)
from novi_pdq_etl_project_prod_spark.operators.similarity import (
    brute_force_topk,
    hyperplane_lsh_topk,
    ivf_topk,
)
from tests.conftest import SF_ORACLE


def _docs(spark):
    return spark.read.parquet(f"{SF_ORACLE}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")


def test_minhash_recall_against_exact_jaccard(spark):
    docs = _docs(spark)
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.8, df_cap=None).collect()
    }
    assert truth, "fixture should contain planted near-duplicates"
    found = {
        (r.id_a, r.id_b)
        for r in minhash_near_duplicates_md5(docs, threshold=0.5).collect()
    }
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"minhash recall {recall} over {len(truth)} true pairs"
    # precision against a looser exact threshold: everything we claim at
    # est>=0.5 should be genuinely similar (jaccard >= 0.3)
    loose = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.3, df_cap=None).collect()
    }
    precision = len(found & loose) / max(len(found), 1)
    assert precision >= 0.9, f"minhash precision {precision} on {len(found)} pairs"


def test_simhash_finds_near_dups(spark):
    docs = _docs(spark)
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.9, df_cap=None).collect()
    }
    sigs = simhash_signatures_md5(docs)
    found = {(r.id_a, r.id_b) for r in simhash_near_duplicates(sigs).collect()}
    # simhash hamming<=3 is a tighter notion than jaccard>=0.9; require
    # that what it finds is real and that it finds a meaningful share
    assert found, "simhash should find some near-dup pairs in the fixture"
    hit = len(truth & found) / len(truth)
    assert hit >= 0.5, f"simhash found only {hit} of jaccard>=0.9 pairs"


def test_simhash_signature_is_deterministic(spark):
    docs = _docs(spark).limit(50)
    a = {r.id: r.simhash for r in simhash_signatures_md5(docs).collect()}
    b = {
        r.id: r.simhash
        for r in simhash_signatures_md5(docs.repartition(7)).collect()
    }
    assert a == b


def test_arrow_shingles_tokenize_like_jvm_shingles(spark):
    """The Arrow shingle path splits on ASCII ``\\s+`` only, exactly like
    the JVM ``shingles()`` expression and the DuckDB oracles: NBSP,
    U+2003 and U+2028 stay inside a token (Python ``str.split()`` would
    split on them and emit extra grams)."""
    from novi_pdq_etl_project_prod_spark.operators.text import shingles

    docs = spark.createDataFrame(
        [
            (1, "alpha\u00a0beta gamma delta"),
            (2, "one two\u2003three four"),
            (3, "first\u2028second third fourth fifth"),
            (4, " \tplain  ascii\nwhitespace\x0bonly here\r\n"),
            (5, "too\u00a0short"),
            (6, ""),
        ],
        "doc_id long, text string",
    )
    arrow = sorted(
        map(tuple, _exploded_shingles_arrow(docs, "doc_id", "text", 3).collect())
    )
    jvm = sorted(
        map(
            tuple,
            docs.select(
                F.col("doc_id").alias("id"),
                F.explode(shingles("text", 3)).alias("sh"),
            ).collect(),
        )
    )
    assert arrow == jvm
    assert [sh for i, sh in arrow if i == 1] == ["alpha\u00a0beta gamma delta"]


def test_lsh_topk_recall_vs_brute_force(spark):
    emb = _emb(spark)
    q = emb.where(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, q, k=5)
    approx = hyperplane_lsh_topk(emb, q, k=5, dim=64, nbits=4, n_tables=16)
    t = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    f = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(t & f) / len(t)
    # OR-amplified (16 tables × 4 bits): recall is partial by design but
    # must stay far above chance on the fixture
    assert recall >= 0.7, f"LSH recall {recall}"


def test_ivf_topk_recall_and_determinism(spark):
    emb = _emb(spark)
    q = emb.where(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, q, k=5)
    approx = ivf_topk(emb, q, k=5, n_lists=16, nprobe=8)
    t = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    f = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(t & f) / len(t)
    # probing half the lists on near-random fixture vectors: recall must
    # clearly beat the ~0.5 random-probe floor
    assert recall >= 0.65, f"IVF recall {recall}"
    # centroid training samples by sorted id, so results are invariant
    # to input partitioning
    again = ivf_topk(emb.repartition(7), q, k=5, n_lists=16, nprobe=8)
    f2 = {(r.query_id, r.neighbor_id) for r in again.collect()}
    assert f == f2


def test_exact_dedup_survivor_is_min_id(spark):
    docs = _docs(spark)
    groups = exact_duplicates(docs).collect()
    for g in groups:
        assert g.canonical_id == min(g.member_ids)
    survivors = drop_exact_duplicates(docs)
    assert survivors.count() == len(groups)


def test_grouped_zscore_normalize(spark):
    import numpy as np
    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        grouped_zscore_normalize,
    )

    emb = _emb(spark)
    out = grouped_zscore_normalize(emb)
    pdf = out.toPandas()
    assert len(pdf) == emb.count()
    # verify one group against a local numpy computation
    src = emb.where("label = 3").toPandas()
    m = np.vstack(src.embedding.to_numpy()).astype("float64")
    want = (m - m.mean(axis=0)) / m.std(axis=0)
    got_rows = pdf[pdf.label == 3].set_index("vec_id")
    got = np.vstack(got_rows.loc[src.vec_id].embedding.to_numpy())
    assert np.allclose(got, want, atol=1e-6)
    # per-dimension group stats are ~N(0,1) after normalization
    assert abs(got.mean(axis=0)).max() < 1e-6
    assert np.allclose(got.std(axis=0), 1.0, atol=1e-5)


def test_plan_lsh_bands():
    from novi_pdq_etl_project_prod_spark.operators.dedup import plan_lsh_bands

    # classic MMDS example: 64 hashes, t=0.5 → inflection near 0.5
    b, r = plan_lsh_bands(64, 0.5)
    assert b * r == 64
    inflection = (1.0 / b) ** (1.0 / r)
    assert abs(inflection - 0.5) < 0.15
    # higher threshold → fewer, longer bands (more selective)
    b_hi, r_hi = plan_lsh_bands(64, 0.9)
    assert r_hi > r and b_hi < b
    # lower threshold → more, shorter bands (more candidates)
    b_lo, r_lo = plan_lsh_bands(64, 0.2)
    assert b_lo > b


def test_mixture_sample_rates_and_stability(spark):
    from novi_pdq_etl_project_prod_spark.operators.multimodal import mixture_sample

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    out = mixture_sample(docs, rates, default_rate=0.2)
    got = {r.source: r.cnt for r in out.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    per_source = {r.source: r.cnt for r in docs.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    assert got["src0"] == per_source["src0"]          # rate 1.0 keeps all
    assert "src2" not in got                          # rate 0.0 drops all
    assert 0 < got.get("src1", 0) < per_source["src1"]
    # content-addressed: invariant to partitioning
    ids = sorted(r.doc_id for r in out.select("doc_id").collect())
    ids2 = sorted(
        r.doc_id
        for r in mixture_sample(docs.repartition(13), rates, default_rate=0.2)
        .select("doc_id")
        .collect()
    )
    assert ids == ids2


def test_contamination_pairs_finds_planted_overlap(spark):
    from novi_pdq_etl_project_prod_spark.operators.dedup import contamination_pairs

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    # a doc is always contaminated against itself: self-check with the
    # eval side being an exact subset of train
    ev = docs.where(F.col("doc_id") < 5)
    pairs = contamination_pairs(docs, ev, n=3, min_overlap=2)
    hits = {(r.train_id, r.eval_id) for r in pairs.collect()}
    for i in range(5):
        assert (i, i) in hits


def test_embedding_lsh_pairs_recall_vs_exact(spark):
    """m24 (LSH-bucketed pairs) must recover >=70% of the exact cosine
    pairs the m11 baseline finds on the same subset, with no false
    positives (the final filter recomputes exact cosine)."""
    from novi_pdq_etl_project_prod_spark.catalog import QUERIES
    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        embedding_near_dup_pairs_lsh,
    )
    from pyspark.sql import functions as F
    from tests.conftest import SF_ORACLE

    exact = {
        (r.id_a, r.id_b)
        for r in QUERIES["m11_embedding_near_dup_pairs"](
            spark, SF_ORACLE
        ).collect()
    }
    assert exact, "fixture should contain exact pairs"
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").where(
        F.col("vec_id") < 200
    )
    approx = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs_lsh(
            emb, threshold=0.35, dim=64, nbits=4, n_tables=16
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"LSH pair recall {recall:.2f} below bound"
    assert approx <= exact, "cosine-filtered candidates cannot be false positives"


def test_embedding_quantization_fidelity(spark):
    """int8 quantize→dequantize must preserve cosine geometry (>=0.999
    per vector) and shrink the payload to tinyint."""
    from novi_pdq_etl_project_prod_spark.catalog import QUERIES
    from tests.conftest import SF_ORACLE

    rows = QUERIES["m25_quantization_fidelity"](spark, SF_ORACLE).collect()
    assert rows and all(r.cos_fidelity >= 0.999 for r in rows)

    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        quantize_embeddings,
    )

    q = quantize_embeddings(spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet"))
    assert dict(q.dtypes)["q"] == "array<tinyint>"


def test_kfold_assign_balanced_stable_disjoint(spark):
    from novi_pdq_etl_project_prod_spark.operators.multimodal import kfold_assign

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    k = 5
    folds = kfold_assign(docs, "doc_id", k=k)
    n = docs.count()
    counts = {r.fold: r.n for r in folds.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # every fold present, covers all rows, roughly balanced (content-
    # addressed md5 ~ uniform; 30% slack at this tiny n)
    assert set(counts) == set(range(k)) and sum(counts.values()) == n
    for f, c in counts.items():
        assert abs(c - n / k) < 0.3 * n / k, f"fold {f} skewed: {c} of {n}"
    # stable across partition layouts (the cross-validation guarantee)
    again = kfold_assign(docs.repartition(17, "text"), "doc_id", k=k)
    assert folds.select("doc_id", "fold").exceptAll(
        again.select("doc_id", "fold")).count() == 0


def test_winnowing_guarantee_and_determinism(spark):
    from novi_pdq_etl_project_prod_spark.operators.text import (
        winnowing_fingerprints,
    )

    shared = " ".join(f"common{i}" for i in range(20))  # 20-token span
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + shared + " gamma"),
            (2, shared + " delta epsilon zeta"),
            (3, " ".join(f"other{i}" for i in range(30))),
            (4, "too short"),
        ],
        ["doc_id", "text"],
    )
    out = winnowing_fingerprints(docs, "doc_id", "text", k=5, window=4)
    fps = {r.doc_id: set(r.fingerprints.split(",")) for r in out.collect()}
    # MOSS guarantee: a shared span of >= k + window - 1 tokens shares
    # at least one fingerprint; disjoint docs share none; short docs drop
    assert fps[1] & fps[2], "shared 20-token span produced no common fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    assert 4 not in fps
    again = winnowing_fingerprints(
        docs.repartition(7), "doc_id", "text", k=5, window=4
    )
    assert {(r.doc_id, r.fingerprints) for r in again.collect()} == {
        (r.doc_id, r.fingerprints) for r in out.collect()
    }
