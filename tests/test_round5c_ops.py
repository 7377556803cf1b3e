"""Round-5 fourth-wave operator tests: pair components, PPS sampling,
incremental join-view maintenance, compression signal, PCA.

Catalog-level value parity for the oracled queries (m43, m44, c3) is
covered by test_oracle_parity; these tests pin what the oracle cannot
see — equivalence to naive reference implementations, iterative-fixpoint
transitivity, byte-identity of the zlib pass, spectral invariants, and
partition independence of every new operator.
"""

from __future__ import annotations

import hashlib
import zlib

import numpy as np
import pytest
from pyspark.sql import Row
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
from tests.conftest import SF_ORACLE


# ---------------------------------------------------------------------------
# Connected components (m43)
# ---------------------------------------------------------------------------

def _union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id representative per component
    return {n: min(m for m in nodes if find(m) == find(n)) for n in nodes}


def test_components_match_union_find_on_fixture(spark):
    from novi_pdq_etl_project_prod_spark.session import read_table

    docs = read_table(spark, SF_ORACLE, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    edges = [(r.id_a, r.id_b) for r in pairs.collect()]
    nodes = sorted({x for e in edges for x in e})
    expect = _union_find(edges, nodes)
    got = {r.id: r.cluster_id for r in near_dup_clusters(pairs).collect()}
    assert got == expect
    # the fixture must actually exercise transitivity (a >2-node chain),
    # otherwise this test silently degrades to pair identity
    sizes = {}
    for lbl in got.values():
        sizes[lbl] = sizes.get(lbl, 0) + 1
    assert max(sizes.values()) >= 3


def test_components_long_chain_transitivity(spark):
    # a 12-node path: min-label must walk the full diameter
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(11)]
    )
    got = {r.id: r.cluster_id for r in near_dup_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(12)}


# ---------------------------------------------------------------------------
# PPS sampling (m44)
# ---------------------------------------------------------------------------

def _pps_keep_local(doc_id, w, max_w, seed=42):
    u = int(hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()[:15], 16)
    return u * max_w < w * 16**15


def test_pps_sample_matches_local_recompute(spark):
    rows = [Row(doc_id=i, w=(i * 37) % 100 + 1) for i in range(500)]
    df = spark.createDataFrame(rows)
    max_w = max(r.w for r in rows)
    expect = {r.doc_id for r in rows if _pps_keep_local(r.doc_id, r.w, max_w)}
    got = {r.doc_id for r in pps_sample(df, "w", id_col="doc_id").collect()}
    assert got == expect
    # sanity: the sample is non-trivial in both directions
    assert 0 < len(got) < len(rows)


def test_pps_sample_weight_extremes(spark):
    rows = [Row(doc_id=i, w=0) for i in range(50)] + [
        Row(doc_id=100 + i, w=7) for i in range(50)
    ]
    out = pps_sample(spark.createDataFrame(rows), "w").collect()
    ids = {r.doc_id for r in out}
    # zero weight is never kept; max weight is always kept (u < 16^15 holds
    # for every 60-bit uniform)
    assert all(i >= 100 for i in ids)
    assert ids == {100 + i for i in range(50)}
    assert all(r.max_w == 7 for r in out)


def test_pps_sample_partition_independent(spark):
    rows = [Row(doc_id=i, w=i % 13 + 1) for i in range(300)]
    df = spark.createDataFrame(rows)
    a = sorted(r.doc_id for r in pps_sample(df, "w").collect())
    b = sorted(
        r.doc_id for r in pps_sample(df.repartition(7), "w").collect()
    )
    assert a == b


# ---------------------------------------------------------------------------
# Incremental join view (c3)
# ---------------------------------------------------------------------------

def test_incremental_join_equals_full_recompute(spark):
    left = spark.createDataFrame(
        [Row(k=i % 20, lv=i) for i in range(200)]
    )
    right = spark.createDataFrame(
        [Row(k=i % 25, rv=i) for i in range(150)]
    )
    # content-addressed split, matching the catalog query's shape
    dl = F.md5(F.col("lv").cast("string")).substr(1, 1) < "4"
    dr = F.md5(F.concat_ws(":", F.lit("r"), F.col("rv"))).substr(1, 1) < "4"
    lo, ld = left.where(~dl), left.where(dl)
    ro, rd = right.where(~dr), right.where(dr)
    old_view = lo.join(ro, "k")
    inc = incremental_join_view(old_view, lo, ro, ld, rd, ["k"])
    full = left.join(right, "k")
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, full.collect()))
    # the deltas must be non-empty on both sides or the test is vacuous
    assert ld.count() > 0 and rd.count() > 0


def test_incremental_join_empty_deltas(spark):
    left = spark.createDataFrame([Row(k=1, lv=1), Row(k=2, lv=2)])
    right = spark.createDataFrame([Row(k=1, rv=10)])
    empty_l = left.where(F.lit(False))
    empty_r = right.where(F.lit(False))
    old_view = left.join(right, "k")
    inc = incremental_join_view(old_view, left, right, empty_l, empty_r, ["k"])
    assert sorted(map(tuple, inc.collect())) == sorted(
        map(tuple, old_view.collect())
    )


# ---------------------------------------------------------------------------
# Compression signal (m45)
# ---------------------------------------------------------------------------

def test_compression_byte_identity_and_ordering(spark):
    prose = (
        "the quick brown fox jumps over a lazy dog while seventeen "
        "unrelated words establish some entropy in this sentence"
    )
    spammy = "buy now " * 40
    df = spark.createDataFrame(
        [Row(doc_id=1, text=prose), Row(doc_id=2, text=spammy),
         Row(doc_id=3, text=""), Row(doc_id=4, text=None)]
    )
    got = {r.doc_id: r for r in compression_signal(df).collect()}
    for doc_id, text in ((1, prose), (2, spammy)):
        raw = text.encode()
        assert got[doc_id].n_raw_bytes == len(raw)
        assert got[doc_id].n_zlib_bytes == len(zlib.compress(raw, 6))
    # repetition compresses far better than prose
    assert got[2].compression_ratio < got[1].compression_ratio
    # empty/null: zero raw bytes, null ratio (no divide-by-zero)
    for doc_id in (3, 4):
        assert got[doc_id].n_raw_bytes == 0
        assert got[doc_id].compression_ratio is None


def test_compression_partition_independent(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"document {i} body " * (i % 9 + 1)) for i in range(80)]
    )
    a = sorted(map(tuple, compression_signal(df).collect()))
    b = sorted(map(tuple, compression_signal(df.repartition(5)).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# PCA (m46)
# ---------------------------------------------------------------------------

def test_pca_spectral_contract(spark):
    from novi_pdq_etl_project_prod_spark.session import read_table

    emb = read_table(spark, SF_ORACLE, "embeddings")
    comps, vals, mean = pca_components(emb, k=4)
    assert comps.shape[0] == 4 and comps.shape[1] == len(mean)
    # eigenvalues sorted descending, all components unit-norm, sign pinned
    assert all(vals[i] >= vals[i + 1] for i in range(3))
    assert np.allclose(np.linalg.norm(comps, axis=1), 1.0)
    for row in comps:
        assert row[int(np.argmax(np.abs(row)))] > 0
    # projected variance per pc matches its eigenvalue, and decreases
    proj = pca_project(emb, comps, mean)
    P = np.array([r.pc for r in proj.collect()])
    pc_var = P.var(axis=0)
    assert np.allclose(pc_var, vals, rtol=1e-6)
    # determinism under repartitioning (exact-integer moments)
    comps2, vals2, mean2 = pca_components(emb.repartition(7), k=4)
    assert np.array_equal(comps, comps2)
    assert np.array_equal(vals, vals2)
    assert np.array_equal(mean, mean2)


def test_pca_recovers_planted_direction(spark):
    rng = np.random.default_rng(7)
    direction = rng.normal(size=8)
    direction /= np.linalg.norm(direction)
    rows = []
    for i in range(400):
        v = 5.0 * rng.normal() * direction + 0.05 * rng.normal(size=8)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    df = spark.createDataFrame(rows)
    comps, vals, _mean = pca_components(df, k=2, micro_scale=1_000_000)
    cos = abs(float(np.dot(comps[0], direction)))
    assert cos > 0.99
    assert vals[0] > 50 * vals[1]


def test_pca_empty_input_raises(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        pca_components(df)


# ---------------------------------------------------------------------------
# Streaming parity: the sampling/curation row-local ops applied to a live
# stream must keep exactly the rows they keep in batch (the metamorphic
# oracle for the "calibrate on the static corpus, filter the stream"
# deployment pattern).
# ---------------------------------------------------------------------------

def test_pps_sample_streaming_matches_batch(spark, tmp_path):
    import shutil

    from novi_pdq_etl_project_prod_spark.operators.multimodal import mixture_sample
    from novi_pdq_etl_project_prod_spark.session import read_table
    from novi_pdq_etl_project_prod_spark.streaming.events import run_to_memory_sink

    docs = read_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "source", "n_chars"
    )
    d = str(tmp_path / "docs_stream")
    docs.write.mode("overwrite").parquet(d)
    max_w = docs.agg(F.max("n_chars")).collect()[0][0]
    rates = {"src0": 1.0, "src1": 0.5}

    def curate(df):
        sampled = pps_sample(df, "n_chars", id_col="doc_id", max_weight=max_w)
        return mixture_sample(
            sampled, rates, source_col="source", id_col="doc_id",
            default_rate=0.25,
        )

    batch_ids = sorted(r.doc_id for r in curate(docs).collect())
    stream = spark.readStream.schema(docs.schema).parquet(d)
    assert stream.isStreaming
    run_to_memory_sink(curate(stream), "pps_stream", output_mode="append")
    stream_ids = sorted(
        r.doc_id for r in spark.sql("SELECT doc_id FROM pps_stream").collect()
    )
    assert stream_ids == batch_ids and len(batch_ids) > 0
    shutil.rmtree(d, ignore_errors=True)


def test_pps_sample_pinned_max_matches_agg_path(spark):
    rows = [Row(doc_id=i, w=i % 11 + 1) for i in range(200)]
    df = spark.createDataFrame(rows)
    a = sorted(map(tuple, pps_sample(df, "w").collect()))
    b = sorted(map(tuple, pps_sample(df, "w", max_weight=11).collect()))
    assert a == b


def test_incremental_join_matches_python_model_on_random_splits(spark):
    import random

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        left = [Row(k=rng.randint(1, 8), lv=i) for i in range(rng.randint(5, 60))]
        right = [Row(k=rng.randint(1, 8), rv=i) for i in range(rng.randint(5, 60))]
        ld_ids = {r.lv for r in left if rng.random() < 0.3}
        rd_ids = {r.rv for r in right if rng.random() < 0.3}
        # python model: the full join, independent of the split
        expect = sorted(
            (l.k, l.lv, r.rv) for l in left for r in right if l.k == r.k
        )
        ldf = spark.createDataFrame(left).repartition(3)
        rdf = spark.createDataFrame(right).repartition(4)
        lo = ldf.where(~F.col("lv").isin(list(ld_ids) or [-1]))
        ldl = ldf.where(F.col("lv").isin(list(ld_ids) or [-1]))
        ro = rdf.where(~F.col("rv").isin(list(rd_ids) or [-1]))
        rdl = rdf.where(F.col("rv").isin(list(rd_ids) or [-1]))
        inc = incremental_join_view(lo.join(ro, "k"), lo, ro, ldl, rdl, ["k"])
        got = sorted((r.k, r.lv, r.rv) for r in inc.collect())
        assert got == expect, f"seed={seed}"


# ---------------------------------------------------------------------------
# Persisted IVF index (build once, search many)
# ---------------------------------------------------------------------------

def test_ivf_index_search_matches_inline_ivf(spark, tmp_path):
    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_topk,
        ivf_topk,
    )
    from novi_pdq_etl_project_prod_spark.session import read_table
    from novi_pdq_etl_project_prod_spark.sources.layers import snapshot_history

    emb = read_table(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    root = str(tmp_path / "warehouse")
    info = build_ivf_index(emb, root, n_lists=8, sample_size=512)
    assert info["n_lists"] == 8

    # same training determinism => the persisted index must return
    # EXACTLY what the inline train+assign+probe path returns
    inline = ivf_topk(emb, queries, k=5, n_lists=8, nprobe=3, sample_size=512)
    indexed = ivf_index_topk(spark, root, queries, k=5, nprobe=3)
    key = lambda r: (r.query_id, r.rank)
    a = sorted(((r.query_id, r.rank, r.neighbor_id) for r in inline.collect()))
    b = sorted(((r.query_id, r.rank, r.neighbor_id) for r in indexed.collect()))
    assert a == b and len(a) == 50

    # a second search re-reads the stored tables without retraining —
    # and a REBUILD is an atomic snapshot swap with history retained
    build_ivf_index(emb, root, n_lists=8, sample_size=512)
    again = ivf_index_topk(spark, root, queries, k=5, nprobe=3)
    c = sorted(((r.query_id, r.rank, r.neighbor_id) for r in again.collect()))
    assert c == a
    assert len(snapshot_history(root, "curated", "ann_vectors")) >= 2


# ---------------------------------------------------------------------------
# Image resize plumbing (decode → nearest-neighbor → re-encode)
# ---------------------------------------------------------------------------

def _encode_filtered_png(arr, filter_types):
    """Grayscale PNG with caller-chosen per-row filter types — drives the
    unfilter paths (Sub/Up/Average/Paeth) the filter-0 writer never emits."""
    import struct as st
    import zlib as zl

    h, w = arr.shape
    rows = []
    prev = [0] * w
    for y in range(h):
        ft = filter_types[y % len(filter_types)]
        cur = [int(v) for v in arr[y]]
        enc = []
        for x in range(w):
            a = cur[x - 1] if x else 0
            b = prev[x]
            c = prev[x - 1] if x else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            enc.append((cur[x] - pred) % 256)
        rows.append(bytes([ft]) + bytes(enc))
        prev = cur

    def chunk(ctype, body):
        return (
            st.pack(">I", len(body)) + ctype + body
            + st.pack(">I", zl.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = st.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zl.compress(b"".join(rows))) + chunk(b"IEND", b"")
    )


def test_png_unfilter_all_filter_types():
    from novi_pdq_etl_project_prod_spark.operators.multimodal import (
        _png_gray_pixels,
    )

    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, size=(9, 7), dtype=np.uint8)
    for fts in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        got = _png_gray_pixels(_encode_filtered_png(arr, fts))
        assert got is not None and np.array_equal(got, arr), f"filters={fts}"


def test_resize_images_matches_local_model(spark):
    from novi_pdq_etl_project_prod_spark.operators.multimodal import (
        _png_gray_pixels,
        resize_images,
        synthetic_png_bytes,
    )

    media = spark.createDataFrame(
        [Row(media_id=i, payload=bytearray(synthetic_png_bytes(i))) for i in range(24)]
    ).repartition(4)
    out = {r.media_id: r for r in resize_images(media, 6, 5).collect()}
    src = {i: synthetic_png_bytes(i) for i in range(24)}
    assert len(out) == 24
    for mid, payload in src.items():
        px = _png_gray_pixels(payload)
        h, w = px.shape
        expect = px[(np.arange(5) * h) // 5][:, (np.arange(6) * w) // 6]
        r = out[mid]
        assert r.ok and (r.width, r.height) == (6, 5)
        got = _png_gray_pixels(bytes(r.payload))
        assert np.array_equal(got, expect)
        assert r.n_bytes == len(bytes(r.payload))


def test_resize_images_poison_pill(spark):
    from novi_pdq_etl_project_prod_spark.operators.multimodal import resize_images

    df = spark.createDataFrame(
        [Row(media_id=1, payload=bytearray(b"not a png")),
         Row(media_id=2, payload=None)]
    )
    rows = {r.media_id: r for r in resize_images(df, 4, 4).collect()}
    assert not rows[1].ok and rows[1].payload is None
    assert not rows[2].ok and rows[2].payload is None


# ---------------------------------------------------------------------------
# Poissonized bootstrap (d17)
# ---------------------------------------------------------------------------

def test_poisson_bootstrap_statistical_sanity(spark):
    from novi_pdq_etl_project_prod_spark.operators.stats import (
        poisson_bootstrap_means,
    )

    rows = [Row(g="a", rid=i, v=float(100 + (i % 7))) for i in range(2000)]
    df = spark.createDataFrame(rows)
    out = poisson_bootstrap_means(df, "g", "rid", "v", n_replicates=16).collect()
    assert len(out) == 16
    true_mean = sum(r.v for r in rows) / len(rows)
    means = [r.mean for r in out]
    # every replicate mean sits near the true mean (bounded values), and
    # the replicates genuinely differ (the resampling is not degenerate)
    assert all(abs(m - true_mean) < 1.0 for m in means)
    assert len(set(round(m, 6) for m in means)) > 1
    # Poisson(1) weights: each replicate's effective n ≈ n within 4σ(≈√n)
    for r in out:
        assert abs(r.n_eff - 2000) < 4 * 45
    # deterministic: a rerun is identical
    again = poisson_bootstrap_means(df, "g", "rid", "v", n_replicates=16).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


# ---------------------------------------------------------------------------
# Nearest as-of join (x21)
# ---------------------------------------------------------------------------

def test_asof_nearest_semantics(spark):
    import datetime as dt

    from novi_pdq_etl_project_prod_spark.operators.joins import asof_join

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [
            Row(k=1, ts=t(10), eid=100),  # back at 8 (d=2), fwd at 13 (d=3) -> back
            Row(k=1, ts=t(11), eid=101),  # back d=3, fwd d=2 -> fwd
            Row(k=1, ts=t(12), eid=102),  # equidistant (8? no: back 12-8=4, fwd 13-12=1) -> fwd
            Row(k=2, ts=t(5), eid=200),   # only forward exists
            Row(k=3, ts=t(5), eid=300),   # only backward exists
            Row(k=4, ts=t(5), eid=400),   # no right rows at all
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, ts=t(8), eid=1, v=8.0),
            Row(k=1, ts=t(13), eid=2, v=13.0),
            Row(k=2, ts=t(9), eid=3, v=9.0),
            Row(k=3, ts=t(1), eid=4, v=1.0),
        ]
    )
    out = {
        r.eid: r
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts",
            value_cols=["v"], tie_break="eid", direction="nearest",
        ).collect()
    }
    assert out[100].asof_v == 8.0
    assert out[101].asof_v == 13.0
    assert out[102].asof_v == 13.0
    assert out[200].asof_v == 9.0 and out[200].asof_ts == t(9)
    assert out[300].asof_v == 1.0
    assert out[400].asof_v is None and out[400].asof_ts is None


def test_asof_nearest_tie_prefers_backward(spark):
    import datetime as dt

    from novi_pdq_etl_project_prod_spark.operators.joins import asof_join

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    left = spark.createDataFrame([Row(k=1, ts=t(10), eid=1)])
    right = spark.createDataFrame(
        [Row(k=1, ts=t(8), eid=2, v=8.0), Row(k=1, ts=t(12), eid=3, v=12.0)]
    )
    out = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        value_cols=["v"], tie_break="eid", direction="nearest",
    ).collect()[0]
    assert out.asof_v == 8.0  # |d|=2 both ways: backward wins


def test_resize_images_null_id_is_poison_and_id_col_named(spark):
    """ADVICE r05: a null id must not crash the batch (ok=false like any
    poison payload), and the output id column keeps the caller's name."""
    from novi_pdq_etl_project_prod_spark.operators.multimodal import (
        resize_images,
        synthetic_png_bytes,
    )

    df = spark.createDataFrame(
        [Row(img_id=1, payload=bytearray(synthetic_png_bytes(1))),
         Row(img_id=None, payload=bytearray(synthetic_png_bytes(2)))]
    )
    out = resize_images(df, 4, 4, id_col="img_id", payload_col="payload")
    assert out.columns[0] == "img_id"
    rows = out.collect()
    by_id = {r.img_id: r for r in rows}
    assert by_id[1].ok
    assert not by_id[None].ok and by_id[None].payload is None


def test_poisson_bootstrap_scale_parameter(spark):
    """ADVICE r05: the fixed-point quantization is caller-controlled —
    micro-scale values collapse at the cents default but stay exact at
    scale=10**6."""
    from novi_pdq_etl_project_prod_spark.operators.stats import (
        poisson_bootstrap_means,
    )

    rows = [Row(g="a", rid=i, v=0.001 + 0.0001 * (i % 5)) for i in range(500)]
    df = spark.createDataFrame(rows)
    cents = poisson_bootstrap_means(df, "g", "rid", "v", n_replicates=4).collect()
    fine = poisson_bootstrap_means(
        df, "g", "rid", "v", n_replicates=4, scale=10**6
    ).collect()
    # cents resolution rounds every value to 0.00 — degenerate means
    assert all(r.mean == 0.0 for r in cents)
    true_mean = sum(r.v for r in rows) / len(rows)
    assert all(abs(r.mean - true_mean) < 0.0005 for r in fine)
    # weights are scale-independent: same ids, same draws
    assert {(r.replicate, r.n_eff) for r in cents} == {
        (r.replicate, r.n_eff) for r in fine
    }


def test_asof_nearest_numeric_ts(spark):
    """ADVICE r05: nearest accepts numeric (non-timestamp) time axes the
    way backward/forward already do."""
    from novi_pdq_etl_project_prod_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [Row(k=1, ts=10, eid=100), Row(k=1, ts=11, eid=101)]
    )
    right = spark.createDataFrame(
        [Row(k=1, ts=8, eid=1, v=8.0), Row(k=1, ts=13, eid=2, v=13.0)]
    )
    out = {
        r.eid: r
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts",
            value_cols=["v"], tie_break="eid", direction="nearest",
        ).collect()
    }
    assert out[100].asof_v == 8.0 and out[100].asof_ts == 8
    assert out[101].asof_v == 13.0
