"""Operator-level invariants for the round-6b additions (sketches, EMA,
MAD, FD audit) on synthetic frames — properties the SQL oracle can't
state directly (merge law under arbitrary sharding, robustness under
contamination, EMA vs an independent Python model)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.operators.quality import fd_violation_report
from novi_pdq_etl_project_prod_spark.operators.sketches import (
    HASH_DOMAIN,
    kmv_estimate,
    kmv_hash,
    kmv_merge,
    kmv_sketch,
)
from novi_pdq_etl_project_prod_spark.operators.stats import mad_outlier_summary
from novi_pdq_etl_project_prod_spark.operators.timeseries import grouped_ema


def _py_kmv_hash(v: str, salt: str = "kmv") -> int:
    return int(hashlib.md5(f"{salt}:{v}".encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# KMV
# ---------------------------------------------------------------------------

def test_kmv_hash_matches_python_model(spark):
    df = spark.createDataFrame([(str(i),) for i in range(20)], ["v"])
    got = {
        r["v"]: r["h"]
        for r in df.select("v", kmv_hash(F.col("v")).alias("h")).collect()
    }
    for v, h in got.items():
        assert h == _py_kmv_hash(v)
        assert 0 <= h < HASH_DOMAIN


def test_kmv_sketch_is_exact_bottom_k(spark):
    rows = [("g", str(i)) for i in range(500)] * 2  # duplicates collapse
    df = spark.createDataFrame(rows, ["grp", "v"])
    sk = kmv_sketch(df, "v", ["grp"], k=32)
    got = sorted(r["h"] for r in sk.collect())
    want = sorted(_py_kmv_hash(str(i)) for i in range(500))[:32]
    assert got == want


def test_kmv_merge_law_arbitrary_sharding(spark):
    """min-k of per-shard min-k's == min-k of the union, for a sharding
    the oracle never sees (by value hash parity, 3 ways)."""
    rows = [("g", str(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, ["grp", "v"])
    direct = kmv_sketch(df, "v", ["grp"], k=16)
    shards = [
        kmv_sketch(
            df.where(F.crc32(F.col("v")) % 3 == i), "v", ["grp"], k=16
        )
        for i in range(3)
    ]
    union = shards[0]
    for s in shards[1:]:
        union = union.unionByName(s)
    merged = kmv_merge(union, ["grp"], k=16)
    assert sorted(r["h"] for r in merged.collect()) == sorted(
        r["h"] for r in direct.collect()
    )


def test_kmv_estimate_exact_when_small_and_close_when_large(spark):
    small = spark.createDataFrame([("a", str(i)) for i in range(10)], ["grp", "v"])
    row = kmv_estimate(kmv_sketch(small, "v", ["grp"], k=64), ["grp"], k=64).first()
    assert row["n_kept"] == 10 and row["est_distinct"] == 10.0
    big = spark.createDataFrame([("a", str(i)) for i in range(5000)], ["grp", "v"])
    est = kmv_estimate(kmv_sketch(big, "v", ["grp"], k=256), ["grp"], k=256).first()
    assert est["est_distinct"] == pytest.approx(5000, rel=0.15)


# ---------------------------------------------------------------------------
# EMA
# ---------------------------------------------------------------------------

def test_grouped_ema_matches_python_fold(spark):
    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.5]
    df = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(vals)]
        + [("other", 0, 100.0)],
        ["key", "t", "x"],
    )
    out = {
        r["rn"]: r["ema"]
        for r in grouped_ema(df, ["key"], "t", "x", alpha=0.25)
        .where(F.col("key") == "k")
        .collect()
    }
    ema = vals[0]
    model = {1: ema}
    for i, v in enumerate(vals[1:], start=2):
        ema = 0.25 * v + 0.75 * ema
        model[i] = ema
    assert out == model  # bit-exact: same fold order, same doubles


def test_grouped_ema_partition_invariant(spark):
    df = spark.createDataFrame(
        [("k", i, float((i * 37) % 11)) for i in range(200)], ["key", "t", "x"]
    )
    a = grouped_ema(df.repartition(1), ["key"], "t", "x").collect()
    b = grouped_ema(df.repartition(17, "x"), ["key"], "t", "x").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ---------------------------------------------------------------------------
# MAD
# ---------------------------------------------------------------------------

def test_mad_resists_contamination_where_zscore_would_not(spark):
    """40% wild contamination: the MAD gate still flags exactly the
    planted rows (median/MAD barely move), demonstrating the 50%
    breakdown point that motivates the operator."""
    clean = [("g", 100.0 + (i % 7)) for i in range(60)]
    poison = [("g", 1e9 + i) for i in range(40)]
    df = spark.createDataFrame(clean + poison, ["grp", "x"])
    row = mad_outlier_summary(df, ["grp"], "x", k=3.0).first()
    assert row["n_rows"] == 100
    assert row["n_outliers"] == 40
    assert 100.0 <= row["med"] <= 107.0
    assert row["mad"] <= 7.0


def test_mad_zero_for_constant_groups(spark):
    df = spark.createDataFrame([("g", 5.0)] * 8 + [("h", 1.0), ("h", 3.0)], ["grp", "x"])
    rows = {r["grp"]: r for r in mad_outlier_summary(df, ["grp"], "x").collect()}
    assert rows["g"]["mad"] == 0.0 and rows["g"]["n_outliers"] == 0
    assert rows["h"]["med"] == 2.0 and rows["h"]["mad"] == 1.0


# ---------------------------------------------------------------------------
# FD audit
# ---------------------------------------------------------------------------

def test_fd_violation_report(spark):
    df = spark.createDataFrame(
        [(1, "a", "x"), (1, "a", "y"), (2, "b", "x"), (3, "a", "x")],
        ["k", "attr", "other"],
    )
    rep = {
        r["fd"]: r
        for r in fd_violation_report(
            df,
            [
                ("k->attr", ["k"], "attr"),  # holds: every k maps to one attr
                ("k->other", ["k"], "other"),  # violated by k=1
                ("attr->k", ["attr"], "k"),  # violated by attr='a' (k in 1,3)
            ],
        ).collect()
    }
    assert rep["k->attr"]["n_violating_keys"] == 0
    assert rep["k->attr"]["n_keys"] == 3
    assert rep["k->other"]["n_violating_keys"] == 1
    assert rep["k->other"]["max_branching"] == 2
    assert rep["attr->k"]["n_violating_keys"] == 1


def test_kmv_set_overlap_estimates(spark):
    """Three sets with known overlap structure: disjoint pair estimates
    ~0, nested pair estimates ~|B|; exact when sets are below k."""
    a = [("A", str(i)) for i in range(40)]          # A = 0..39
    b = [("B", str(i)) for i in range(20, 60)]      # B = 20..59, |A∩B|=20
    c = [("C", str(i)) for i in range(1000, 1040)]  # C disjoint
    df = spark.createDataFrame(a + b + c, ["s", "v"])
    from novi_pdq_etl_project_prod_spark.operators.sketches import kmv_set_overlap

    rows = {
        (r["set_a"], r["set_b"]): r
        for r in kmv_set_overlap(df, "v", "s", k=64).collect()
    }
    # every set has < k distinct values -> theta = domain, estimates exact
    assert rows[("A", "B")]["n_common"] == 20
    assert rows[("A", "B")]["est_intersection"] == 20.0
    assert rows[("A", "C")]["n_common"] == 0
    assert rows[("A", "C")]["est_intersection"] == 0.0
    assert rows[("B", "C")]["est_intersection"] == 0.0


def test_kmv_set_overlap_sketched_accuracy(spark):
    """Above-k regime: 5000-element sets with 50% overlap, k=256 —
    estimate within 25% of truth."""
    a = [("A", str(i)) for i in range(5000)]
    b = [("B", str(i)) for i in range(2500, 7500)]
    df = spark.createDataFrame(a + b, ["s", "v"])
    from novi_pdq_etl_project_prod_spark.operators.sketches import kmv_set_overlap

    row = kmv_set_overlap(df, "v", "s", k=256).first()
    assert abs(row["est_intersection"] - 2500) / 2500 < 0.25


def test_stream_kmv_sketch_equals_batch_sketch(spark, tmp_path):
    """Streaming-maintained sketch over two micro-batches is IDENTICAL
    to the batch sketch of all rows (the merge law makes streaming
    lossless), and replaying from a fresh checkpoint changes nothing
    (idempotent by register-set semantics)."""
    import time as _time

    from novi_pdq_etl_project_prod_spark.sources.layers import (
        resolve_table_path,
        table_path,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import stream_kmv_sketch

    src = str(tmp_path / "vals")
    day1 = spark.createDataFrame(
        [("g", str(i)) for i in range(300)], "grp string, v string"
    )
    day2 = spark.createDataFrame(
        [("g", str(i)) for i in range(200, 500)], "grp string, v string"
    )
    day1.coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    day2.coalesce(1).write.mode("append").parquet(src)

    root = str(tmp_path / "wh")

    def run(chk: str) -> None:
        stream = (
            spark.readStream.schema("grp string, v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        stream_kmv_sketch(
            stream, root, "sketch_v", "v", ("grp",),
            checkpoint_dir=str(tmp_path / chk), k=32,
        )

    run("chk1")
    got = spark.read.parquet(
        resolve_table_path(table_path(root, "curated", "sketch_v"))
    )
    batch = kmv_sketch(day1.unionByName(day2), "v", ["grp"], k=32)
    want = sorted(r["h"] for r in batch.collect())
    assert sorted(r["h"] for r in got.collect()) == want

    run("chk2")  # full replay against the existing sketch: no change
    again = spark.read.parquet(
        resolve_table_path(table_path(root, "curated", "sketch_v"))
    )
    assert sorted(r["h"] for r in again.collect()) == want


def test_triangle_stats_known_graphs(spark):
    from novi_pdq_etl_project_prod_spark.operators.graphs import triangle_stats

    # K4: 6 edges, 4 triangles, wedges = 4*C(3,2) = 12, clustering = 1.0
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    row = triangle_stats(
        spark.createDataFrame(k4, ["s", "d"]), "s", "d"
    ).first()
    assert (row["n_vertices"], row["n_edges"], row["n_wedges"]) == (4, 6, 12)
    assert row["n_triangles"] == 4 and row["global_clustering"] == 1.0

    # path 0-1-2-3: 1 wedge per internal vertex x2, zero triangles
    path = [(0, 1), (1, 2), (2, 3)]
    row = triangle_stats(
        spark.createDataFrame(path, ["s", "d"]), "s", "d"
    ).first()
    assert row["n_triangles"] == 0 and row["n_wedges"] == 2
    assert row["global_clustering"] == 0.0

    # duplicate / reversed / self-loop edges collapse before counting
    messy = [(1, 2), (2, 1), (1, 1), (2, 3), (3, 1), (1, 3)]
    row = triangle_stats(
        spark.createDataFrame(messy, ["s", "d"]), "s", "d"
    ).first()
    assert row["n_edges"] == 3 and row["n_triangles"] == 1


def test_triangle_stats_hub_graph_matches_bruteforce(spark):
    """Deterministic pseudo-random graph with a hub (the degree-skew the
    orientation exists for): count matches a local brute force."""
    import itertools

    edges = [(0, i) for i in range(1, 30)]  # hub
    edges += [((i * 7) % 30, (i * 11) % 30) for i in range(1, 60)]
    canon = {tuple(sorted(e)) for e in edges}
    adj = {}
    for a, b in canon:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = sum(
        1
        for a, b, c in itertools.combinations(sorted(adj), 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    from novi_pdq_etl_project_prod_spark.operators.graphs import triangle_stats

    row = triangle_stats(
        spark.createDataFrame(list(canon), ["s", "d"]), "s", "d"
    ).first()
    assert row["n_triangles"] == want


def test_bloom_prune_no_false_negatives_and_counts(spark):
    """Every build key survives pruning (no false negatives, ever);
    with a tiny 64-bit filter false positives occur and are exactly the
    rows the exact semi-join would drop."""
    from novi_pdq_etl_project_prod_spark.operators.joins import (
        bloom_build,
        bloom_prune,
    )

    build = spark.createDataFrame([(i,) for i in range(0, 50, 5)], ["k"])  # 10 keys
    probe = spark.createDataFrame([(i,) for i in range(200)], ["k"])
    bloom = bloom_build(build, "k", m_bits=64, n_hashes=2)
    kept = {r["k"] for r in bloom_prune(probe, bloom, "k", m_bits=64, n_hashes=2).collect()}
    members = set(range(0, 50, 5))
    assert members <= kept  # no false negatives
    assert kept - members  # 64 bits for 10 keys: false positives exist
    # the true members among kept rows == exact semi-join
    assert kept & set(range(200)) >= members


def test_bloom_prune_default_geometry_tight(spark):
    """At the default 4096/3 geometry with a small build set, pruning is
    nearly exact on a disjoint probe."""
    from novi_pdq_etl_project_prod_spark.operators.joins import (
        bloom_build,
        bloom_prune,
    )

    build = spark.createDataFrame([(i,) for i in range(100)], ["k"])
    probe = spark.createDataFrame([(i,) for i in range(10_000, 12_000)], ["k"])
    bloom = bloom_build(build, "k")
    n_fp = bloom_prune(probe, bloom, "k").count()
    assert n_fp <= 5  # expected ~2000 * (300/4096)^3 ≈ 0.8


def test_sample_quantile_sketch_merge_law_and_accuracy(spark):
    """Per-shard samples merge into exactly the sample a full pass
    draws; the sample quantile lands near the true quantile."""
    from novi_pdq_etl_project_prod_spark.operators.sketches import (
        kmv_merge,
        sample_quantile_sketch,
    )

    rows = [("g", str(i), float(i)) for i in range(10_000)]
    df = spark.createDataFrame(rows, ["grp", "rid", "v"])
    direct = sample_quantile_sketch(df, "rid", "v", ["grp"], k=200)
    shards = [
        sample_quantile_sketch(
            df.where(F.crc32(F.col("rid")) % 4 == i), "rid", "v", ["grp"], k=200
        )
        for i in range(4)
    ]
    union = shards[0]
    for s in shards[1:]:
        union = union.unionByName(s)
    merged = kmv_merge(union.select("grp", "h"), ["grp"], k=200)
    assert sorted(r["h"] for r in merged.collect()) == sorted(
        r["h"] for r in direct.collect()
    )
    samp = [r["v"] for r in direct.collect()]
    assert len(samp) == 200
    import statistics

    assert abs(statistics.median(samp) - 5000) < 700  # ~1/sqrt(200) rel err


def test_sample_sketch_merge_carries_values(spark):
    """Merging sample sketches with carry_cols preserves the payload:
    the merged (h, id, value) rows equal the direct sketch's rows."""
    from novi_pdq_etl_project_prod_spark.operators.sketches import (
        kmv_merge,
        sample_quantile_sketch,
    )

    rows = [("g", str(i), float(i * 3)) for i in range(2000)]
    df = spark.createDataFrame(rows, ["grp", "rid", "v"])
    direct = sample_quantile_sketch(df, "rid", "v", ["grp"], k=64)
    halves = [
        sample_quantile_sketch(
            df.where(F.crc32(F.col("rid")) % 2 == i), "rid", "v", ["grp"], k=64
        )
        for i in range(2)
    ]
    merged = kmv_merge(
        halves[0].unionByName(halves[1]), ["grp"], k=64, carry_cols=["rid", "v"]
    )
    key = lambda r: (r["h"], r["rid"], r["v"])
    assert sorted(map(key, merged.collect())) == sorted(map(key, direct.collect()))


def test_weighted_median_crossing_and_invariance(spark):
    from novi_pdq_etl_project_prod_spark.operators.stats import weighted_median

    # weights pull the median to 10 even though the plain median is 20
    rows = [("g", 10.0, 8), ("g", 20.0, 1), ("g", 30.0, 1)]
    row = weighted_median(
        spark.createDataFrame(rows, ["grp", "v", "w"]), ["grp"], "v", "w"
    ).first()
    assert row["weighted_median"] == 10.0 and row["total_weight"] == 10
    # exact half-crossing: 2*cum == total picks the crossing value
    rows = [("g", 1.0, 1), ("g", 2.0, 1)]
    row = weighted_median(
        spark.createDataFrame(rows, ["grp", "v", "w"]), ["grp"], "v", "w"
    ).first()
    assert row["weighted_median"] == 1.0
    # tie-heavy input is partitioning-invariant
    big = spark.createDataFrame(
        [("g", float(i % 5), 1 + i % 3) for i in range(999)], ["grp", "v", "w"]
    )
    a = weighted_median(big.repartition(1), ["grp"], "v", "w").first()
    b = weighted_median(big.repartition(13, "w"), ["grp"], "v", "w").first()
    assert a == b


def test_gini_index_known_distributions(spark):
    from novi_pdq_etl_project_prod_spark.operators.stats import gini_index

    # perfectly equal -> 0
    eq = spark.createDataFrame([("g", 100)] * 10, ["grp", "cents"])
    assert gini_index(eq, ["grp"], F.col("cents")).first()["gini"] == 0.0
    # one holder of everything -> (n-1)/n
    mono = spark.createDataFrame(
        [("g", 0)] * 9 + [("g", 1000)], ["grp", "cents"]
    )
    row = gini_index(mono, ["grp"], F.col("cents")).first()
    assert abs(row["gini"] - 0.9) < 1e-12


def test_cluster_conf_arithmetic():
    from novi_pdq_etl_project_prod_spark.session import cluster_conf

    c = cluster_conf(executors=1000, cores_per_executor=4, data_tb=100.0)
    parts = int(c["spark.sql.shuffle.partitions"])
    # 100 TB / 192 MB ≈ 546k tasks, well above the 8k core floor
    assert 500_000 < parts < 600_000
    assert int(c["spark.sql.files.maxPartitionBytes"]) == 192 * 1024**2
    assert c["spark.sql.adaptive.enabled"] == "true"
    # small cluster, small data: the per-core floor dominates
    c2 = cluster_conf(executors=4, cores_per_executor=8, data_tb=0.001)
    assert int(c2["spark.sql.shuffle.partitions"]) == 64
    # broadcast threshold bounded sanely
    bc = int(c["spark.sql.autoBroadcastJoinThreshold"]) // 1024**2
    assert 32 <= bc <= 256
    import pytest

    with pytest.raises(ValueError):
        cluster_conf(executors=0)


def test_stream_sample_quantile_sketch_equals_batch(spark, tmp_path):
    """Streaming-maintained quantile sample over two micro-batches
    equals the batch sample of all rows, payload included, and the
    quantile read off the maintained table matches the batch path."""
    import time as _time

    from novi_pdq_etl_project_prod_spark.operators.sketches import (
        sample_quantile_sketch,
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        resolve_table_path,
        table_path,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        stream_sample_quantile_sketch,
    )

    src = str(tmp_path / "vals")
    day1 = spark.createDataFrame(
        [("g", str(i), float(i)) for i in range(400)],
        "grp string, rid string, v double",
    )
    day2 = spark.createDataFrame(
        [("g", str(i), float(i)) for i in range(400, 900)],
        "grp string, rid string, v double",
    )
    day1.coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    day2.coalesce(1).write.mode("append").parquet(src)

    root = str(tmp_path / "wh")
    stream = (
        spark.readStream.schema("grp string, rid string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_sample_quantile_sketch(
        stream, root, "qsample", "rid", "v", ("grp",),
        checkpoint_dir=str(tmp_path / "chk"), k=64,
    )
    got = spark.read.parquet(
        resolve_table_path(table_path(root, "curated", "qsample"))
    )
    batch = sample_quantile_sketch(
        day1.unionByName(day2), "rid", "v", ["grp"], k=64
    )
    key = lambda r: (r["h"], r["rid"], r["v"])
    assert sorted(map(key, got.collect())) == sorted(map(key, batch.collect()))
    med_stream = got.agg(F.percentile("v", F.lit(0.5))).first()[0]
    med_batch = batch.agg(F.percentile("v", F.lit(0.5))).first()[0]
    assert med_stream == med_batch


def test_mann_whitney_hand_computed(spark):
    """Textbook tiny cases against hand-computed rank sums."""
    # no ties: A=[1,2], B=[3,4] -> R_A=3, U_A=0
    # (ranks 1..4; z = (0 - 2)/sqrt(2*2*5/12) = -2/1.29099..)
    import math

    from novi_pdq_etl_project_prod_spark.operators.stats import mann_whitney

    df = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0)], ["s", "v"]
    )
    row = mann_whitney(df, "s", "A", "B", "v").first()
    assert (row["n_a"], row["n_r"], row["u_a"]) == (2, 2, 0.0)
    assert abs(row["z_score"] - (-2.0 / math.sqrt(2 * 2 * 5 / 12.0))) < 1e-12

    # ties: A=[1,2,2], B=[2,3] -> avg rank of the 2s is 3; R_A=7, U_A=1
    df = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("A", 2.0), ("B", 2.0), ("B", 3.0)], ["s", "v"]
    )
    row = mann_whitney(df, "s", "A", "B", "v").first()
    assert row["u_a"] == 1.0
    # tie-corrected variance: na*nr/12 * ((N+1) - (m^3-m)/(N(N-1)))
    var = 3 * 2 / 12.0 * (6 - (27 - 3) / (5 * 4.0))
    assert abs(row["z_score"] - (1.0 - 3.0) / math.sqrt(var)) < 1e-12


def test_spearman_known_values(spark):
    from novi_pdq_etl_project_prod_spark.operators.stats import (
        spearman_correlation,
    )

    # perfect monotone (nonlinear) -> rho = 1; reversed -> -1
    mono = spark.createDataFrame(
        [("g", float(i), float(i**3)) for i in range(1, 9)], ["grp", "x", "y"]
    )
    assert spearman_correlation(mono, ["grp"], "x", "y").first()[
        "spearman_rho"
    ] == 1.0
    rev = spark.createDataFrame(
        [("g", float(i), float(-i)) for i in range(1, 9)], ["grp", "x", "y"]
    )
    assert spearman_correlation(rev, ["grp"], "x", "y").first()[
        "spearman_rho"
    ] == -1.0
    # hand case with ties: x=[1,2,2,3], y=[1,1,2,3]
    # r2x=[2,5,5,8], r2y=[3,3,6,8]; rho = 0.8
    tied = spark.createDataFrame(
        [("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 2.0, 2.0), ("g", 3.0, 3.0)],
        ["grp", "x", "y"],
    )
    rho = spearman_correlation(tied, ["grp"], "x", "y").first()["spearman_rho"]
    import math
    n, sx, sy = 4, 20, 20
    sxy = 2*3 + 5*3 + 5*6 + 8*8
    sxx = 4 + 25 + 25 + 64
    syy = 9 + 9 + 36 + 64
    want = (n*sxy - sx*sy) / math.sqrt((n*sxx - sx*sx) * (n*syy - sy*sy))
    assert abs(rho - want) < 1e-12


def test_clustering_report_zordered_vs_shuffled(spark, tmp_path):
    """The clustering factor separates a z-ordered layout from a
    shuffled one on the same data: z-ordered files cover narrow slices
    with low mutual overlap; shuffled files all span everything."""
    from novi_pdq_etl_project_prod_spark.sources.skipping import (
        clustering_report,
        write_zordered,
    )

    df = spark.range(20_000).select(
        (F.col("id") % 141).cast("long").alias("x"),
        ((F.col("id") * 7919) % 141).cast("long").alias("y"),
    )
    zdir = str(tmp_path / "z")
    write_zordered(df, zdir, ["x", "y"], n_files=8)
    sdir = str(tmp_path / "s")
    df.repartition(8).write.mode("overwrite").parquet(sdir)

    rz = clustering_report(zdir, ["x"])["columns"]["x"]
    rs = clustering_report(sdir, ["x"])["columns"]["x"]
    assert rz["avg_span_frac"] < rs["avg_span_frac"] * 0.8
    assert rz["avg_overlap"] < rs["avg_overlap"]
    # shuffled: every file overlaps every other on the full span
    assert rs["avg_overlap"] >= 6.0
