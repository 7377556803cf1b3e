"""Crash-safety tests for the snapshot-pointer commit protocol
(VERDICT r02 item 2).

The old swap was two ``os.rename`` calls with a window where the table
directory was absent. The new protocol (``sources.layers``) writes the new
snapshot to a versioned dir, atomically flips a fsync'd ``_CURRENT``
pointer, then garbage-collects — so a crash injected at ANY step must
leave readers on a complete table. These tests inject the crashes by
monkeypatching the exact step boundaries.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.sources import layers
from novi_pdq_etl_project_prod_spark.sources.layers import (
    compact_table,
    overwrite_snapshot,
    read_month,
    resolve_table_path,
    table_path,
    write_month_idempotent,
)


class Boom(RuntimeError):
    """Injected crash."""


def _dim(spark, tag: str, n: int = 50):
    return spark.range(n).select(
        F.col("id").alias("k"), F.lit(tag).alias("v")
    )


def _checksum(df):
    return df.agg(F.sum("k").alias("s")).collect()[0].s, df.count()


def test_crash_before_pointer_commit_keeps_old_snapshot(spark, tmp_path, monkeypatch):
    """Crash after the new snapshot's data is written but before the
    pointer flips: readers must still see the OLD complete table."""
    root = str(tmp_path / "wh")
    overwrite_snapshot(_dim(spark, "v1"), root, "curated", "d")
    want = _checksum(read_month(spark, root, "curated", "d"))

    def no_commit(path, snap, expected_base=...):
        raise Boom("crash between data write and pointer commit")

    monkeypatch.setattr(layers, "_commit_pointer", no_commit)
    with pytest.raises(Boom):
        overwrite_snapshot(_dim(spark, "v2", n=99), root, "curated", "d")
    monkeypatch.undo()

    got = read_month(spark, root, "curated", "d")
    assert _checksum(got) == want
    assert got.where("v = 'v2'").count() == 0, "torn write leaked to readers"


def test_crash_inside_pointer_write_is_atomic(spark, tmp_path, monkeypatch):
    """Crash between writing _CURRENT.tmp and the atomic os.replace: the
    live pointer file is untouched, so readers stay on the old snapshot."""
    root = str(tmp_path / "wh")
    overwrite_snapshot(_dim(spark, "v1"), root, "curated", "d")
    want = _checksum(read_month(spark, root, "curated", "d"))

    real_replace = os.replace

    def crash_replace(src, dst):
        if os.path.basename(dst) == layers.CURRENT_POINTER:
            raise Boom("crash mid pointer rename")
        return real_replace(src, dst)

    monkeypatch.setattr(layers.os, "replace", crash_replace)
    with pytest.raises(Boom):
        overwrite_snapshot(_dim(spark, "v2", n=99), root, "curated", "d")
    monkeypatch.undo()

    assert _checksum(read_month(spark, root, "curated", "d")) == want


def test_crash_after_commit_before_gc_serves_new_snapshot(spark, tmp_path, monkeypatch):
    """Crash after the pointer flip but before garbage collection: readers
    see the NEW table; the stale snapshot is just unreferenced garbage and
    the next successful write collects it."""
    root = str(tmp_path / "wh")
    overwrite_snapshot(_dim(spark, "v1"), root, "curated", "d")

    def no_gc(path):
        raise Boom("crash before cleanup")

    monkeypatch.setattr(layers, "_gc_stale_snapshots", no_gc)
    with pytest.raises(Boom):
        overwrite_snapshot(_dim(spark, "v2", n=99), root, "curated", "d")
    monkeypatch.undo()

    got = read_month(spark, root, "curated", "d")
    assert got.count() == 99 and got.where("v = 'v2'").count() == 99

    tdir = table_path(root, "curated", "d")
    assert len([e for e in os.listdir(tdir) if e.startswith("_snap_v")]) == 2
    # retention off (the default keeps the previous snapshot for lazy
    # readers and grace-young dirs for in-progress writers — tested in
    # test_gc_retains_previous_snapshot_for_lazy_readers)
    monkeypatch.setattr(layers, "GC_RETAIN_PREVIOUS", 0)
    monkeypatch.setattr(layers, "GC_GRACE_SECONDS", 0.0)
    overwrite_snapshot(_dim(spark, "v3", n=7), root, "curated", "d")
    live = os.path.basename(resolve_table_path(tdir))
    assert [e for e in os.listdir(tdir) if e.startswith("_snap_v")] == [live]


def test_compaction_crash_leaves_table_readable(spark, tmp_path, monkeypatch):
    """The verdict's exact scenario: kill compact_table mid-swap; the table
    must never be absent (the old two-rename design had that window)."""
    root = str(tmp_path / "wh")
    li = spark.range(10_000).select(
        (F.col("id") % 7).alias("k"),
        (F.lit(202401) + (F.col("id") % 3).cast("int")).alias("yyyymm"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    write_month_idempotent(li.repartition(16), root, "staging", "t")
    want = read_month(spark, root, "staging", "t").count()

    def no_commit(path, snap, expected_base=...):
        raise Boom("crash mid compaction swap")

    monkeypatch.setattr(layers, "_commit_pointer", no_commit)
    with pytest.raises(Boom):
        compact_table(spark, root, "staging", "t", target_file_mb=1)
    monkeypatch.undo()

    # table readable THROUGH the crash window, and a retry succeeds
    assert read_month(spark, root, "staging", "t").count() == want
    compact_table(spark, root, "staging", "t", target_file_mb=1)
    assert read_month(spark, root, "staging", "t").count() == want


def test_legacy_in_place_table_migrates_on_first_commit(spark, tmp_path, monkeypatch):
    """A table written with the in-place layout gains the pointer on its
    first snapshot commit; loose legacy files are collected and readers
    resolve to the committed snapshot."""
    monkeypatch.setattr(layers, "GC_RETAIN_PREVIOUS", 0)
    monkeypatch.setattr(layers, "GC_GRACE_SECONDS", 0.0)
    root = str(tmp_path / "wh")
    tdir = table_path(root, "curated", "d")
    _dim(spark, "legacy").write.mode("overwrite").parquet(tdir)  # in-place
    assert resolve_table_path(tdir) == tdir  # no pointer yet

    overwrite_snapshot(_dim(spark, "v2", n=99), root, "curated", "d")
    assert resolve_table_path(tdir) != tdir
    got = read_month(spark, root, "curated", "d")
    assert got.count() == 99 and got.where("v = 'legacy'").count() == 0
    # legacy loose files collected; snapshot + pointer + commit lock remain
    entries = set(os.listdir(tdir))
    assert entries == {
        os.path.basename(resolve_table_path(tdir)),
        layers.CURRENT_POINTER,
        layers.COMMIT_LOCK,
    }


def test_interleaved_writers_end_with_consistent_winner(spark, tmp_path):
    """VERDICT r04 item 6: two writers interleave — both reserve distinct
    snapshot dirs (no directory collision), both commit, the last
    committer wins, and a reader at every interleaving point sees one
    complete table (never torn, never absent)."""
    root = str(tmp_path / "wh")
    tdir = table_path(root, "curated", "d")
    overwrite_snapshot(_dim(spark, "v0"), root, "curated", "d")

    # interleave by hand with the internal protocol steps
    os.makedirs(tdir, exist_ok=True)
    snap_a = layers._reserve_snapshot_dir(tdir)
    snap_b = layers._reserve_snapshot_dir(tdir)
    assert snap_a != snap_b, "concurrent writers must never share a dir"
    _dim(spark, "wA", n=10).write.mode("overwrite").parquet(
        os.path.join(tdir, snap_a)
    )
    _dim(spark, "wB", n=20).write.mode("overwrite").parquet(
        os.path.join(tdir, snap_b)
    )
    layers._commit_pointer(tdir, snap_a)
    mid = read_month(spark, root, "curated", "d")
    assert mid.count() == 10 and mid.where("v = 'wA'").count() == 10
    layers._commit_pointer(tdir, snap_b)
    got = read_month(spark, root, "curated", "d")
    assert got.count() == 20 and got.where("v = 'wB'").count() == 20


def test_cas_commit_detects_lost_update(spark, tmp_path):
    """Read-modify-write with expected_base: the second writer whose base
    was replaced gets SnapshotConflictError, the winner's data survives
    untouched, and the loser's orphan snapshot dir is removed."""
    root = str(tmp_path / "wh")
    tdir = table_path(root, "curated", "d")
    overwrite_snapshot(_dim(spark, "v1"), root, "curated", "d")
    base = layers.current_snapshot(tdir)

    # writer 1 commits a CAS overwrite against base — succeeds
    overwrite_snapshot(
        _dim(spark, "w1", n=30), root, "curated", "d", expected_base=base
    )
    # writer 2 also started from base — its CAS must now fail
    with pytest.raises(layers.SnapshotConflictError):
        overwrite_snapshot(
            _dim(spark, "w2", n=40), root, "curated", "d", expected_base=base
        )
    got = read_month(spark, root, "curated", "d")
    assert got.count() == 30 and got.where("v = 'w1'").count() == 30
    live = os.path.basename(resolve_table_path(tdir))
    snaps = [e for e in os.listdir(tdir) if e.startswith("_snap_v")]
    assert live in snaps
    # the conflicted writer's reserved dir was cleaned up (only live +
    # retained previous remain)
    assert len(snaps) <= 2


def test_cas_commit_on_fresh_table_expects_absent_pointer(spark, tmp_path):
    """expected_base=None means "no committed snapshot yet": first writer
    wins, second create-if-absent writer conflicts."""
    root = str(tmp_path / "wh")
    overwrite_snapshot(
        _dim(spark, "first"), root, "curated", "d", expected_base=None
    )
    with pytest.raises(layers.SnapshotConflictError):
        overwrite_snapshot(
            _dim(spark, "second"), root, "curated", "d", expected_base=None
        )
    assert read_month(spark, root, "curated", "d").where("v = 'first'").count() == 50


def test_gc_retains_previous_snapshot_for_lazy_readers(spark, tmp_path):
    """ADVICE r04 (medium): a reader that resolved _CURRENT just before a
    commit scans lazily; default GC retention keeps the previous
    snapshot's files so that in-flight scan still completes."""
    root = str(tmp_path / "wh")
    tdir = table_path(root, "curated", "d")
    overwrite_snapshot(_dim(spark, "v1"), root, "curated", "d")
    # reader resolves the pointer NOW (eager), scan stays lazy
    lazy = spark.read.parquet(resolve_table_path(tdir))
    overwrite_snapshot(_dim(spark, "v2", n=99), root, "curated", "d")
    # the pre-commit reader still completes against the old snapshot
    assert lazy.count() == 50 and lazy.where("v = 'v1'").count() == 50
    # and a fresh reader sees the new one
    assert read_month(spark, root, "curated", "d").count() == 99


def test_upsert_read_modify_write_needs_no_checkpoint(spark, tmp_path):
    """overwrite_snapshot may lazily read the table it replaces: the old
    snapshot's files survive until after the pointer commit, so the
    read-modify-write upsert runs without checkpoint/materialization."""
    root = str(tmp_path / "wh")
    overwrite_snapshot(_dim(spark, "v1"), root, "curated", "d")
    existing = read_month(spark, root, "curated", "d")  # lazy over old snapshot
    merged = existing.unionByName(_dim(spark, "v2", n=10).where("k >= 50"))
    overwrite_snapshot(merged, root, "curated", "d")
    assert read_month(spark, root, "curated", "d").count() == 50


def test_time_travel_reads_retained_versions(spark, tmp_path):
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        SnapshotNotFoundError,
        overwrite_snapshot,
        read_snapshot_as_of,
        snapshot_history,
    )

    root = str(tmp_path)
    for i in (1, 2, 3):
        df = spark.range(i * 10).selectExpr("id", f"{i} AS gen")
        overwrite_snapshot(df, root, "curated", "tt")
    hist = snapshot_history(root, "curated", "tt")
    # GC retains the live snapshot + GC_RETAIN_PREVIOUS (+ grace-window
    # entries, which covers all three in a fast test run); newest first
    assert hist[0]["is_live"] and hist == sorted(
        hist, key=lambda s: s["version"], reverse=True
    )
    live = read_snapshot_as_of(spark, root, "curated", "tt", hist[0]["version"])
    assert live.count() == 30 and live.agg({"gen": "max"}).first()[0] == 3
    prev = read_snapshot_as_of(spark, root, "curated", "tt", hist[1]["version"])
    assert prev.count() == 20 and prev.agg({"gen": "max"}).first()[0] == 2
    # a never-existing version is reported as not retained
    import pytest as _pytest

    with _pytest.raises(SnapshotNotFoundError, match="retained"):
        read_snapshot_as_of(spark, root, "curated", "tt", "_snap_v00000099")


# ---------------------------------------------------------------------------
# Cross-table atomic commit (VERDICT r05 item 8)
# ---------------------------------------------------------------------------

def _set_versions(root, tables):
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        current_snapshot,
    )
    return {t: current_snapshot(table_path(root, "curated", t)) for t in tables}


def _read_set(spark, root):
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        read_manifest_tables,
    )
    return {
        t: sorted(r.v for r in df.select("v").distinct().collect())
        for t, df in read_manifest_tables(spark, root, "curated").items()
    }


def test_commit_tables_all_or_nothing(spark, tmp_path):
    from novi_pdq_etl_project_prod_spark.sources.layers import commit_tables

    root = str(tmp_path)
    commit_tables(
        {"fact": _dim(spark, "f1"), "dim": _dim(spark, "d1")}, root, "curated"
    )
    assert _read_set(spark, root) == {"fact": ["f1"], "dim": ["d1"]}
    # per-table pointers rolled forward too
    v1 = _set_versions(root, ["fact", "dim"])
    assert all(v is not None for v in v1.values())

    commit_tables(
        {"fact": _dim(spark, "f2"), "dim": _dim(spark, "d2")}, root, "curated"
    )
    assert _read_set(spark, root) == {"fact": ["f2"], "dim": ["d2"]}
    v2 = _set_versions(root, ["fact", "dim"])
    assert v2["fact"] > v1["fact"] and v2["dim"] > v1["dim"]


def test_commit_tables_crash_before_manifest_publishes_nothing(
    spark, tmp_path, monkeypatch
):
    from novi_pdq_etl_project_prod_spark.sources.layers import commit_tables

    root = str(tmp_path)
    commit_tables(
        {"fact": _dim(spark, "f1"), "dim": _dim(spark, "d1")}, root, "curated"
    )
    v1 = _set_versions(root, ["fact", "dim"])
    # crash INSIDE the manifest commit, before the pointer flip
    monkeypatch.setattr(
        layers, "_commit_snapshot_write",
        lambda *a, **k: (_ for _ in ()).throw(Boom("mid-commit")),
    )
    with pytest.raises(Boom):
        commit_tables(
            {"fact": _dim(spark, "f2"), "dim": _dim(spark, "d2")},
            root, "curated",
        )
    monkeypatch.undo()
    # nothing moved: manifest set and per-table pointers still v1, and
    # the staged v2 dirs were cleaned up
    assert _read_set(spark, root) == {"fact": ["f1"], "dim": ["d1"]}
    assert _set_versions(root, ["fact", "dim"]) == v1
    for t in ("fact", "dim"):
        snaps = [
            e for e in os.listdir(table_path(root, "curated", t))
            if e.startswith(layers._SNAPSHOT_PREFIX)
        ]
        assert len(snaps) == 1, f"{t}: staged orphan survived: {snaps}"


def test_commit_tables_crash_after_manifest_never_tears(
    spark, tmp_path, monkeypatch
):
    """A reader can never observe fact@v2 with dim@v1: after the manifest
    flip but before roll-forward, manifest readers see the full v2 set
    while per-table pointers still name the full v1 set. Recovery
    finishes the roll-forward."""
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        recover_manifest,
    )

    root = str(tmp_path)
    commit_tables(
        {"fact": _dim(spark, "f1"), "dim": _dim(spark, "d1")}, root, "curated"
    )
    v1 = _set_versions(root, ["fact", "dim"])
    # crash between the manifest flip and per-table roll-forward: the
    # pre-staging heal call must still work, so only the SECOND
    # invocation (the post-flip one) blows up
    real = layers._roll_forward_table_pointers
    calls = []

    def flaky(*a, **k):
        calls.append(1)
        if len(calls) > 1:
            raise Boom("post-flip crash")
        return real(*a, **k)

    monkeypatch.setattr(layers, "_roll_forward_table_pointers", flaky)
    with pytest.raises(Boom):
        commit_tables(
            {"fact": _dim(spark, "f2"), "dim": _dim(spark, "d2")},
            root, "curated",
        )
    monkeypatch.undo()
    # manifest readers: complete v2 set (the commit POINT passed)
    assert _read_set(spark, root) == {"fact": ["f2"], "dim": ["d2"]}
    # per-table pointers: still the complete v1 set — old but consistent
    assert _set_versions(root, ["fact", "dim"]) == v1
    # recovery finishes the roll-forward idempotently
    recover_manifest(root, "curated")
    v2 = _set_versions(root, ["fact", "dim"])
    assert v2["fact"] > v1["fact"] and v2["dim"] > v1["dim"]
    recover_manifest(root, "curated")  # no-op second run
    assert _set_versions(root, ["fact", "dim"]) == v2


def test_commit_tables_cas_conflict(spark, tmp_path):
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        SnapshotConflictError,
        commit_tables,
        current_manifest_version,
    )

    root = str(tmp_path)
    commit_tables(
        {"fact": _dim(spark, "f1"), "dim": _dim(spark, "d1")}, root, "curated"
    )
    base = current_manifest_version(root, "curated")
    # writer A lands first from the same base
    commit_tables(
        {"fact": _dim(spark, "f2"), "dim": _dim(spark, "d2")},
        root, "curated", expected_base=base,
    )
    # writer B from the stale base must fail atomically
    with pytest.raises(SnapshotConflictError):
        commit_tables(
            {"fact": _dim(spark, "fB"), "dim": _dim(spark, "dB")},
            root, "curated", expected_base=base,
        )
    assert _read_set(spark, root) == {"fact": ["f2"], "dim": ["d2"]}


def test_single_table_commit_not_clobbered_by_recovery(spark, tmp_path):
    """A later single-table overwrite outside the manifest survives
    recover_manifest (roll-forward is forward-only)."""
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        recover_manifest,
    )

    root = str(tmp_path)
    commit_tables(
        {"fact": _dim(spark, "f1"), "dim": _dim(spark, "d1")}, root, "curated"
    )
    overwrite_snapshot(_dim(spark, "d-newer"), root, "curated", "dim")
    recover_manifest(root, "curated")
    live = spark.read.parquet(
        resolve_table_path(table_path(root, "curated", "dim"))
    )
    assert {r.v for r in live.select("v").distinct().collect()} == {"d-newer"}


def test_commit_tables_concurrent_writers_serialize(spark, tmp_path):
    """Two threads committing different table-set versions concurrently
    (no CAS): the flock serializes the manifest flips, both manifests
    are internally consistent, and the survivor is one writer's COMPLETE
    set — never a blend."""
    import threading

    from novi_pdq_etl_project_prod_spark.sources.layers import commit_tables

    root = str(tmp_path)
    commit_tables(
        {"fact": _dim(spark, "f0"), "dim": _dim(spark, "d0")}, root, "curated"
    )
    errors = []
    barrier = threading.Barrier(2)

    def writer(tag):
        try:
            barrier.wait(timeout=30)
            commit_tables(
                {"fact": _dim(spark, f"f{tag}"), "dim": _dim(spark, f"d{tag}")},
                root, "curated",
            )
        except Exception as exc:  # pragma: no cover - failure detail
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("A", "B")]
    for t in threads:
        t.start()
    for t in threads:
        # generous: under the 6-way sharded suite this box queues six
        # JVMs' jobs — a 120s join expired once with writer B still
        # mid-commit, and the assert then saw the INITIAL set (not a
        # blend, just an unfinished writer) and misreported
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads), "writer still running"
    assert not errors, errors
    final = _read_set(spark, root)
    assert final in (
        {"fact": ["fA"], "dim": ["dA"]},
        {"fact": ["fB"], "dim": ["dB"]},
    ), f"blended set observed: {final}"


def test_commit_tables_meta_rides_the_flip(spark, tmp_path):
    """Commit metadata (ADVICE r06: a streaming sink's last-applied batch
    id) is atomic with the table set, invisible to table readers, and the
    reserved key is rejected as a table name. Meta MERGES across commits
    (ADVICE r07): an unrelated commit without meta must not erase a
    streaming sink's applied-batch marker — that would silently re-open
    the double-count window — and two sinks' namespaced keys coexist.
    A ``None`` overlay deletes a key explicitly."""
    import pytest

    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        read_manifest,
        read_manifest_meta,
        read_manifest_tables,
    )

    root = str(tmp_path)
    assert read_manifest_meta(root, "curated") == {}
    commit_tables({"dim": _dim(spark, "d0")}, root, "curated",
                  meta={"last_batch_id:qA": 3})
    assert read_manifest_meta(root, "curated") == {"last_batch_id:qA": 3}
    # the meta slot is not a table: manifest and reader surfaces skip it
    assert set(read_manifest(root, "curated")) == {"dim"}
    assert set(read_manifest_tables(spark, root, "curated")) == {"dim"}
    # a metadata-free commit CARRIES the marker forward (ADVICE r07)
    commit_tables({"dim": _dim(spark, "d1")}, root, "curated")
    assert read_manifest_meta(root, "curated") == {"last_batch_id:qA": 3}
    # a second sink's key overlays without touching the first
    commit_tables({"dim": _dim(spark, "d2")}, root, "curated",
                  meta={"last_batch_id:qB": 7})
    assert read_manifest_meta(root, "curated") == {
        "last_batch_id:qA": 3,
        "last_batch_id:qB": 7,
    }
    # explicit None overlay deletes a key
    commit_tables({"dim": _dim(spark, "d3")}, root, "curated",
                  meta={"last_batch_id:qA": None})
    assert read_manifest_meta(root, "curated") == {"last_batch_id:qB": 7}
    with pytest.raises(ValueError, match="reserved"):
        commit_tables({"_meta": _dim(spark, "x")}, root, "curated")


# ---------------------------------------------------------------------------
# Time travel (round 8): snapshot history + as-of reads, single-table and
# set-consistent manifest level, bounded by the GC retention horizon.
# ---------------------------------------------------------------------------


def test_snapshot_history_and_as_of_read(spark, tmp_path):
    import pytest

    from novi_pdq_etl_project_prod_spark.sources import layers

    root = str(tmp_path)
    layers.overwrite_snapshot(_dim(spark, "v1"), root, "curated", "dim")
    v1 = layers.current_snapshot(layers.table_path(root, "curated", "dim"))
    layers.overwrite_snapshot(_dim(spark, "v2"), root, "curated", "dim")
    v2 = layers.current_snapshot(layers.table_path(root, "curated", "dim"))

    hist = layers.snapshot_history(root, "curated", "dim")
    assert [h["version"] for h in hist] == [v2, v1]
    assert hist[0]["is_live"] and not hist[1]["is_live"]

    old = layers.read_snapshot_as_of(spark, root, "curated", "dim", v1)
    assert {r.v for r in old.collect()} == {"v1"}
    new = layers.read_snapshot_as_of(spark, root, "curated", "dim", v2)
    assert {r.v for r in new.collect()} == {"v2"}
    with pytest.raises(layers.SnapshotNotFoundError, match="not retained"):
        layers.read_snapshot_as_of(spark, root, "curated", "dim", "_snap_v99999999")


def test_snapshot_history_respects_gc_horizon(spark, tmp_path, monkeypatch):
    """Versions past live + GC_RETAIN_PREVIOUS disappear from history and
    as-of reads raise — the documented MVCC horizon."""
    import pytest

    from novi_pdq_etl_project_prod_spark.sources import layers

    monkeypatch.setattr(layers, "GC_GRACE_SECONDS", 0.0)
    root = str(tmp_path)
    versions = []
    for tag in ("v1", "v2", "v3"):
        layers.overwrite_snapshot(_dim(spark, tag), root, "curated", "dim")
        versions.append(
            layers.current_snapshot(layers.table_path(root, "curated", "dim"))
        )
    hist = [h["version"] for h in layers.snapshot_history(root, "curated", "dim")]
    # live + 1 previous retained; v1 collected
    assert hist == [versions[2], versions[1]]
    with pytest.raises(layers.SnapshotNotFoundError):
        layers.read_snapshot_as_of(spark, root, "curated", "dim", versions[0])


def test_manifest_time_travel_is_set_consistent(spark, tmp_path):
    """As-of manifest reads return the EXACT multi-table set of that
    commit — fact and dim from the same flip, never mixed."""
    import pytest

    from novi_pdq_etl_project_prod_spark.sources import layers

    root = str(tmp_path)
    layers.commit_tables(
        {"fact": _dim(spark, "fA"), "dim": _dim(spark, "dA")}, root, "curated"
    )
    mv1 = layers.current_manifest_version(root, "curated")
    layers.commit_tables(
        {"fact": _dim(spark, "fB"), "dim": _dim(spark, "dB")}, root, "curated"
    )
    mv2 = layers.current_manifest_version(root, "curated")

    hist = layers.manifest_history(root, "curated")
    assert [h["version"] for h in hist] == [mv2, mv1]
    assert set(hist[0]["tables"]) == {"fact", "dim"}

    old = layers.read_manifest_tables_as_of(spark, root, "curated", mv1)
    assert {r.v for r in old["fact"].collect()} == {"fA"}
    assert {r.v for r in old["dim"].collect()} == {"dA"}
    new = layers.read_manifest_tables_as_of(spark, root, "curated", mv2)
    assert {r.v for r in new["fact"].collect()} == {"fB"}
    with pytest.raises(layers.SnapshotNotFoundError, match="not retained"):
        layers.read_manifest_tables_as_of(spark, root, "curated", "_snap_v999")


def test_commit_tables_carries_forward_other_sinks_tables(spark, tmp_path):
    """Round-8 table merge: a commit overlays its staged tables onto the
    live manifest instead of replacing the set, so co-located sinks keep
    each other's tables visible to manifest readers; drop_tables removes
    names explicitly."""
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        read_manifest,
        read_manifest_tables,
    )

    root = str(tmp_path)
    commit_tables({"fact_a": _dim(spark, "a1")}, root, "curated")
    commit_tables({"fact_b": _dim(spark, "b1")}, root, "curated")
    assert set(read_manifest(root, "curated")) == {"fact_a", "fact_b"}
    # updating one table leaves the other's version in place
    commit_tables({"fact_a": _dim(spark, "a2")}, root, "curated")
    tables = read_manifest_tables(spark, root, "curated")
    assert {r.v for r in tables["fact_a"].collect()} == {"a2"}
    assert {r.v for r in tables["fact_b"].collect()} == {"b1"}
    # explicit removal
    commit_tables({"fact_a": _dim(spark, "a3")}, root, "curated",
                  drop_tables=("fact_b",))
    assert set(read_manifest(root, "curated")) == {"fact_a"}


def test_concurrent_different_table_commits_both_survive(spark, tmp_path):
    """Round-8 lost-update closure: two writers committing DIFFERENT
    tables to one layer concurrently (no explicit CAS) must BOTH appear
    in the final manifest — the internal CAS retry re-merges on
    conflict instead of letting the second flip drop the first's
    tables."""
    import threading

    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        read_manifest,
    )

    root = str(tmp_path)
    errors = []
    barrier = threading.Barrier(2)

    def writer(tbl, tag):
        try:
            df = _dim(spark, tag)
            barrier.wait(timeout=30)
            commit_tables({tbl: df}, root, "curated",
                          meta={f"marker:{tbl}": tag})
        except Exception as exc:  # pragma: no cover - failure detail
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=("fact_a", "A")),
        threading.Thread(target=writer, args=("fact_b", "B")),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert set(read_manifest(root, "curated")) == {"fact_a", "fact_b"}
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        read_manifest_meta,
    )
    meta = read_manifest_meta(root, "curated")
    assert meta.get("marker:fact_a") == "A" and meta.get("marker:fact_b") == "B"


def test_commit_tables_cas_retry_is_bounded(spark, tmp_path, monkeypatch):
    """ADVICE r08: the internal manifest-CAS retry must not livelock
    under sustained contention — after _CAS_MAX_RETRIES it raises
    SnapshotConflictError loudly and cleans up its staged data."""
    from novi_pdq_etl_project_prod_spark.sources.layers import commit_tables

    root = str(tmp_path)
    df = spark.range(3).toDF("id")
    calls = {"n": 0}

    def always_conflict(writer, path, token):
        calls["n"] += 1
        raise layers.SnapshotConflictError("simulated contention")

    monkeypatch.setattr(layers, "_commit_snapshot_write", always_conflict)
    monkeypatch.setattr(layers, "_CAS_MAX_RETRIES", 5)
    monkeypatch.setattr(layers.time, "sleep", lambda s: None)
    with pytest.raises(layers.SnapshotConflictError, match="after 5 retries"):
        commit_tables({"t": df}, root, "curated")
    assert calls["n"] == 5
    # the staged snapshot dir was rolled back — nothing half-published
    tpath = layers.table_path(root, "curated", "t")
    leftover = [
        d for d in os.listdir(tpath)
        if os.path.isdir(os.path.join(tpath, d))
    ] if os.path.isdir(tpath) else []
    assert leftover == []


def test_manifest_time_travel_respects_gc_horizon(spark, tmp_path, monkeypatch):
    """VERDICT r08 item 6 — the manifest half of the GC contract: a
    reader holding a manifest version older than live + GC_RETAIN_
    PREVIOUS gets a descriptive SnapshotNotFoundError (never a
    missing-file crash), and a retained manifest whose referenced table
    snapshot disappeared (external cleanup) names the missing snapshot
    instead of failing inside the parquet scan."""
    import shutil

    from novi_pdq_etl_project_prod_spark.sources import layers

    monkeypatch.setattr(layers, "GC_GRACE_SECONDS", 0.0)
    root = str(tmp_path)
    manifest_versions = []
    for tag in ("v1", "v2", "v3"):
        layers.commit_tables({"dim": _dim(spark, tag)}, root, "curated")
        manifest_versions.append(layers.current_manifest_version(root, "curated"))

    hist = [h["version"] for h in layers.manifest_history(root, "curated")]
    assert manifest_versions[0] not in hist, "oldest manifest not GC'd"
    with pytest.raises(layers.SnapshotNotFoundError, match="not retained"):
        layers.read_manifest_tables_as_of(
            spark, root, "curated", manifest_versions[0]
        )

    # retained manifest, externally-deleted table snapshot: descriptive
    retained = layers.manifest_history(root, "curated")[-1]
    snap = retained["tables"]["dim"]
    shutil.rmtree(os.path.join(layers.table_path(root, "curated", "dim"), snap))
    with pytest.raises(layers.SnapshotNotFoundError, match="has been GC'd"):
        layers.read_manifest_tables_as_of(
            spark, root, "curated", retained["version"]
        )
