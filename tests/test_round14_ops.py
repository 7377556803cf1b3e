"""Round-14 contracts: the driver-certification ledger re-enters oracle
graduations (VERDICT r13 #1), the ANN staleness watermark kills rebuild
thrash (ADVICE r13 medium #1), the persisted rebuild obligation survives
a failed forced rebuild (ADVICE r13 medium #2, low #3), the
metadata-priced staleness audit (VERDICT r13 #2), density-scaled IVF
geometry (VERDICT r13 #3), and the composed ingest→retract→tick(ivf,
fold)→search certificate (VERDICT r13 #4)."""

from __future__ import annotations

import json
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# ledger: oracle graduations re-enter the driver window (VERDICT r13 #1)
# ---------------------------------------------------------------------------


def test_ledger_graduation_reenters_window(tmp_path):
    """A driver row of the documented ``no_oracle`` class certifies a
    query only WHILE the query has no oracle: once it graduates into
    ORACLES, the stale row no longer covers the new oracle surface and
    the query must read as UNcertified (re-entering the first-50
    window) until the driver hash-greens it."""
    from __spark_entry__ import _derive_driver_certified
    from novi_pdq_etl_project_prod_spark.catalog import ORACLES

    grad = "m35_kmeans_clusters"  # the round-13 graduation
    assert grad in ORACLES
    (tmp_path / "CORRECTNESS_r04.json").write_text(json.dumps({
        grad: {"hash_match": None, "rows_match": None, "err": "no_oracle"},
        "m37_ivf_related_pairs": {
            "hash_match": None, "rows_match": None, "err": "no_oracle",
        },
        "plain_green": {"hash_match": True, "rows_match": True, "err": None},
    }))
    certified = _derive_driver_certified(tmp_path)
    # still-no-oracle query: the no_oracle row keeps certifying
    assert "m37_ivf_related_pairs" in certified
    assert "plain_green" in certified
    # graduated query: stale no_oracle row no longer certifies
    assert grad not in certified
    # ...until a LATER driver round hash-greens it (latest-wins)
    (tmp_path / "CORRECTNESS_r14.json").write_text(json.dumps({
        grad: {"hash_match": True, "rows_match": True, "err": None},
    }))
    assert grad in _derive_driver_certified(tmp_path)


def test_m35_window_reentry_delivered():
    """The concrete round-14 deliverable: m35's graduated oracle re-enters
    the first-50 sampling window UNTIL a driver hash row lands, then
    graduates out (latest-wins ledger). Before CORRECTNESS_r14 existed
    this asserted window membership; the driver then recorded m35
    hash-green (CORRECTNESS_r14.json), so the delivered state is either
    a certified ledger row or continued window residence — asserting
    bare membership after certification would pin the transient."""
    import json
    import pathlib

    import __spark_entry__ as entry

    name = "m35_kmeans_clusters"
    assert name in entry.oracle_sql()  # the graduation itself
    if name in entry._derive_driver_certified():
        # graduated out of the window because a driver round hash-greened
        # the new oracle surface — verify that row really exists
        repo = pathlib.Path(__file__).resolve().parents[1]
        green = False
        for f in sorted(repo.glob("CORRECTNESS_r*.json")):
            row = json.loads(f.read_text()).get(name)
            if row is not None:
                green = bool(row.get("hash_match"))
        assert green, "certified without a hash-green driver row"
    else:
        assert name in list(entry.queries())[:50]


# ---------------------------------------------------------------------------
# ANN watermark: no rebuild thrash over uncompacted tombstones
# (ADVICE r13 medium #1)
# ---------------------------------------------------------------------------


def _vectors(spark, ids, dim=8, drift=0.0):
    rng = np.random.default_rng(7)
    rows = []
    for i in ids:
        v = rng.standard_normal(dim) + drift
        rows.append((int(i), [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_watermark_stops_rebuild_thrash(spark, tmp_path):
    """The ADVICE r13 scenario: rebuild fires on a retraction, tombstones
    stay uncompacted — the OLD absolute-count churn then read 2·n_tomb
    forever and re-fired a full corpus rebuild every tick. With the
    build watermark, the tick right after a rebuild is a recorded no-op
    at staleness 0 even though tombstones are still live."""
    from novi_pdq_etl_project_prod_spark.plans.maintenance import (
        run_maintenance_tick,
    )
    from novi_pdq_etl_project_prod_spark.plans.retract import retract_docs
    from novi_pdq_etl_project_prod_spark.sources.layers import commit_tables

    root = str(tmp_path / "wh")
    commit_tables(
        {"embeddings": _vectors(spark, range(200))}, root, "curated",
        append_tables=("embeddings",),
    )
    cfg = {"source_table": "embeddings", "index_table": "ann",
           "n_lists": 4, "staleness_threshold": 0.1}
    t1 = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    assert t1["ann_rebuild"]["fired"] is True  # first build

    # retract 15% -> past threshold -> rebuild (tombstones NOT compacted)
    drop = spark.createDataFrame(
        [(int(i), "x") for i in range(30)], "vec_id long, text string"
    )
    retract_docs(drop, root, "curated", "r14-thrash", id_col="vec_id")
    t2 = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    assert t2["ann_rebuild"]["fired"] is True
    assert t2["ann_rebuild"]["n_live"] == 170

    # tombstones still live; index already excludes them. The next tick
    # must be a no-op — this is exactly where the old formula thrashed.
    t3 = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    assert t3["ann_rebuild"]["fired"] is False
    assert t3["ann_rebuild"]["staleness"] == 0.0
    t4 = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    assert t4["ann_rebuild"]["fired"] is False


# ---------------------------------------------------------------------------
# rebuild obligation: persisted, retried, cleared (ADVICE r13 medium #2 +
# low #3)
# ---------------------------------------------------------------------------


def test_compact_retractions_records_rebuild_obligation(spark, tmp_path):
    """compact_retractions itself records the rebuild obligation in the
    SAME atomic commit that drops the tombstones — so a direct
    invocation (outside the tick) can never silently re-open the
    reader-guard hole: whenever tombstones vanish, a later rebuild lane
    sees the owed flag and force-fires regardless of staleness."""
    from novi_pdq_etl_project_prod_spark.plans.maintenance import (
        run_maintenance_tick,
    )
    from novi_pdq_etl_project_prod_spark.plans.retract import (
        compact_retractions,
        retract_docs,
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        read_manifest_meta,
    )

    root = str(tmp_path / "wh")
    commit_tables(
        {"embeddings": _vectors(spark, range(100))}, root, "curated",
        append_tables=("embeddings",),
    )
    cfg = {"source_table": "embeddings", "index_table": "ann",
           "n_lists": 4, "staleness_threshold": 0.5}
    run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)

    # a BELOW-threshold retraction, compacted DIRECTLY (not via the tick)
    retract_docs(
        spark.createDataFrame([(3, "x"), (4, "x")],
                              "vec_id long, text string"),
        root, "curated", "r14-direct", id_col="vec_id",
    )
    compact_retractions(spark, root, "curated", {"embeddings": "vec_id"})
    assert "ann_rebuild_owed" in read_manifest_meta(root, "curated")

    # staleness 2/100 is far below 0.5 — only the obligation fires it
    tick = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    assert tick["ann_rebuild"]["fired"] is True
    assert tick["ann_rebuild"]["forced"] is True
    # the obligation record stays (layer-wide, never cleared) but THIS
    # index stamped it serviced — the next tick is a recorded no-op
    meta = read_manifest_meta(root, "curated")
    assert meta["ann_watermark:ann"]["serviced_obligation"] == meta[
        "ann_rebuild_owed"]
    tick2 = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    assert tick2["ann_rebuild"]["fired"] is False
    # dropped vectors are physically out of the rebuilt index
    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        ivf_index_topk,
    )

    emb = _vectors(spark, range(100))
    got = ivf_index_topk(
        spark, root, emb.where(F.col("vec_id") == 10), table="ann",
        k=90, nprobe=4,
    ).collect()
    assert got and all(r.neighbor_id not in (3, 4) for r in got)


def test_obligation_serviced_per_index_on_multi_index_layer(
    spark, tmp_path
):
    """Round-14 second review #1: the obligation is layer-wide but
    serviced PER INDEX (each stamps it into its own watermark) — on a
    layer with two persisted indexes, the first index's rebuild must
    not strand the second one serving retracted vectors."""
    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        ivf_index_topk,
        maybe_rebuild_ivf,
    )
    from novi_pdq_etl_project_prod_spark.plans.retract import (
        compact_retractions,
        retract_docs,
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import commit_tables

    root = str(tmp_path / "wh")
    emb = _vectors(spark, range(100))
    commit_tables(
        {"embeddings": emb}, root, "curated",
        append_tables=("embeddings",),
    )
    common = {"source_table": "embeddings", "n_lists": 4,
              "staleness_threshold": 0.5}
    for t in ("ann_a", "ann_b"):
        r = maybe_rebuild_ivf(
            spark, root, "curated", index_table=t, **common
        )
        assert r["fired"] is True  # never built

    # below-threshold retraction, compacted directly: one obligation
    retract_docs(
        spark.createDataFrame([(11, "x"), (12, "x")],
                              "vec_id long, text string"),
        root, "curated", "r14-multi", id_col="vec_id",
    )
    compact_retractions(spark, root, "curated", {"embeddings": "vec_id"})

    ra = maybe_rebuild_ivf(spark, root, "curated", index_table="ann_a",
                           **common)
    assert ra["fired"] is True and ra["owed"] is True
    # ann_a's rebuild must NOT have serviced ann_b's obligation
    rb = maybe_rebuild_ivf(spark, root, "curated", index_table="ann_b",
                           **common)
    assert rb["fired"] is True and rb["owed"] is True
    for t in ("ann_a", "ann_b"):
        got = ivf_index_topk(
            spark, root, emb.where(F.col("vec_id") == 50), table=t,
            k=90, nprobe=4,
        ).collect()
        assert got and all(r_.neighbor_id not in (11, 12) for r_ in got)
        # and both are now serviced: repeat calls are no-ops
        again = maybe_rebuild_ivf(
            spark, root, "curated", index_table=t, **common
        )
        assert again["fired"] is False


def test_failed_forced_rebuild_is_retried_next_tick(
    spark, tmp_path, monkeypatch
):
    """ADVICE r13 medium #2: compaction day physically clears the
    tombstones; if the force-coupled rebuild then FAILS (lane isolation
    swallows it), the stale index would serve retracted vectors with
    nothing left to retry. The persisted obligation closes it: the owed
    flag is only cleared by a SUCCESSFUL rebuild, so the next tick
    force-fires again."""
    from novi_pdq_etl_project_prod_spark.operators import similarity
    from novi_pdq_etl_project_prod_spark.plans.maintenance import (
        run_maintenance_tick,
    )
    from novi_pdq_etl_project_prod_spark.plans.retract import retract_docs
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        read_manifest_meta,
    )

    root = str(tmp_path / "wh")
    commit_tables(
        {"embeddings": _vectors(spark, range(100))}, root, "curated",
        append_tables=("embeddings",),
    )
    cfg = {"source_table": "embeddings", "index_table": "ann",
           "n_lists": 4, "staleness_threshold": 0.5}
    run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)

    retract_docs(
        spark.createDataFrame([(5, "x")], "vec_id long, text string"),
        root, "curated", "r14-fail", id_col="vec_id",
    )
    real_build = similarity.build_ivf_index

    def _boom(*a, **kw):
        raise RuntimeError("injected build failure")

    monkeypatch.setattr(similarity, "build_ivf_index", _boom)
    tick = run_maintenance_tick(
        spark, root, "curated",
        retraction_id_cols={"embeddings": "vec_id"},
        ivf_rebuild=cfg,
    )
    assert tick["retractions"]["applied"] is True  # tombstones GONE
    assert "error" in tick["ann_rebuild"]  # lane isolated the failure
    # the obligation survived the failure (no serviced stamp written)
    assert "ann_rebuild_owed" in read_manifest_meta(root, "curated")

    monkeypatch.setattr(similarity, "build_ivf_index", real_build)
    tick2 = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    assert tick2["ann_rebuild"]["fired"] is True
    assert tick2["ann_rebuild"]["forced"] is True
    # serviced: a further tick is a recorded no-op
    tick3 = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    assert tick3["ann_rebuild"]["fired"] is False
    # and the retried rebuild physically dropped the vector
    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        ivf_index_topk,
    )

    emb = _vectors(spark, range(100))
    got = ivf_index_topk(
        spark, root, emb.where(F.col("vec_id") == 10), table="ann",
        k=90, nprobe=4,
    ).collect()
    assert got and all(r.neighbor_id != 5 for r in got)


def test_obligation_superseded_mid_build_is_kept(
    spark, tmp_path, monkeypatch
):
    """Round-14 self-review #1: an obligation recorded by a compaction
    that lands WHILE the rebuild is running covers retractions the
    just-built index never saw — the post-build meta commit must keep
    it (so the next tick force-rebuilds over the post-compaction
    corpus), not clear it blindly."""
    from novi_pdq_etl_project_prod_spark.operators import similarity
    from novi_pdq_etl_project_prod_spark.plans.maintenance import (
        run_maintenance_tick,
    )
    from novi_pdq_etl_project_prod_spark.plans.retract import (
        compact_retractions,
        retract_docs,
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        read_manifest_meta,
    )

    root = str(tmp_path / "wh")
    commit_tables(
        {"embeddings": _vectors(spark, range(100))}, root, "curated",
        append_tables=("embeddings",),
    )
    cfg = {"source_table": "embeddings", "index_table": "ann",
           "n_lists": 4, "staleness_threshold": 0.05}
    run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)

    real_build = similarity.build_ivf_index

    def _racing_build(*a, **kw):
        # a retraction + direct compaction lands mid-build: the new
        # obligation must survive this build's meta commit
        retract_docs(
            spark.createDataFrame([(7, "x")], "vec_id long, text string"),
            root, "curated", "r14-race", id_col="vec_id",
        )
        compact_retractions(
            spark, root, "curated", {"embeddings": "vec_id"}
        )
        return real_build(*a, **kw)

    monkeypatch.setattr(similarity, "build_ivf_index", _racing_build)
    # drive an append past the threshold so the lane fires
    commit_tables(
        {"embeddings": _vectors(spark, range(100, 120))}, root, "curated",
        append_tables=("embeddings",),
    )
    tick = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    monkeypatch.setattr(similarity, "build_ivf_index", real_build)
    assert tick["ann_rebuild"]["fired"] is True
    # the watermark stamped the AUDIT-time obligation (None here), so
    # the mid-build record reads as unserviced ...
    meta = read_manifest_meta(root, "curated")
    assert meta["ann_watermark:ann"]["serviced_obligation"] != meta[
        "ann_rebuild_owed"]
    # ... and the next tick services it over the post-compaction corpus
    tick2 = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    assert tick2["ann_rebuild"]["fired"] is True
    assert tick2["ann_rebuild"]["forced"] is True
    tick3 = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    assert tick3["ann_rebuild"]["fired"] is False
    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        ivf_index_topk,
    )

    got = ivf_index_topk(
        spark, root, _vectors(spark, range(100)).where(
            F.col("vec_id") == 10),
        table="ann", k=100, nprobe=4,
    ).collect()
    assert got and all(r.neighbor_id != 7 for r in got)


def test_fully_retracted_corpus_publishes_empty_index(spark, tmp_path):
    """Round-14 self-review #2: retract EVERY doc and compact — the
    tombstones the reader guard needs are gone, so 'retain the index'
    would serve only retracted vectors forever. The lane publishes an
    EMPTY index instead: searches correctly return no rows."""
    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        ivf_index_topk,
    )
    from novi_pdq_etl_project_prod_spark.plans.maintenance import (
        run_maintenance_tick,
    )
    from novi_pdq_etl_project_prod_spark.plans.retract import retract_docs
    from novi_pdq_etl_project_prod_spark.sources.layers import commit_tables

    root = str(tmp_path / "wh")
    emb = _vectors(spark, range(30))
    commit_tables(
        {"embeddings": emb}, root, "curated",
        append_tables=("embeddings",),
    )
    cfg = {"source_table": "embeddings", "index_table": "ann",
           "n_lists": 4, "staleness_threshold": 0.1}
    run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)

    retract_docs(
        emb.select("vec_id", F.lit("x").alias("text")),
        root, "curated", "r14-all", id_col="vec_id",
    )
    tick = run_maintenance_tick(
        spark, root, "curated",
        retraction_id_cols={"embeddings": "vec_id"},
        ivf_rebuild=cfg,
    )
    assert tick["retractions"]["applied"] is True
    assert tick["ann_rebuild"]["fired"] is True
    assert "EMPTY index" in tick["ann_rebuild"]["reason"]
    got = ivf_index_topk(
        spark, root, emb.where(F.col("vec_id") < 3), table="ann",
        k=5, nprobe=4,
    ).collect()
    assert got == []  # no retracted vector is ever served
    # the empty publish stamped the obligation serviced: a tick with no
    # new data is a recorded no-op, not a re-forcing loop
    tick_idle = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    assert tick_idle["ann_rebuild"]["fired"] is False
    # a later append resurrects a real index via normal staleness
    commit_tables(
        {"embeddings": _vectors(spark, range(100, 110))}, root, "curated",
        append_tables=("embeddings",),
    )
    tick2 = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    assert tick2["ann_rebuild"]["fired"] is True
    got2 = ivf_index_topk(
        spark, root, emb.where(F.col("vec_id") < 3), table="ann",
        k=5, nprobe=4,
    ).collect()
    assert got2 and all(r.neighbor_id >= 100 for r in got2)


# ---------------------------------------------------------------------------
# metadata-priced staleness audit (VERDICT r13 #2)
# ---------------------------------------------------------------------------


def test_rowcount_meta_prices_the_audit(spark, tmp_path):
    """Per-table row counts maintained in manifest meta at commit time
    (appends add via ``rowcount_deltas``, compaction reconciles
    absolutely) make the tick's staleness audit O(manifest): the no-op
    decision reads counts from meta (``count_source == "manifest"``)
    instead of scanning the corpus id column, across an
    append→retract→compact sequence."""
    from novi_pdq_etl_project_prod_spark.plans.maintenance import (
        run_maintenance_tick,
    )
    from novi_pdq_etl_project_prod_spark.plans.retract import retract_docs
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        read_manifest_meta,
    )

    root = str(tmp_path / "wh")
    commit_tables(
        {"embeddings": _vectors(spark, range(100))}, root, "curated",
        append_tables=("embeddings",),
        rowcount_deltas={"embeddings": 100},
    )
    rc = read_manifest_meta(root, "curated")["rowcount:embeddings"]
    assert rc["rows"] == 100
    cfg = {"source_table": "embeddings", "index_table": "ann",
           "n_lists": 4, "staleness_threshold": 0.2}
    t1 = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    assert t1["ann_rebuild"]["fired"] is True

    # append below threshold: the no-op audit is manifest-priced
    commit_tables(
        {"embeddings": _vectors(spark, range(100, 110))}, root, "curated",
        append_tables=("embeddings",),
        rowcount_deltas={"embeddings": 10},
    )
    assert read_manifest_meta(root, "curated")["rowcount:embeddings"][
        "rows"] == 110
    t2 = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    assert t2["ann_rebuild"]["fired"] is False
    assert t2["ann_rebuild"]["count_source"] == "manifest"
    assert t2["ann_rebuild"]["n_live"] == 110

    # retraction: live = rowcount - tombstones, still manifest-priced
    retract_docs(
        spark.createDataFrame([(0, "x"), (1, "x")],
                              "vec_id long, text string"),
        root, "curated", "r14-rc", id_col="vec_id",
    )
    t3 = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    assert t3["ann_rebuild"]["fired"] is False
    assert t3["ann_rebuild"]["count_source"] == "manifest"
    assert t3["ann_rebuild"]["n_live"] == 108

    # compaction reconciles the physical count absolutely
    t4 = run_maintenance_tick(
        spark, root, "curated",
        retraction_id_cols={"embeddings": "vec_id"},
        ivf_rebuild=cfg,
    )
    assert t4["retractions"]["applied"] is True
    assert read_manifest_meta(root, "curated")["rowcount:embeddings"][
        "rows"] == 108
    t5 = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    assert t5["ann_rebuild"]["fired"] is False
    assert t5["ann_rebuild"]["count_source"] == "manifest"


def test_rowcount_meta_invalidated_by_uncooperating_rewrite(spark, tmp_path):
    """The rowcount meta is self-validating: it records the manifest
    entry it was computed against, so a whole-snapshot rewrite that
    does NOT maintain the count (any pre-round-14 writer) invalidates
    it and the audit falls back to the exact scan instead of trusting
    a stale number."""
    from novi_pdq_etl_project_prod_spark.plans.maintenance import (
        run_maintenance_tick,
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        read_manifest_meta,
    )

    root = str(tmp_path / "wh")
    commit_tables(
        {"embeddings": _vectors(spark, range(50))}, root, "curated",
        append_tables=("embeddings",),
        rowcount_deltas={"embeddings": 50},
    )
    cfg = {"source_table": "embeddings", "index_table": "ann",
           "n_lists": 4, "staleness_threshold": 0.2}
    run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)

    # non-cooperating whole-table rewrite: count unmaintained
    commit_tables(
        {"embeddings": _vectors(spark, range(48))}, root, "curated",
    )
    rc = read_manifest_meta(root, "curated")["rowcount:embeddings"]
    tick = run_maintenance_tick(spark, root, "curated", ivf_rebuild=cfg)
    assert tick["ann_rebuild"]["count_source"] == "scan"
    assert tick["ann_rebuild"]["n_live"] == 48
    assert rc["rows"] == 50  # the stale record was not trusted


def test_rowcount_survives_segment_compaction(spark, tmp_path):
    """Round-14 self-review #3: segment compaction is row-preserving,
    so it re-stamps a valid maintained count against the new manifest
    entry instead of silently invalidating it (which would degrade the
    audit back to corpus scans forever in exactly the streaming
    deployment the counts were built for)."""
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        compact_segments,
        read_manifest_meta,
        segment_count,
    )

    root = str(tmp_path / "wh")
    for lo in (0, 40, 80):
        commit_tables(
            {"embeddings": _vectors(spark, range(lo, lo + 40))},
            root, "curated", append_tables=("embeddings",),
            rowcount_deltas={"embeddings": 40},
        )
    assert segment_count(root, "curated", "embeddings") == 3
    assert compact_segments(spark, root, "curated", "embeddings") is True
    rc = read_manifest_meta(root, "curated")["rowcount:embeddings"]
    assert rc["rows"] == 120  # carried forward, still valid
    # and later counted appends keep composing
    commit_tables(
        {"embeddings": _vectors(spark, range(120, 130))},
        root, "curated", append_tables=("embeddings",),
        rowcount_deltas={"embeddings": 10},
    )
    assert read_manifest_meta(root, "curated")["rowcount:embeddings"][
        "rows"] == 130


def test_rowcount_delta_rejected_for_rewrites(spark, tmp_path):
    """Round-14 self-review #4: prior + delta is fiction for a
    whole-snapshot rewrite, and it would stamp a trusted-but-wrong
    count — rewrites must use rowcount_absolute."""
    from novi_pdq_etl_project_prod_spark.sources.layers import commit_tables

    root = str(tmp_path / "wh")
    with pytest.raises(ValueError, match="rowcount_absolute"):
        commit_tables(
            {"t": _vectors(spark, range(5))}, root, "curated",
            rowcount_deltas={"t": 5},
        )


def test_rowcount_delta_on_missing_base_starts_fresh(spark, tmp_path):
    """First append-commit of a NEW table seeds the count at the delta;
    a delta against an existing table with no prior count records
    unknown (rows=None) rather than inventing a number."""
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        read_manifest_meta,
    )

    root = str(tmp_path / "wh")
    # table pre-exists WITHOUT a count
    commit_tables({"t": _vectors(spark, range(5))}, root, "curated",
                  append_tables=("t",))
    commit_tables({"t": _vectors(spark, range(5, 8))}, root, "curated",
                  append_tables=("t",), rowcount_deltas={"t": 3})
    assert read_manifest_meta(root, "curated")["rowcount:t"]["rows"] is None
    # fresh table: first counted commit seeds it
    commit_tables({"u": _vectors(spark, range(4))}, root, "curated",
                  append_tables=("u",), rowcount_deltas={"u": 4})
    assert read_manifest_meta(root, "curated")["rowcount:u"]["rows"] == 4
    # subsequent counted appends accumulate
    commit_tables({"u": _vectors(spark, range(4, 6))}, root, "curated",
                  append_tables=("u",), rowcount_deltas={"u": 2})
    assert read_manifest_meta(root, "curated")["rowcount:u"]["rows"] == 6


# ---------------------------------------------------------------------------
# density-scaled IVF geometry (VERDICT r13 #3)
# ---------------------------------------------------------------------------


def test_build_ivf_index_density_scaled_default(spark, tmp_path):
    """The DEFAULT geometry sizes the index to ~sqrt(N) (floored at the
    fixture's 16, capped at 4096) instead of freezing fixture geometry
    at every density; the searched index stays correct."""
    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_topk,
    )

    emb = _vectors(spark, range(1200))
    root = str(tmp_path / "wh")
    report = build_ivf_index(emb, root, table="auto")
    assert report["n_lists"] == 35  # round(sqrt(1200)) = 35
    got = ivf_index_topk(
        spark, root, emb.where(F.col("vec_id") < 2), table="auto",
        k=5, nprobe=4,
    ).collect()
    assert len(got) == 10
    # tiny corpora keep the fixture floor
    report2 = build_ivf_index(
        _vectors(spark, range(60)), root, table="auto2"
    )
    assert report2["n_lists"] == 16


def test_default_geometry_recall_pin(spark, tmp_path):
    """Recall-at-geometry pin (VERDICT r13 #3): the recommended pairing —
    density-scaled n_lists (~sqrt(N)) with nprobe = max(4, n_lists//8)
    — must keep dense recall@10 ≥ 0.45 mean / 0.2 min against brute
    force on the real sf0.01 embeddings (measured 0.50 mean at this
    scale — small-corpus IVF recall is the floor case: 2k near-uniform
    vectors give centroids little cluster structure to exploit; recall
    RISES with density). The at-density legs carrying the real claim
    (200k: 0.69–0.72 mean at 12.5% probed vs the frozen geometry's
    0.61 at 25%; 2M in the lifecycle probe) live in
    tools/ivf_geometry_probe_r14.json / ann_lifecycle_probe_r14.json."""
    from collections import defaultdict

    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_index_topk,
    )
    from novi_pdq_etl_project_prod_spark.session import read_table

    emb = read_table(spark, SF, "embeddings")
    root = str(tmp_path / "wh")
    report = build_ivf_index(emb, root, table="pin")
    nprobe = max(4, report["n_lists"] // 8)
    probes = emb.where(F.col("vec_id") < 10)

    def _sets(rows):
        out = defaultdict(set)
        for r in rows:
            out[r.query_id].add(r.neighbor_id)
        return out

    gt = _sets(brute_force_topk(emb, probes, k=10).collect())
    got = _sets(ivf_index_topk(
        spark, root, probes, table="pin", k=10, nprobe=nprobe
    ).collect())
    recalls = [len(gt[q] & got[q]) / max(len(gt[q]), 1) for q in gt]
    assert sum(recalls) / len(recalls) >= 0.45, recalls
    assert min(recalls) >= 0.2, recalls


# ---------------------------------------------------------------------------
# composed funnel certificate: ingest -> retract -> tick(ivf_rebuild +
# fold_markers) -> search (VERDICT r13 #4)
# ---------------------------------------------------------------------------


def test_funnel_composed_with_ann_and_fold_lanes(spark, tmp_path):
    """The m70/m76 composition pattern extended to the round-13 tick
    lanes: a streaming ingest whose cadence tick runs the retraction
    rewrite, the marker fold AND the ANN index rebuild — after the
    final batch the persisted-index search is row-identical to the
    in-query IVF route over the surviving corpus, the markers are
    folded, and the obligation ledger is clean."""
    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        ivf_index_topk,
        ivf_topk,
    )
    from novi_pdq_etl_project_prod_spark.plans.ingest import (
        run_incremental_ingest,
    )
    from novi_pdq_etl_project_prod_spark.plans.retract import retract_docs
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        read_manifest_meta,
        read_manifest_table,
    )

    rules = {"text": "text IS NOT NULL AND length(text) > 3"}
    root = str(tmp_path / "wh")
    chk = str(tmp_path / "chk")
    updates = str(tmp_path / "updates")

    # doc-keyed embeddings live in the SAME layer the funnel commits to;
    # the tick's ANN lane indexes them on the ingest cadence
    commit_tables(
        {"embeddings": _vectors(spark, range(1, 13)).withColumnRenamed(
            "vec_id", "doc_id")},
        root, "curated", append_tables=("embeddings",),
        rowcount_deltas={"embeddings": 12},
    )
    mk = {
        "retraction_id_cols": {
            "corpus": "doc_id",
            "content_hashes": "canonical_id",
            "minhash_signatures": "id",
            "embeddings": "doc_id",
        },
        "fold_markers_min": 1,
        "ivf_rebuild": {
            "source_table": "embeddings", "index_table": "ann",
            "id_col": "doc_id", "n_lists": 3,
            "staleness_threshold": 0.05,
        },
    }

    def _drive():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(updates)
        )
        run_incremental_ingest(
            stream, root, "curated", chk, rules,
            maintenance_every=1, maintenance_kwargs=mk,
        )

    batch1 = [(i, f"document number {i} about topic {i % 3}")
              for i in range(1, 9)]
    spark.createDataFrame(batch1, "doc_id long, text string").coalesce(
        1).write.mode("append").parquet(updates)
    _drive()

    # curation decides docs 2 and 5 must go (and their vectors with them)
    retract_docs(
        spark.createDataFrame(
            [(2, batch1[1][1]), (5, batch1[4][1])],
            "doc_id long, text string",
        ),
        root, "curated", "r14-funnel",
    )
    time.sleep(1.1)
    batch2 = [(i, f"fresh arrival {i} with more text") for i in range(9, 13)]
    spark.createDataFrame(batch2, "doc_id long, text string").coalesce(
        1).write.mode("append").parquet(updates)
    _drive()  # batch-2 tick: compaction + marker fold + forced rebuild

    corpus = read_manifest_table(spark, root, "curated", "corpus")
    ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert ids == set(range(1, 13)) - {2, 5}
    meta = read_manifest_meta(root, "curated")
    assert not any(k.startswith("retraction:") for k in meta)  # folded
    # the forced rebuild stamped the compaction's obligation serviced
    assert meta["ann_watermark:ann"]["serviced_obligation"] == meta[
        "ann_rebuild_owed"]
    assert read_manifest_table(  # tombstones compacted away
        spark, root, "curated", "retracted_ids") is None

    # two paths, one answer: the post-tick persisted index (no tombstone
    # filter left to pass) vs the in-query IVF over the survivors
    live = read_manifest_table(spark, root, "curated", "embeddings")
    probes = live.where(F.col("doc_id").isin(1, 9))
    got = sorted(map(tuple, ivf_index_topk(
        spark, root, probes, table="ann", id_col="doc_id",
        k=4, nprobe=2,
    ).collect()))
    want = sorted(map(tuple, ivf_topk(
        live, probes, id_col="doc_id", k=4, n_lists=3, nprobe=2,
    ).collect()))
    assert got == want and len(got) == 8
    assert all(t[1] not in (2, 5) for t in got)
