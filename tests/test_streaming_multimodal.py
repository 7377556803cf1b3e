"""Streaming (windowed agg, sessionization) and multimodal plumbing tests.

Streaming correctness strategy: run the same logical query in streaming
mode (availableNow over a file source) and batch mode; results must
match — the metamorphic oracle for the streaming engine.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.operators.multimodal import (
    attach_binary_metadata,
    decode_and_featurize,
    frame_sample_plan,
    synthetic_media,
)
from novi_pdq_etl_project_prod_spark.session import read_events
from novi_pdq_etl_project_prod_spark.streaming.events import (
    read_event_stream,
    run_to_memory_sink,
    windowed_event_counts,
)
from novi_pdq_etl_project_prod_spark.streaming.sessions import (
    sessionize_batch,
    sessionize_stream,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(spark):
    """Re-materialize the events fixture as micro-second-timestamp parquet
    (streaming file source can't read the nanos original)."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    read_events(spark, SF_SMOKE).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_windowed_counts_match_batch(spark, events_dir):
    stream = read_event_stream(spark, events_dir)
    assert stream.isStreaming
    run_to_memory_sink(
        windowed_event_counts(stream), "win_counts", output_mode="complete"
    )
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("win_counts").collect()
    }
    batch = windowed_event_counts(spark.read.parquet(events_dir))
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_streaming_sessionization_matches_batch(spark, events_dir):
    events = spark.read.parquet(events_dir)
    batch = sessionize_batch(events, gap_minutes=30)
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in batch.collect()
    }
    assert want, "fixture should produce sessions"

    stream = read_event_stream(spark, events_dir)
    run_to_memory_sink(
        sessionize_stream(stream, watermark="0 seconds"),
        "sessions_out",
        output_mode="append",
    )
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("sessions_out").collect()
    }
    # the final (unclosed) session per user stays in state when input ends;
    # everything emitted must be a true session and most sessions emit
    assert got <= want
    assert len(got) >= len(want) * 0.5, (len(got), len(want))


def test_multimodal_metadata_and_decode(spark):
    media = synthetic_media(spark, n=64)
    meta = attach_binary_metadata(media, "payload")
    rows = meta.select("media_id", "n_bytes", "sha256").collect()
    assert all(r.n_bytes > 0 and len(r.sha256) == 64 for r in rows)

    feats = decode_and_featurize(media).collect()
    assert len(feats) == 64
    for r in feats:
        assert r.modality == "image"
        assert 64 <= r.width < 256 and 64 <= r.height < 256
        assert len(r.feature) == 16
    # determinism across partitionings
    feats2 = decode_and_featurize(media.repartition(7)).collect()
    assert {(r.media_id, r.sha256, r.width) for r in feats} == {
        (r.media_id, r.sha256, r.width) for r in feats2
    }


def test_multimodal_unknown_modality_yields_nulls(spark):
    media = synthetic_media(spark, n=8, modality="audio")
    feats = decode_and_featurize(media).collect()
    assert len(feats) == 8
    assert all(r.width is None and r.feature is None for r in feats)
    assert all(r.sha256 for r in feats)  # metadata still computed


def test_frame_sample_plan(spark):
    df = spark.range(3).select(
        F.col("id").alias("media_id"), (F.col("id") * 45 + 40).cast("int").alias("n_frames")
    )
    plan = frame_sample_plan(df, every_nth=30).collect()
    got = {(r.media_id, r.frame_index) for r in plan}
    assert got == {(0, 0), (0, 30), (1, 0), (1, 30), (1, 60), (2, 0), (2, 30), (2, 60), (2, 90), (2, 120)}


def test_train_test_split_is_content_addressed(spark):
    from novi_pdq_etl_project_prod_spark.operators.multimodal import (
        train_test_split,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = {r.doc_id: r.split for r in train_test_split(docs, "doc_id").collect()}
    # stable across partitionings (content-addressed, not row-order)
    b = {
        r.doc_id: r.split
        for r in train_test_split(docs.repartition(13), "doc_id").collect()
    }
    assert a == b
    frac = sum(1 for v in a.values() if v == "test") / len(a)
    assert 0.04 < frac < 0.2  # ~10% with binomial noise at n=500
    # different seed -> different assignment
    c = {r.doc_id: r.split for r in train_test_split(docs, "doc_id", seed=7).collect()}
    assert a != c


def test_stratified_sample_respects_fractions(spark):
    from novi_pdq_etl_project_prod_spark.operators.multimodal import (
        stratified_sample,
    )

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    out = stratified_sample(
        emb, "label", fractions={i: (0.5 if i < 5 else 0.1) for i in range(10)}
    )
    counts = {r.label: r.n for r in out.groupBy("label").agg(F.count("*").alias("n")).collect()}
    totals = {r.label: r.n for r in emb.groupBy("label").agg(F.count("*").alias("n")).collect()}
    for lbl in range(10):
        frac = counts.get(lbl, 0) / totals[lbl]
        want = 0.5 if lbl < 5 else 0.1
        assert abs(frac - want) < 0.15, (lbl, frac, want)


def test_stream_to_medallion_matches_batch(spark, events_dir, tmp_path):
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        read_event_stream,
        stream_to_medallion,
    )

    root = str(tmp_path / "wh")
    chk = str(tmp_path / "chk")
    stream_to_medallion(
        read_event_stream(spark, events_dir), root, "event_monthly", chk
    )
    got = spark.read.parquet(f"{root}/staging/event_monthly")
    ev = spark.read.parquet(events_dir)
    want = (
        ev.groupBy(
            (F.year("ts") * 100 + F.month("ts")).alias("yyyymm"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    g = {(r.yyyymm, r.user_id): (r.n_events, r.sum_value) for r in got.collect()}
    w = {(r.yyyymm, r.user_id): (r.n_events, r.sum_value) for r in want.collect()}
    assert g == w and len(w) > 0
    # month directory layout (partition pruning works on the streamed table)
    import os
    assert any(d.startswith("yyyymm=") for d in os.listdir(f"{root}/staging/event_monthly"))


def test_stream_stream_attribution_matches_batch(spark, events_dir):
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        click_purchase_attribution,
        read_event_stream,
        run_to_memory_sink,
    )

    stream = click_purchase_attribution(read_event_stream(spark, events_dir))
    assert stream.isStreaming
    run_to_memory_sink(stream, "attrib_out", output_mode="append")
    got = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.table("attrib_out").collect()
    }
    batch = click_purchase_attribution(spark.read.parquet(events_dir))
    want = {
        (r.user_id, r.click_id, r.purchase_id) for r in batch.collect()
    }
    assert want, "fixture should contain attributable purchases"
    # stream may hold back pairs near the end-of-input watermark frontier
    assert got <= want
    assert len(got) >= len(want) * 0.8, (len(got), len(want))


def test_stream_upsert_dim_latest_wins_across_batches(spark, tmp_path):
    from novi_pdq_etl_project_prod_spark.streaming.events import stream_upsert_dim

    # two "days" of dim updates arriving as separate files = separate
    # micro-batches under maxFilesPerTrigger=1 (ordering is by file mtime)
    import time as _time

    updates_dir = str(tmp_path / "updates")
    day1 = spark.createDataFrame(
        [(1, "alice", 100), (2, "bob", 100), (2, "bob-dup", 99)],
        "id int, name string, ver int",
    )
    day2 = spark.createDataFrame(
        [(2, "bobby", 200), (3, "carol", 200)], "id int, name string, ver int"
    )
    day1.coalesce(1).write.mode("append").parquet(updates_dir)
    _time.sleep(1.1)  # distinct mtimes so batch order is day1 then day2
    day2.coalesce(1).write.mode("append").parquet(updates_dir)

    root = str(tmp_path / "wh")
    stream = (
        spark.readStream.schema("id int, name string, ver int")
        .option("maxFilesPerTrigger", 1)
        .parquet(updates_dir)
    )
    stream_upsert_dim(
        stream, root, "dim_user", pk=("id",), order_col="ver",
        checkpoint_dir=str(tmp_path / "chk"),
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import resolve_table_path

    snap = {
        r.id: r.name
        for r in spark.read.parquet(
            resolve_table_path(f"{root}/curated/dim_user")
        ).collect()
    }
    # within-batch dedup keeps highest ver; across batches day2 wins
    assert snap == {1: "alice", 2: "bobby", 3: "carol"}


@pytest.mark.parametrize("sink", ["stream_upsert_dim", "stream_kmv_sketch"])
def test_fold_sink_fails_on_unreadable_snapshot(spark, tmp_path, sink):
    """A snapshot-fold sink whose live snapshot cannot be read fails the
    batch and leaves ``_CURRENT`` alone; it must not recommit the table
    holding only the new batch's rows."""
    from pyspark.errors import StreamingQueryException

    from novi_pdq_etl_project_prod_spark.sources.layers import (
        current_snapshot,
        table_path,
    )
    from novi_pdq_etl_project_prod_spark.streaming import events

    schema = "id int, name string, ver int"
    src, root = str(tmp_path / "updates"), str(tmp_path / "wh")

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        chk = str(tmp_path / "chk")
        if sink == "stream_upsert_dim":
            events.stream_upsert_dim(
                stream, root, "t", pk=("id",), order_col="ver",
                checkpoint_dir=chk,
            )
        else:
            events.stream_kmv_sketch(
                stream, root, "t", "name", ("ver",), checkpoint_dir=chk
            )

    land([(1, "alice", 1), (2, "bob", 1)])
    path = table_path(root, "curated", "t")
    live = current_snapshot(path)
    assert live is not None
    shutil.rmtree(os.path.join(path, live))
    with pytest.raises(StreamingQueryException, match="PATH_NOT_FOUND"):
        land([(3, "carol", 2)])
    assert current_snapshot(path) == live


def test_stream_static_enrichment_matches_batch(spark, events_dir):
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        enrich_stream_with_dim,
        read_event_stream,
        run_to_memory_sink,
    )

    dim = spark.createDataFrame(
        [(uid, f"tier_{uid % 3}") for uid in range(50)], "user_id long, tier string"
    )
    enriched = enrich_stream_with_dim(
        read_event_stream(spark, events_dir), dim, on="user_id"
    )
    counts = enriched.groupBy("tier").agg(F.count(F.lit(1)).alias("n"))
    run_to_memory_sink(counts, "enriched_counts")
    got = {r.tier: r.n for r in spark.sql("SELECT * FROM enriched_counts").collect()}
    ev = spark.read.parquet(events_dir)
    want = {
        r.tier: r.n
        for r in ev.join(dim, "user_id", "left")
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(want) > 1


def test_real_png_decode_end_to_end(spark):
    from novi_pdq_etl_project_prod_spark.operators.multimodal import (
        synthetic_png_bytes,
    )

    payloads = [(i, "image", synthetic_png_bytes(i)) for i in range(20)]
    media = spark.createDataFrame(
        payloads, "media_id long, modality string, payload binary"
    )
    feats = {r.media_id: r for r in decode_and_featurize(media).collect()}
    assert len(feats) == 20
    for i in range(20):
        r = feats[i]
        # dimensions must come from the actual IHDR, not the hash fake
        assert r.width == 8 + i % 16 and r.height == 8 + (i // 16) % 16
        assert len(r.feature) == 16 and abs(sum(r.feature) - 1.0) < 1e-6
        assert r.sample_rate is None and r.duration_ms is None


def test_real_wav_decode_end_to_end(spark):
    from novi_pdq_etl_project_prod_spark.operators.multimodal import (
        synthetic_wav_bytes,
    )

    payloads = [(i, "audio", synthetic_wav_bytes(i)) for i in range(12)]
    media = spark.createDataFrame(
        payloads, "media_id long, modality string, payload binary"
    )
    feats = {r.media_id: r for r in decode_and_featurize(media).collect()}
    for i in range(12):
        r = feats[i]
        assert r.sample_rate == 8000
        expected_ms = (800 + (i % 4) * 800) * 1000 // 8000
        assert r.duration_ms == expected_ms
        assert len(r.feature) == 16 and all(0.0 <= v <= 1.0 for v in r.feature)
        assert r.width is None and r.height is None
    # determinism across partitionings (Arrow batch boundaries shift)
    feats2 = {
        r.media_id: r for r in decode_and_featurize(media.repartition(5)).collect()
    }
    assert {(k, v.duration_ms, tuple(v.feature)) for k, v in feats.items()} == {
        (k, v.duration_ms, tuple(v.feature)) for k, v in feats2.items()
    }


def test_real_mp4_decode_end_to_end(spark):
    from novi_pdq_etl_project_prod_spark.operators.multimodal import (
        synthetic_mp4_bytes,
    )

    payloads = [(i, "video", synthetic_mp4_bytes(i * 7)) for i in range(8)]
    media = spark.createDataFrame(
        payloads, "media_id long, modality string, payload binary"
    )
    feats = {r.media_id: r for r in decode_and_featurize(media).collect()}
    for i in range(8):
        assert feats[i].duration_ms == 1000 + i * 7


def test_truncated_media_yields_nulls_not_failures(spark):
    from novi_pdq_etl_project_prod_spark.operators.multimodal import (
        synthetic_wav_bytes,
    )

    good = synthetic_wav_bytes(1)
    rows = [
        (0, "audio", good),
        (1, "audio", good[:20]),          # truncated mid-header
        (2, "audio", b"\x00" * 100),      # not RIFF at all
        (3, "video", b"junkjunkjunk"),    # not MP4
    ]
    media = spark.createDataFrame(
        rows, "media_id long, modality string, payload binary"
    )
    feats = {r.media_id: r for r in decode_and_featurize(media).collect()}
    assert feats[0].sample_rate == 8000
    for i in (1, 2, 3):
        assert feats[i].sample_rate is None and feats[i].feature is None
        assert feats[i].sha256  # metadata still computed


def test_monthly_rollup_stream_matches_batch_calendar_months(spark, events_dir):
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        monthly_event_rollup,
    )

    stream = read_event_stream(spark, events_dir)
    run_to_memory_sink(
        monthly_event_rollup(stream), "monthly_rollup", output_mode="complete"
    )
    got = {
        (r.yyyymm, r.user_id): r.n_events
        for r in spark.table("monthly_rollup").collect()
    }
    events = spark.read.parquet(events_dir)
    want = {
        (r.yyyymm, r.user_id): r.n_events
        for r in events.groupBy(
            (F.year("ts") * 100 + F.month("ts")).alias("yyyymm"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == want and len(want) > 0
    # every bucket is a real calendar month
    assert all(1 <= y % 100 <= 12 for y, _ in got)


def test_checkpoint_resume_across_restarts(spark, tmp_path):
    """Exactly-once across a stream RESTART: run stream_to_medallion,
    stop, land new files, run a second independent query against the
    SAME checkpoint — the curated result must equal one batch pass over
    the full input (state restored, nothing reprocessed or doubled)."""
    from novi_pdq_etl_project_prod_spark.session import read_events
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        read_event_stream,
        stream_to_medallion,
    )

    src = str(tmp_path / "incoming")
    ev = read_events(spark, SF_SMOKE)
    first = ev.where(F.col("event_id") % 2 == 0)
    second = ev.where(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(src)

    root, chk = str(tmp_path / "wh"), str(tmp_path / "chk")
    stream_to_medallion(
        read_event_stream(spark, src), root, "ev_monthly", checkpoint_dir=chk
    )
    t1 = spark.read.parquet(f"{root}/staging/ev_monthly")
    n1 = t1.agg(F.sum("n_events")).collect()[0][0]
    assert n1 == first.count()

    second.coalesce(1).write.mode("append").parquet(src)
    stream_to_medallion(  # fresh query object, same checkpoint = restart
        read_event_stream(spark, src), root, "ev_monthly", checkpoint_dir=chk
    )
    got = spark.read.parquet(f"{root}/staging/ev_monthly")
    want = (
        ev.groupBy(
            (F.year("ts") * 100 + F.month("ts")).alias("yyyymm"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    assert got.agg(F.sum("n_events")).collect()[0][0] == ev.count()
    assert (
        got.select("yyyymm", "user_id", "n_events", "sum_value")
        .exceptAll(want)
        .count()
        == 0
    )


def test_native_session_window_stream_matches_batch(spark, events_dir):
    """Append-mode native session windows: every emitted session must
    equal its batch twin exactly, and every session the final watermark
    closed must have been emitted."""
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        read_event_stream,
        run_to_memory_sink,
        session_window_rollup,
    )

    wm_hours = 2
    stream = session_window_rollup(
        read_event_stream(spark, events_dir), watermark=f"{wm_hours} hours"
    )
    run_to_memory_sink(stream, "native_sessions", output_mode="append")
    got = spark.sql("SELECT * FROM native_sessions")
    batch = session_window_rollup(spark.read.parquet(events_dir))

    assert got.count() > 0
    # emitted ⊆ batch, value-exact
    assert got.exceptAll(batch).count() == 0
    # sessions provably closed by the final watermark all emitted
    max_ts = spark.read.parquet(events_dir).agg(F.max("ts")).collect()[0][0]
    closed = batch.where(
        F.col("session_end")
        < F.lit(max_ts) - F.expr(f"INTERVAL {wm_hours} HOURS")
    )
    assert closed.exceptAll(got).count() == 0
    assert closed.count() > 0  # the assertion above isn't vacuous


def test_outer_interval_join_stream_matches_batch(spark, events_dir):
    """Left-outer stream-stream join: every emitted unattributed click
    matches the batch twin, and every click whose attribution window
    provably closed before the final watermark was emitted."""
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        read_event_stream,
        run_to_memory_sink,
        unattributed_clicks,
    )

    stream = unattributed_clicks(read_event_stream(spark, events_dir))
    run_to_memory_sink(stream, "unattributed", output_mode="append")
    got = spark.sql("SELECT * FROM unattributed")
    batch = unattributed_clicks(spark.read.parquet(events_dir))

    assert got.count() > 0
    assert got.exceptAll(batch).count() == 0
    max_ts = spark.read.parquet(events_dir).agg(F.max("ts")).collect()[0][0]
    # outer-row eviction waits for watermark (2h) PLUS the join's time
    # range (1h window) — clicks older than watermark - window are the
    # provably-closed set; add the window twice for the range condition
    closed = batch.where(
        F.col("click_ts")
        < F.lit(max_ts) - F.expr("INTERVAL 2 HOURS") - F.expr("INTERVAL 2 HOURS")
    )
    assert closed.count() > 0
    assert closed.exceptAll(got).count() == 0


def test_stream_apply_changes_honors_tombstones(spark, tmp_path):
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        stream_apply_changes,
    )

    import time as _time

    updates_dir = str(tmp_path / "cdc")
    # batch 1: create k1..k3; delete k3 in the same batch (tombstone must
    # beat the earlier upsert within one micro-batch)
    b1 = spark.createDataFrame(
        [
            (1, 1, "upsert", "a"),
            (2, 1, "upsert", "b"),
            (3, 1, "upsert", "c"),
            (3, 2, "delete", None),
        ],
        "id int, seq int, op string, payload string",
    )
    # batch 2: update k1, delete k2, resurrect k3
    b2 = spark.createDataFrame(
        [
            (1, 3, "upsert", "a2"),
            (2, 3, "delete", None),
            (3, 3, "upsert", "c2"),
        ],
        "id int, seq int, op string, payload string",
    )
    b1.coalesce(1).write.mode("append").parquet(updates_dir)
    _time.sleep(1.1)
    b2.coalesce(1).write.mode("append").parquet(updates_dir)

    root = str(tmp_path / "wh")
    stream = (
        spark.readStream.schema("id int, seq int, op string, payload string")
        .option("maxFilesPerTrigger", 1)
        .parquet(updates_dir)
    )
    stream_apply_changes(
        stream, root, "state", pk=("id",), seq_cols=("seq",), op_col="op",
        checkpoint_dir=str(tmp_path / "chk"),
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import resolve_table_path

    snap = {
        r.id: r.payload
        for r in spark.read.parquet(
            resolve_table_path(f"{root}/curated/state")
        ).collect()
    }
    assert snap == {1: "a2", 3: "c2"}

    # restart on the same checkpoint with no new data: state unchanged
    stream2 = (
        spark.readStream.schema("id int, seq int, op string, payload string")
        .option("maxFilesPerTrigger", 1)
        .parquet(updates_dir)
    )
    stream_apply_changes(
        stream2, root, "state", pk=("id",), seq_cols=("seq",), op_col="op",
        checkpoint_dir=str(tmp_path / "chk"),
    )
    snap2 = {
        r.id: r.payload
        for r in spark.read.parquet(
            resolve_table_path(f"{root}/curated/state")
        ).collect()
    }
    assert snap2 == snap


def test_stream_to_star_schema_atomic_fact_dim(spark, tmp_path):
    """Two micro-batches of order events: the dim ends latest-wins, the
    fact aggregate equals the batch recompute, and BOTH come from one
    manifest (set-consistent read path of the cross-table commit)."""
    import time as _time

    from novi_pdq_etl_project_prod_spark.sources.layers import (
        read_manifest,
        read_manifest_tables,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        stream_to_star_schema,
    )

    updates_dir = str(tmp_path / "orders")
    day1 = spark.createDataFrame(
        [(1, "alice", 10, 100.0), (2, "bob", 10, 40.0), (1, "alice", 10, 5.0)],
        "uid int, name string, ver int, amount double",
    )
    day2 = spark.createDataFrame(
        [(2, "bobby", 20, 60.0), (3, "carol", 20, 7.0)],
        "uid int, name string, ver int, amount double",
    )
    day1.coalesce(1).write.mode("append").parquet(updates_dir)
    _time.sleep(1.1)
    day2.coalesce(1).write.mode("append").parquet(updates_dir)

    root = str(tmp_path / "wh")
    stream = (
        spark.readStream.schema("uid int, name string, ver int, amount double")
        .option("maxFilesPerTrigger", 1)
        .parquet(updates_dir)
    )
    stream_to_star_schema(
        stream, root, "fact_user_totals", "dim_user",
        dim_pk=("uid",), dim_cols=("name",), order_col="ver",
        measure_cols=("amount",), checkpoint_dir=str(tmp_path / "chk"),
    )
    tables = read_manifest_tables(spark, root, "curated")
    assert set(tables) == {"fact_user_totals", "dim_user"}
    dim = {r.uid: r.name for r in tables["dim_user"].collect()}
    assert dim == {1: "alice", 2: "bobby", 3: "carol"}
    fact = {r.uid: r.amount for r in tables["fact_user_totals"].collect()}
    assert fact == {1: 105.0, 2: 100.0, 3: 7.0}
    # every fact key resolves in the SAME manifest's dim — never torn
    assert set(fact) <= set(dim)
    # two micro-batches ⇒ two manifest versions, both internally complete
    assert len(read_manifest(root, "curated")) == 2


def test_stream_to_star_schema_replay_is_exactly_once(spark, tmp_path):
    """ADVICE r06 (high): the fact is a running sum, so a replayed batch
    after a crash between commit_tables and the checkpoint offset write
    must NOT re-add its delta. Simulated by deleting the checkpoint after
    a full run and re-running the identical stream: every batch replays
    with batch ids the committed manifest meta already covers, and the
    fact must come out unchanged."""
    import shutil

    from novi_pdq_etl_project_prod_spark.sources.layers import (
        read_manifest_meta,
        read_manifest_tables,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        stream_to_star_schema,
    )

    updates_dir = str(tmp_path / "orders")
    spark.createDataFrame(
        [(1, "alice", 10, 100.0), (2, "bob", 10, 40.0)],
        "uid int, name string, ver int, amount double",
    ).coalesce(1).write.mode("append").parquet(updates_dir)

    root = str(tmp_path / "wh")
    chk = str(tmp_path / "chk")

    def _run():
        stream = (
            spark.readStream.schema("uid int, name string, ver int, amount double")
            .option("maxFilesPerTrigger", 1)
            .parquet(updates_dir)
        )
        stream_to_star_schema(
            stream, root, "fact_user_totals", "dim_user",
            dim_pk=("uid",), dim_cols=("name",), order_col="ver",
            measure_cols=("amount",), checkpoint_dir=chk,
        )

    from novi_pdq_etl_project_prod_spark.streaming.events import batch_marker_key

    _run()
    meta = read_manifest_meta(root, "curated")
    assert meta.get(batch_marker_key(chk)) == 0
    fact_before = {
        r.uid: r.amount
        for r in read_manifest_tables(spark, root, "curated")[
            "fact_user_totals"
        ].collect()
    }
    assert fact_before == {1: 100.0, 2: 40.0}

    # lost checkpoint ⇒ full replay with restarted batch ids
    shutil.rmtree(chk)
    _run()
    fact_after = {
        r.uid: r.amount
        for r in read_manifest_tables(spark, root, "curated")[
            "fact_user_totals"
        ].collect()
    }
    assert fact_after == fact_before, "replayed batch double-counted the fact"


def test_stream_bin_counts_matches_batch_and_survives_replay(spark, tmp_path):
    """Streaming drift monitor (VERDICT r06 item 7), metamorphic vs the
    batch twin: after streaming N micro-batches, (1) the maintained bin
    counts equal `stats.bin_counts` over all rows register-for-register;
    (2) `drift_from_bin_counts` over (reference counts, maintained
    counts) is row-identical to `quantile_bin_drift(ref, cur)` with the
    same cuts; (3) a checkpoint loss + full replay changes nothing
    (addition gated by the manifest batch id)."""
    import shutil
    import time as _time

    import pyspark.sql.functions as F

    from novi_pdq_etl_project_prod_spark.operators.stats import (
        bin_counts,
        drift_from_bin_counts,
        quantile_bin_drift,
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        read_manifest_tables,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        stream_bin_counts,
    )

    # reference slice and its fitted cuts (quartiles of 1..100)
    ref = spark.range(1, 101).select(F.col("id").cast("double").alias("v"))
    n_bins = 4
    cut_vals = [
        v for v in ref.agg(
            *[F.percentile(F.col("v"), F.lit(q)).alias(f"c{i}")
              for i, q in enumerate((0.25, 0.5, 0.75))]
        ).collect()[0]
    ]

    # current stream: 3 files → 3 micro-batches, drifted upward
    updates_dir = str(tmp_path / "cur")
    batches = [(1, 40), (30, 90), (80, 140)]
    for lo, hi in batches:
        spark.range(lo, hi).select(
            F.col("id").cast("double").alias("v")
        ).coalesce(1).write.mode("append").parquet(updates_dir)
        _time.sleep(1.1)

    root = str(tmp_path / "wh")
    chk = str(tmp_path / "chk")

    def _run():
        stream = (
            spark.readStream.schema("v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(updates_dir)
        )
        stream_bin_counts(stream, root, "price_bins", "v", tuple(cut_vals), chk)

    _run()
    cur_all = spark.read.parquet(updates_dir)
    expected = {
        (r.bin, r.n)
        for r in bin_counts(cur_all, "v", cut_vals, "n").collect()
    }
    maintained = read_manifest_tables(spark, root, "quality")["price_bins"]
    assert {(r.bin, r.n) for r in maintained.collect()} == expected

    # the maintained counts produce dq8's exact report
    want = {
        (r.bin, r.n_ref, r.n_cur, r.share_ref, r.share_cur, r.chi2_term)
        for r in quantile_bin_drift(ref, cur_all, "v", n_bins).collect()
    }
    got = {
        (r.bin, r.n_ref, r.n_cur, r.share_ref, r.share_cur, r.chi2_term)
        for r in drift_from_bin_counts(
            bin_counts(ref, "v", cut_vals, "n_ref"),
            maintained.select("bin", F.col("n").alias("n_cur")),
            n_bins,
        ).collect()
    }
    assert got == want

    # checkpoint loss → full replay with restarted batch ids: no change
    shutil.rmtree(chk)
    _run()
    replayed = read_manifest_tables(spark, root, "quality")["price_bins"]
    assert {(r.bin, r.n) for r in replayed.collect()} == expected


def test_two_streams_sharing_a_layer_gate_independently(spark, tmp_path):
    """ADVICE r07 (medium), second failure mode: two streaming sinks
    committing to ONE layer must gate replay on their OWN batch-id
    sequences. Before the namespaced markers, stream B's early batches
    satisfied `batch_id <= A's marker` and were silently dropped as
    'replayed'. Run A (two micro-batches, so its marker is 1), then run
    B (one micro-batch, batch id 0) into the same layer: B's batch 0
    must APPLY, and both markers must coexist in the manifest meta."""
    import time as _time

    from novi_pdq_etl_project_prod_spark.sources.layers import (
        read_manifest_meta,
        read_manifest_tables,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        batch_marker_key,
        stream_to_star_schema,
    )

    root = str(tmp_path / "wh")
    schema = "uid int, name string, ver int, amount double"

    a_dir = str(tmp_path / "a_updates")
    spark.createDataFrame([(1, "alice", 10, 100.0)], schema).coalesce(
        1
    ).write.mode("append").parquet(a_dir)
    _time.sleep(1.1)
    spark.createDataFrame([(2, "bob", 10, 40.0)], schema).coalesce(
        1
    ).write.mode("append").parquet(a_dir)
    chk_a = str(tmp_path / "chk_a")
    stream_to_star_schema(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(a_dir),
        root, "fact_a", "dim_a", dim_pk=("uid",), dim_cols=("name",),
        order_col="ver", measure_cols=("amount",), checkpoint_dir=chk_a,
    )
    meta = read_manifest_meta(root, "curated")
    assert meta.get(batch_marker_key(chk_a)) == 1  # two batches applied

    b_dir = str(tmp_path / "b_updates")
    spark.createDataFrame([(7, "gina", 1, 5.0)], schema).coalesce(
        1
    ).write.mode("append").parquet(b_dir)
    chk_b = str(tmp_path / "chk_b")
    stream_to_star_schema(
        spark.readStream.schema(schema).parquet(b_dir),
        root, "fact_b", "dim_b", dim_pk=("uid",), dim_cols=("name",),
        order_col="ver", measure_cols=("amount",), checkpoint_dir=chk_b,
    )
    tables = read_manifest_tables(spark, root, "curated")
    # B's batch 0 applied even though A's marker is already 1
    assert {r.uid: r.amount for r in tables["fact_b"].collect()} == {7: 5.0}
    # and A's state was carried forward untouched through B's commit
    assert {r.uid: r.amount for r in tables["fact_a"].collect()} == {
        1: 100.0, 2: 40.0,
    }
    meta = read_manifest_meta(root, "curated")
    assert meta.get(batch_marker_key(chk_a)) == 1
    assert meta.get(batch_marker_key(chk_b)) == 0


def test_stream_to_star_schema_migrates_legacy_marker(spark, tmp_path):
    """ADVICE r08/r09: a layer written by a pre-round-8 sink carries its
    applied history under the un-namespaced 'last_batch_id' meta key.
    A fresh-checkpoint upgrade is mechanically indistinguishable from a
    brand-new sink, so the operator states the intent with an explicit
    migrate_legacy_batch_marker() call; after it, replays of legacy-era
    batches are skipped (not double-applied) and the legacy key is
    retired so it can't shadow future batch-id sequences."""
    import time as _time

    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        read_manifest_meta,
        read_manifest_tables,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        batch_marker_key,
        migrate_legacy_batch_marker,
        stream_to_star_schema,
    )

    root = str(tmp_path / "wh")
    chk = str(tmp_path / "chk")
    updates_dir = str(tmp_path / "orders")

    # pre-upgrade state: batch 0 (100.0 for alice) already applied, the
    # marker recorded under the legacy un-namespaced key
    commit_tables(
        {
            "fact_user_totals": spark.createDataFrame(
                [(1, 100.0)], "uid int, amount double"
            ),
            "dim_user": spark.createDataFrame(
                [(1, "alice")], "uid int, name string"
            ),
        },
        root,
        "curated",
        meta={"last_batch_id": 0},
    )

    spark.createDataFrame(
        [(1, "alice", 10, 100.0)], "uid int, name string, ver int, amount double"
    ).coalesce(1).write.mode("append").parquet(updates_dir)
    _time.sleep(1.1)
    spark.createDataFrame(
        [(1, "alice", 20, 50.0)], "uid int, name string, ver int, amount double"
    ).coalesce(1).write.mode("append").parquet(updates_dir)

    # post-upgrade restart with a fresh checkpoint: the operator runs the
    # explicit migration (fresh checkpoint carries no evidence), then
    # batch 0 replays (skipped via the migrated marker), batch 1 is new
    assert migrate_legacy_batch_marker(root, "curated", chk) == 0
    assert migrate_legacy_batch_marker(root, "curated", chk) is None  # idempotent
    stream = (
        spark.readStream.schema("uid int, name string, ver int, amount double")
        .option("maxFilesPerTrigger", 1)
        .parquet(updates_dir)
    )
    stream_to_star_schema(
        stream, root, "fact_user_totals", "dim_user",
        dim_pk=("uid",), dim_cols=("name",), order_col="ver",
        measure_cols=("amount",), checkpoint_dir=chk,
    )

    fact = {
        r.uid: r.amount
        for r in read_manifest_tables(spark, root, "curated")[
            "fact_user_totals"
        ].collect()
    }
    assert fact == {1: 150.0}, "batch 0 double-applied or batch 1 dropped"
    meta = read_manifest_meta(root, "curated")
    assert meta.get(batch_marker_key(chk)) == 1
    assert "last_batch_id" not in meta, "legacy key not retired"


def test_new_sink_on_legacy_layer_processes_all_batches(spark, tmp_path):
    """ADVICE r09: a GENUINELY NEW sink (fresh checkpoint) on a layer
    that happens to carry the pre-round-8 legacy marker must not adopt
    it — doing so skipped its batches 0..legacy as 'replays', committed
    nothing, never retired the key, and therefore dropped the data on
    EVERY rerun. The new sink processes everything; the legacy key (it
    may belong to a not-yet-upgraded sibling sink) is left untouched."""
    import time as _time

    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        read_manifest_meta,
        read_manifest_tables,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        batch_marker_key,
        stream_to_star_schema,
    )

    root = str(tmp_path / "wh")
    chk = str(tmp_path / "chk")
    updates_dir = str(tmp_path / "orders")

    # some OTHER (not-yet-upgraded) sink left legacy history on the layer
    commit_tables(
        {"unrelated": spark.createDataFrame([(1,)], "x int")},
        root,
        "curated",
        meta={"last_batch_id": 5},
    )

    spark.createDataFrame(
        [(1, "alice", 10, 100.0)], "uid int, name string, ver int, amount double"
    ).coalesce(1).write.mode("append").parquet(updates_dir)
    _time.sleep(1.1)
    spark.createDataFrame(
        [(2, "bob", 20, 50.0)], "uid int, name string, ver int, amount double"
    ).coalesce(1).write.mode("append").parquet(updates_dir)

    stream = (
        spark.readStream.schema("uid int, name string, ver int, amount double")
        .option("maxFilesPerTrigger", 1)
        .parquet(updates_dir)
    )
    stream_to_star_schema(
        stream, root, "fact_user_totals", "dim_user",
        dim_pk=("uid",), dim_cols=("name",), order_col="ver",
        measure_cols=("amount",), checkpoint_dir=chk,
    )

    fact = {
        r.uid: r.amount
        for r in read_manifest_tables(spark, root, "curated")[
            "fact_user_totals"
        ].collect()
    }
    assert fact == {1: 100.0, 2: 50.0}, "new sink's batches were dropped"
    meta = read_manifest_meta(root, "curated")
    assert meta.get(batch_marker_key(chk)) == 1
    assert meta.get("last_batch_id") == 5, "sibling's legacy key clobbered"


def test_auto_migration_requires_checkpoint_progress(spark, tmp_path):
    """The automatic legacy-marker adoption is gated on the one piece of
    local evidence that distinguishes an upgraded-in-place sink from a
    new one: the checkpoint dir has committed offsets."""
    import os as _os

    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        read_manifest_meta,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        _maybe_migrate_legacy,
        batch_marker_key,
    )

    root = str(tmp_path / "wh")
    chk = str(tmp_path / "chk")
    commit_tables(
        {"t": spark.createDataFrame([(1,)], "x int")},
        root,
        "curated",
        meta={"last_batch_id": 3},
    )

    # fresh checkpoint: no adoption, legacy untouched
    _maybe_migrate_legacy(root, "curated", chk)
    meta = read_manifest_meta(root, "curated")
    assert batch_marker_key(chk) not in meta and meta["last_batch_id"] == 3

    # offsets alone are NOT evidence: Spark writes offsets/N BEFORE the
    # batch runs, so a new sink whose first batch failed mid-apply has
    # one — adoption must wait for a COMPLETED batch (commits/N)
    _os.makedirs(_os.path.join(chk, "offsets"))
    with open(_os.path.join(chk, "offsets", "0"), "w") as fh:
        fh.write("{}")
    _maybe_migrate_legacy(root, "curated", chk)
    meta = read_manifest_meta(root, "curated")
    assert batch_marker_key(chk) not in meta and meta["last_batch_id"] == 3

    # checkpoint with a COMMITTED batch: upgraded in place → adopt+retire
    _os.makedirs(_os.path.join(chk, "commits"))
    with open(_os.path.join(chk, "commits", "0"), "w") as fh:
        fh.write("{}")
    _maybe_migrate_legacy(root, "curated", chk)
    meta = read_manifest_meta(root, "curated")
    assert meta.get(batch_marker_key(chk)) == 3
    assert "last_batch_id" not in meta


def test_stream_expectations_matches_batch_and_survives_replay(spark, tmp_path):
    """VERDICT r08 item 5a — streaming expectations-with-quarantine,
    metamorphic vs the batch twin: after N micro-batches the good
    table, the quarantine table (with audit column), and the cumulative
    counts equal `write_with_expectations` over all rows at once; a
    checkpoint loss + full replay changes nothing (appends gated by the
    manifest batch marker)."""
    import shutil
    import time as _time

    from novi_pdq_etl_project_prod_spark.operators.expectations import (
        FAILED_RULES_COL,
        write_with_expectations,
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        read_manifest_meta,
        read_manifest_tables,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        stream_write_with_expectations,
    )

    rules = {"pos": "v >= 0", "small": "v < 100"}
    batch1 = [(1, 5), (2, -1), (3, 7)]
    batch2 = [(4, 200), (5, -3), (6, 9)]
    updates_dir = str(tmp_path / "rows")
    spark.createDataFrame(batch1, "id int, v int").coalesce(1).write.mode(
        "append"
    ).parquet(updates_dir)
    _time.sleep(1.1)
    spark.createDataFrame(batch2, "id int, v int").coalesce(1).write.mode(
        "append"
    ).parquet(updates_dir)

    root = str(tmp_path / "wh")
    chk = str(tmp_path / "chk")

    def _run():
        stream = (
            spark.readStream.schema("id int, v int")
            .option("maxFilesPerTrigger", 1)
            .parquet(updates_dir)
        )
        stream_write_with_expectations(
            stream, root, "curated", "vals", rules, checkpoint_dir=chk
        )

    _run()

    # batch twin over ALL rows
    broot = str(tmp_path / "bwh")
    bcounts = write_with_expectations(
        spark, broot, "curated", "vals",
        spark.createDataFrame(batch1 + batch2, "id int, v int"), rules,
    )

    stables = read_manifest_tables(spark, root, "curated")
    btables = read_manifest_tables(spark, broot, "curated")
    for tbl in ("vals", "vals_quarantine"):
        got = sorted(map(tuple, stables[tbl].collect()))
        want = sorted(map(tuple, btables[tbl].collect()))
        assert got == want, tbl
    # quarantine keeps the audit column
    assert FAILED_RULES_COL in stables["vals_quarantine"].columns
    scounts = read_manifest_meta(root, "curated")["expectations:vals"]
    assert scounts == {k: int(v) for k, v in bcounts.items()}

    # lost checkpoint => full replay; marker gate keeps all state fixed
    shutil.rmtree(chk)
    _run()
    after = read_manifest_tables(spark, root, "curated")
    assert sorted(map(tuple, after["vals"].collect())) == sorted(
        map(tuple, btables["vals"].collect())
    )
    assert read_manifest_meta(root, "curated")["expectations:vals"] == scounts


def test_stream_expectations_schema_gate_matches_batch(spark, tmp_path):
    """VERDICT r09 item 7 (streaming twin): the schema-drift expectation
    behaves identically stream vs batch — a stream whose schema drifts
    from the committed table in a non-allowed way fails the query and
    commits nothing; with the drift reviewed (allow added) both engines
    commit and record the same drift meta."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from novi_pdq_etl_project_prod_spark.operators.expectations import (
        ExpectationError,
        write_with_expectations,
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        read_manifest_meta,
        read_manifest_tables,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        stream_write_with_expectations,
    )

    rules = {"pos": "v >= 0"}
    rows_v1 = [(1, 5), (2, 7)]
    rows_v2 = [(3, 9, "x")]  # added column c

    for mode in ("batch", "stream"):
        root = str(tmp_path / f"wh_{mode}")
        # seed the committed table (schema v1) in both engines
        write_with_expectations(
            spark, root, "curated", "vals",
            spark.createDataFrame(rows_v1, "id int, v int"),
            rules, schema_allow=(),
        )
        widened = spark.createDataFrame(rows_v2, "id int, v int, c string")
        if mode == "batch":
            import pytest as _pytest

            with _pytest.raises(ExpectationError, match="added"):
                write_with_expectations(
                    spark, root, "curated", "vals", widened, rules,
                    schema_allow=(),
                )
        else:
            src = str(tmp_path / "src_blocked")
            widened.coalesce(1).write.parquet(src)
            stream = spark.readStream.schema(
                "id int, v int, c string"
            ).parquet(src)
            import pytest as _pytest

            with _pytest.raises(StreamingQueryException, match="added"):
                stream_write_with_expectations(
                    stream, root, "curated", "vals", rules,
                    checkpoint_dir=str(tmp_path / f"chk_blocked_{mode}"),
                    schema_allow=(),
                )
        # blocked in both: table unchanged
        vals = read_manifest_tables(spark, root, "curated")["vals"]
        assert vals.count() == 2 and "c" not in vals.columns

        # reviewed evolution: allow added → commits + drift meta
        if mode == "batch":
            write_with_expectations(
                spark, root, "curated", "vals", widened, rules,
                schema_allow=("added",),
            )
        else:
            src_ok = str(tmp_path / "src_ok")
            widened.coalesce(1).write.parquet(src_ok)
            stream = spark.readStream.schema(
                "id int, v int, c string"
            ).parquet(src_ok)
            stream_write_with_expectations(
                stream, root, "curated", "vals", rules,
                checkpoint_dir=str(tmp_path / f"chk_ok_{mode}"),
                schema_allow=("added",),
            )
        vals = read_manifest_tables(spark, root, "curated")["vals"]
        assert "c" in vals.columns
        if mode == "batch":
            # the batch twin is a validated PUBLISH: the table is the
            # new frame
            assert vals.count() == 1
        else:
            # the streaming sink APPENDS; pre-drift rows surface the
            # new column as NULL through the merged-schema segment read
            assert vals.count() == 3
            assert vals.where("id = 1").collect()[0].c is None
        drift = read_manifest_meta(root, "curated").get("schema_drift:vals")
        assert drift == [
            {"column": "c", "status": "added", "old_type": None,
             "new_type": "string"}
        ]


def test_stream_merge_into_matches_sequential_batch_merges(spark, tmp_path):
    """VERDICT r08 item 5b — MERGE as the micro-batch sink, metamorphic:
    streaming N micro-batches through stream_merge_into equals folding
    the same batches through merge_frames sequentially; a replayed
    run after checkpoint loss must not re-apply any delta."""
    import shutil
    import time as _time

    from novi_pdq_etl_project_prod_spark.operators.modeling import merge_frames
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        read_manifest_tables,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        stream_merge_into,
    )

    clauses = dict(
        when_matched_update={"v": "t.v + s.v"},
        when_matched_delete="s.v = 0",
        when_not_matched_insert=True,
    )
    batch1 = [(1, 10), (2, 20)]
    batch2 = [(1, 5), (2, 0), (3, 30)]  # bump 1, delete 2, insert 3
    updates_dir = str(tmp_path / "deltas")
    spark.createDataFrame(batch1, "id int, v int").coalesce(1).write.mode(
        "append"
    ).parquet(updates_dir)
    _time.sleep(1.1)
    spark.createDataFrame(batch2, "id int, v int").coalesce(1).write.mode(
        "append"
    ).parquet(updates_dir)

    root = str(tmp_path / "wh")
    chk = str(tmp_path / "chk")

    def _run():
        stream = (
            spark.readStream.schema("id int, v int")
            .option("maxFilesPerTrigger", 1)
            .parquet(updates_dir)
        )
        stream_merge_into(
            stream, root, "curated", "state", on=("id",),
            checkpoint_dir=chk, **clauses,
        )

    _run()

    # batch twin: fold the same two batches sequentially
    folded = None
    for rows in (batch1, batch2):
        folded = merge_frames(
            folded, spark.createDataFrame(rows, "id int, v int"),
            on=("id",), **clauses,
        )
    want = sorted(map(tuple, folded.collect()))
    got = sorted(
        map(
            tuple,
            read_manifest_tables(spark, root, "curated")["state"].collect(),
        )
    )
    assert got == want == [(1, 15), (3, 30)]

    shutil.rmtree(chk)
    _run()
    after = sorted(
        map(
            tuple,
            read_manifest_tables(spark, root, "curated")["state"].collect(),
        )
    )
    assert after == want, "replayed merge re-applied a delta"


def test_stream_merge_into_dedup_exempts_null_keys(spark, tmp_path):
    """ADVICE r09: with source_dedup_order enabled, NULL-key source rows
    must NOT collapse to one window survivor — under the ANSI
    never-match rule each NULL-key row is a legitimate INSERT (the same
    exemption merge_frames' dup-guard applies)."""
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        read_manifest_tables,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        stream_merge_into,
    )

    rows = [(1, 10, 1), (1, 11, 2), (None, 7, 1), (None, 8, 2)]
    updates_dir = str(tmp_path / "deltas")
    spark.createDataFrame(rows, "id int, v int, ver int").coalesce(1).write.parquet(
        updates_dir
    )
    root = str(tmp_path / "wh")
    stream = spark.readStream.schema("id int, v int, ver int").parquet(updates_dir)
    stream_merge_into(
        stream, root, "curated", "state", on=("id",),
        checkpoint_dir=str(tmp_path / "chk"),
        when_matched_update={"v": "s.v"},
        when_not_matched_insert=True,
        source_dedup_order=("ver",),
    )
    got = sorted(
        ((r.id, r.v, r.ver) for r in
         read_manifest_tables(spark, root, "curated")["state"].collect()),
        key=lambda t: (t[0] is None, t),
    )
    # keyed rows collapse to the ver-latest; BOTH null-key rows insert
    assert got == [(1, 11, 2), (None, 7, 1), (None, 8, 2)]


def test_stream_incremental_exact_dups_matches_full_corpus(spark, tmp_path):
    """Streaming exact-dedup metamorphic property: ingesting a corpus in
    id-monotone micro-batches accumulates exactly the full-corpus
    exact-duplicate expansion — every non-canonical member reported
    once, at its arrival batch, pointing at its group's min id, typed by
    whether the canonical was already standing. The content-hash table
    ends with ONE row per distinct hash (canonical = global min), each
    batch committed as an append segment; checkpoint-loss replay is a
    no-op."""
    import shutil
    import time as _time

    from novi_pdq_etl_project_prod_spark.sources.layers import (
        read_manifest,
        read_manifest_tables,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        stream_incremental_exact_dups,
    )

    batch1 = [(1, "aa"), (2, "bb"), (3, "aa")]          # 3 dups 1 (new_new)
    batch2 = [(4, "aa"), (5, "cc"), (6, "bb"), (7, "cc")]
    # 4 dups 1 (old), 6 dups 2 (old), 7 dups 5 (new_new)
    updates_dir = str(tmp_path / "docs")
    spark.createDataFrame(batch1, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(updates_dir)
    _time.sleep(1.1)
    spark.createDataFrame(batch2, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(updates_dir)

    root = str(tmp_path / "wh")
    chk = str(tmp_path / "chk")

    def _run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(updates_dir)
        )
        stream_incremental_exact_dups(
            stream, root, "curated", checkpoint_dir=chk
        )

    _run()
    tables = read_manifest_tables(spark, root, "curated")
    got = {
        r.doc_id: (r.dup_of, r.dup_type)
        for r in tables["exact_dups"].collect()
    }
    assert got == {
        3: (1, "exact_new"),
        4: (1, "exact_old"),
        6: (2, "exact_old"),
        7: (5, "exact_new"),
    }
    hashes = {
        r.h: r.canonical_id for r in tables["content_hashes"].collect()
    }
    assert sorted(hashes.values()) == [1, 2, 5]  # one row per distinct hash
    # both tables are segment lists: one append per batch
    man = read_manifest(root, "curated")
    assert isinstance(man["content_hashes"], list)
    assert len(man["content_hashes"]) == 2

    shutil.rmtree(chk)
    _run()  # replay after checkpoint loss: marker-gated no-op
    after = read_manifest_tables(spark, root, "curated")
    assert after["exact_dups"].count() == 4
    assert after["content_hashes"].count() == 3


def test_stream_incremental_near_dups_covers_full_corpus_exactly_once(
    spark, tmp_path
):
    """The streaming incremental-dedup property: ingesting a corpus in N
    micro-batches accumulates EXACTLY the full-corpus near-dup pair set
    — every pair reported once, at the batch where its later member
    arrived, with pair_type reflecting the membership at that moment —
    and a checkpoint-loss replay changes nothing. No batch ever forms a
    standing×standing candidate (the 100 TB viability condition)."""
    import shutil
    import time as _time

    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        minhash_near_duplicates_md5,
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        read_manifest_tables,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        stream_incremental_near_dups,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batch1 = [(1, base), (2, base + " lam"), (3, "unrelated words here")]
    # doc 4 pairs with 1 (cross-batch), doc 5 with 2 (cross-batch),
    # docs 6/7 pair within batch 2
    batch2 = [
        (4, base),
        (5, base + " lam"),
        (6, "other corpus entirely second text"),
        (7, "other corpus entirely second text"),
    ]
    updates_dir = str(tmp_path / "docs")
    spark.createDataFrame(batch1, "doc_id int, text string").coalesce(1).write.mode(
        "append"
    ).parquet(updates_dir)
    _time.sleep(1.1)
    spark.createDataFrame(batch2, "doc_id int, text string").coalesce(1).write.mode(
        "append"
    ).parquet(updates_dir)

    root = str(tmp_path / "wh")
    chk = str(tmp_path / "chk")

    def _run():
        stream = (
            spark.readStream.schema("doc_id int, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(updates_dir)
        )
        stream_incremental_near_dups(
            stream, root, "curated", checkpoint_dir=chk, threshold=0.5
        )

    _run()
    tables = read_manifest_tables(spark, root, "curated")
    got = {
        (r.id_a, r.id_b): r.pair_type for r in tables["near_dup_pairs"].collect()
    }
    full = {
        (r.id_a, r.id_b)
        for r in minhash_near_duplicates_md5(
            spark.createDataFrame(batch1 + batch2, "doc_id int, text string"),
            threshold=0.5,
        ).collect()
    }
    assert set(got) == full, "incremental union != full-corpus pair set"
    assert len(got) == len(full), "a pair was reported more than once"
    # cross-batch pairs carry new_old; the intra-batch-1 pair (1,2)
    # arrived together -> new_new at batch 0; (6,7) new_new at batch 1
    assert got.get((1, 4)) == "new_old" and got.get((2, 5)) == "new_old"
    assert got.get((6, 7)) == "new_new"
    # the signature table holds every ingested doc exactly once
    sigs = tables["minhash_signatures"].collect()
    assert sorted(r.id for r in sigs) == [1, 2, 3, 4, 5, 6, 7]

    # the commit is append-SHAPED (round 10): each batch added one
    # manifest segment holding ONLY its own rows — the standing corpus
    # was referenced, never re-written (O(batch) commit volume)
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        read_manifest,
        table_path,
    )

    entry = read_manifest(root, "curated")["minhash_signatures"]
    assert isinstance(entry, list) and len(entry) == 2
    seg_ids = [
        sorted(
            r.id
            for r in spark.read.parquet(
                os.path.join(
                    table_path(root, "curated", "minhash_signatures"), seg
                )
            ).collect()
        )
        for seg in entry
    ]
    assert seg_ids == [[1, 2, 3], [4, 5, 6, 7]]

    # replay: full re-run after checkpoint loss is marker-gated to a no-op
    shutil.rmtree(chk)
    _run()
    after = read_manifest_tables(spark, root, "curated")
    assert {
        (r.id_a, r.id_b) for r in after["near_dup_pairs"].collect()
    } == full
    assert after["minhash_signatures"].count() == 7
