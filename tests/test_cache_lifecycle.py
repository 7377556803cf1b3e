"""Executor-storage lifecycle (VERDICT r05 item 5).

Operators that persist shared intermediates register them with
``novi_pdq_etl_project_prod_spark.cache``; after a caller materializes a
query and releases, executor storage must return to baseline — a
long-lived session (bench's ~95-query run, a production driver) must not
accumulate cached blocks across queries.
"""

from __future__ import annotations

import pytest

from novi_pdq_etl_project_prod_spark import cache
from novi_pdq_etl_project_prod_spark.catalog import QUERIES
from tests.conftest import SF_ORACLE

#: Queries whose operators are known to persist shared intermediates —
#: one per persisting family (gram miner, LSH, IVF, funnel).
#: m24 left this list in round 8: the exact integer sign-LSH path is a
#: single-consumer pipeline (bucket UDF → per-cell Gram) with no
#: self-join, so it persists nothing; m10 keeps the float-LSH family's
#: persist coverage via m8's banding cache.
PERSISTING = [
    "m2_ngram_jaccard_pairs",
    "m8_minhash_near_dups",
    "m42_curation_v2",
    "m64_bpe_train",
]


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("name", PERSISTING)
def test_storage_returns_to_baseline(spark, name):
    cache.clear_session_state(spark)
    assert _n_persistent(spark) == 0
    df = QUERIES[name](spark, SF_ORACLE)
    rows = df.count()
    assert rows >= 0
    # the query is materialized; release must free every tracked persist
    freed = cache.release()
    assert freed > 0, f"{name} registered no tracked persists"
    assert _n_persistent(spark) == 0, (
        f"{name} leaked persisted blocks past cache.release()"
    )


def test_release_before_materialization_is_safe(spark):
    """Releasing early only loses the cache benefit — the consumer
    recomputes from lineage and the result is unchanged."""
    cache.clear_session_state(spark)
    fn = QUERIES["m2_ngram_jaccard_pairs"]
    df = fn(spark, SF_ORACLE)
    expected = df.count()
    df2 = fn(spark, SF_ORACLE)
    cache.release()  # before df2 is materialized
    assert df2.count() == expected
    cache.clear_session_state(spark)
    assert _n_persistent(spark) == 0


def test_scoped_release_isolates_owners(spark):
    """ADVICE r06: release() inside a scope frees only that scope's
    frames — a concurrent owner's tracked intermediates stay cached until
    its own boundary."""
    from novi_pdq_etl_project_prod_spark import cache

    outer = cache.track(spark.range(10).toDF("n"), eager=True)
    with cache.scope():
        inner = cache.track(spark.range(5).toDF("n"), eager=True)
        assert inner.storageLevel.useMemory
        assert cache.release() == 1  # frees inner only
        assert not inner.storageLevel.useMemory
        assert outer.storageLevel.useMemory, "scope released a foreign frame"
    assert outer.storageLevel.useMemory
    assert cache.release() == 1  # the shared pool still owns outer
    assert not outer.storageLevel.useMemory


def test_scope_exit_drains_unreleased_frames(spark):
    from novi_pdq_etl_project_prod_spark import cache

    with cache.scope():
        df = cache.track(spark.range(7).toDF("n"), eager=True)
        assert df.storageLevel.useMemory
    assert not df.storageLevel.useMemory
    assert cache.release() == 0


def test_exact_sink_releases_frames_when_commit_fails(
    spark, tmp_path, monkeypatch
):
    """A trigger of ``stream_incremental_exact_dups`` that raises inside
    ``commit_tables`` must leave none of the sink's frames persisted: a
    long-lived driver retrying a failing sink would otherwise strand
    one set of batch frames per attempt."""
    from novi_pdq_etl_project_prod_spark.streaming import events

    cache.clear_session_state(spark)
    assert _n_persistent(spark) == 0
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa")], "doc_id long, text string"
    ).coalesce(1).write.parquet(docs)
    held = []

    def failing_commit(tables, *args, **kwargs):
        for df in tables.values():
            df.count()
        held.append(_n_persistent(spark))
        raise RuntimeError("commit failed")

    monkeypatch.setattr(events, "commit_tables", failing_commit)
    stream = spark.readStream.schema("doc_id long, text string").parquet(docs)
    with pytest.raises(Exception, match="commit failed"):
        events.stream_incremental_exact_dups(
            stream, str(tmp_path / "wh"), "curated", str(tmp_path / "chk")
        )
    assert held and held[0] > 0, "the sink persisted nothing to release"
    assert _n_persistent(spark) == 0, "a failed trigger stranded frames"
