"""Fixture-drift armor (VERDICT r04 item 4).

Round 3 died because the driver's regenerated testdata changed one
column's parquet encoding. ``session.read_table`` is the single
assert-and-adapt boundary for every fixture; these tests synthesize the
historical encodings (INT64 TIMESTAMP(NANOS), TIMESTAMP_NTZ,
UTC-adjusted micros) plus plausible future drift (integer/float width
changes) from the real sf0.001 fixtures and assert catalog queries
return IDENTICAL output on the drifted copies.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from novi_pdq_etl_project_prod_spark import cache
from novi_pdq_etl_project_prod_spark.catalog import QUERIES
from novi_pdq_etl_project_prod_spark.session import read_table
from tests.conftest import SF_ORACLE

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: Queries exercised per drift dir — cheap ones covering every drifted
#: fixture family (events, lineitem+orders, documents, embeddings, dims).
PROBE_QUERIES = (
    "x4_event_windows",
    "t1_pricing_summary",
    "m3_token_stats",
    "m7_embedding_topk",
    "j1_star_join",
)


def _rewrite(src_dir: str, out_dir: str, transforms: dict) -> str:
    """Copy the sf dir, rewriting selected tables' arrow schemas.

    ``transforms`` maps table -> fn(pa.Table) -> pa.Table.
    """
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        src = os.path.join(src_dir, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if t in transforms:
            pq.write_table(transforms[t](pq.read_table(src)), dst,
                           version="2.6", store_schema=False)
        else:
            shutil.copyfile(src, dst)
    return out_dir


def _cast_col(tbl: pa.Table, col: str, typ: pa.DataType) -> pa.Table:
    i = tbl.schema.get_field_index(col)
    return tbl.set_column(i, col, tbl.column(col).cast(typ))


#: The drifted copies the encoding tests read: dir name -> ``_rewrite``
#: transforms.
DRIFTS = {
    "nanos": {"events": lambda t: _cast_col(t, "ts", pa.timestamp("ns"))},
    "utc": {
        "events": lambda t: _cast_col(t, "ts", pa.timestamp("us", tz="UTC")),
        "orders": lambda t: _cast_col(t, "o_orderdate", pa.timestamp("us", tz="UTC")),
        "lineitem": lambda t: _cast_col(t, "l_shipdate", pa.timestamp("us", tz="UTC")),
    },
    "widths": {
        "nation": lambda t: _cast_col(
            _cast_col(t, "n_nationkey", pa.int64()), "n_regionkey", pa.int64()
        ),
        "customer": lambda t: _cast_col(t, "c_nationkey", pa.int64()),
        "supplier": lambda t: _cast_col(t, "s_nationkey", pa.int64()),
        "part": lambda t: _cast_col(t, "p_size", pa.int64()),
        "lineitem": lambda t: _cast_col(t, "l_linenumber", pa.int64()),
        "documents": lambda t: _cast_col(t, "n_chars", pa.int32()),
        "embeddings": lambda t: _cast_col(
            _cast_col(t, "embedding", pa.list_(pa.float64())),
            "label", pa.int64(),
        ),
    },
    "broken": {"events": lambda t: t.drop_columns(["user_id"])},
}


def _rows(df):
    return sorted(
        tuple(str(v) for v in row) for row in df.collect()
    )


def _run_probes(spark, sf_dir):
    return {q: _rows(QUERIES[q](spark, sf_dir)) for q in PROBE_QUERIES}


@pytest.fixture(scope="module")
def baseline(spark):
    return _run_probes(spark, SF)


def test_int64_nanos_events_encoding(spark, tmp_path, baseline):
    """r01/r02-era encoding: events.ts as INT64 TIMESTAMP(NANOS)."""
    d = _rewrite(SF, str(tmp_path / "nanos"), DRIFTS["nanos"])
    assert read_table(spark, d, "events").schema["ts"].dataType.simpleString() == "timestamp"
    assert _run_probes(spark, d) == baseline


def test_utc_adjusted_micros_encoding(spark, tmp_path, baseline):
    """isAdjustedToUTC=true micros on every timestamp column (a plausible
    next driver generation; reads as TimestampType directly)."""
    d = _rewrite(SF, str(tmp_path / "utc"), DRIFTS["utc"])
    assert _run_probes(spark, d) == baseline


def test_numeric_width_drift(spark, tmp_path, baseline):
    """Value-preserving width drift: key/int columns widened to int64,
    embeddings stored as float64 (exact upcast of the float32 values),
    n_chars narrowed to int32. read_table must normalize all of it."""
    d = _rewrite(SF, str(tmp_path / "widths"), DRIFTS["widths"])
    emb = read_table(spark, d, "embeddings")
    assert emb.schema["embedding"].dataType.simpleString() == "array<float>"
    assert _run_probes(spark, d) == baseline


def test_missing_canonical_column_fails_loudly(spark, tmp_path):
    """A fixture missing a canonical column must raise one clear
    AssertionError naming the drift, not crash 142 queries downstream."""
    d = _rewrite(SF, str(tmp_path / "broken"), DRIFTS["broken"])
    for _ in range(2):  # the second read reuses the memoized schema
        with pytest.raises(AssertionError, match="user_id"):
            read_table(spark, d, "events")


def test_canonical_fixture_returns_raw_scan(spark):
    """Already-canonical fixtures must come back without a cast
    projection, keeping pushdown/pruning plans byte-identical."""
    df = read_table(spark, SF, "lineitem")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Project" not in plan, plan


def _scan_schema(df) -> T.StructType:
    """Schema of the Parquet scan under ``df``, before any drift cast."""
    leaf = df._jdf.queryExecution().analyzed().collectLeaves().head()
    return T.StructType.fromJson(json.loads(leaf.schema().json()))


def test_memoized_schema_equals_inference(spark, tmp_path):
    """A second read (a memo hit) scans with exactly the schema a fresh
    inference gives, nullability included: on the oracle fixtures and on
    every drifted copy (the broken copy's second read is checked by
    ``test_missing_canonical_column_fails_loudly``)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    dirs = [SF_ORACLE] + [
        _rewrite(SF, str(tmp_path / k), v) for k, v in DRIFTS.items() if k != "broken"
    ]
    for d in dirs:
        for t in TABLES:
            read_table(spark, d, t)
            hit = read_table(spark, d, t)
            inferred = spark.read.parquet(os.path.join(d, f"{t}.parquet")).schema
            assert _scan_schema(hit) == inferred, (d, t)


def test_rewritten_fixture_is_reinferred(spark, tmp_path):
    """Rewriting a fixture in place with a widened canonical column
    changes its fingerprint: the next read scans the new type and still
    casts it back to the canonical one."""
    src = pq.read_table(os.path.join(SF, "nation.parquet"))
    dst = str(tmp_path / "nation.parquet")
    pq.write_table(src, dst)
    first = read_table(spark, str(tmp_path), "nation")
    assert _scan_schema(first)["n_regionkey"].dataType == T.IntegerType()
    rows = sorted(first.collect())
    pq.write_table(_cast_col(src, "n_regionkey", pa.int64()), dst)
    second = read_table(spark, str(tmp_path), "nation")
    assert _scan_schema(second)["n_regionkey"].dataType == T.LongType()
    assert second.schema["n_regionkey"].dataType == T.IntegerType()
    assert sorted(second.collect()) == rows


def test_removed_fixture_fails_as_before(spark, tmp_path):
    """A fixture removed after a memoized read fails with Spark's own
    PATH_NOT_FOUND, not with a scan of the memoized schema."""
    dst = tmp_path / "nation.parquet"
    shutil.copyfile(os.path.join(SF, "nation.parquet"), dst)
    read_table(spark, str(tmp_path), "nation")
    dst.unlink()
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_table(spark, str(tmp_path), "nation")


STAR_QUERIES = (
    "a1_monthly_fact", "j1_star_join", "dq_rollup_recon",
    "t1_pricing_summary", "t2_shipping_priority",
)

#: Spark jobs one warm pass of the five star queries may run (19
#: measured on sf0.001 at SPARK_GRAFT_CPUS 2 and 4). A fixture read that
#: infers its schema again adds one job per read: 31.
WARM_STAR_PASS_JOBS = 19


def test_warm_star_pass_job_count(spark):
    def star_pass():
        for q in STAR_QUERIES:
            QUERIES[q](spark, SF).toPandas()
            cache.release()

    star_pass()
    sc = spark.sparkContext
    group = "test_warm_star_pass_job_count"
    sc.setJobGroup(group, group)
    try:
        star_pass()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= WARM_STAR_PASS_JOBS
