"""SparkSession factory with scale-honest defaults.

The reference launches Spark via ``spark-submit --master local[*]`` with stock
configs (reference ``dags/pdq_etl_dag.py:37-40``). This engine centralizes
session construction and turns on the configs that matter at 100 TB:

- AQE (runtime re-plan, partition coalescing, skew-join splitting). The
  reference manufactures skew with its ``operator_no = 0`` sentinel
  (reference ``spark_jobs/transform_operator.py:89``); AQE's skew-join
  handling is the first line of defense, salting (operators.dedup) the second.
- Dynamic partition overwrite: the reference's psycopg2 ``DELETE FROM t WHERE
  yyyymm = %s`` + append idempotency dance (reference
  ``spark_jobs/transform_operator.py:16-31``) becomes a single declarative
  ``mode("overwrite").partitionBy("yyyymm")`` write.
- Arrow for any pandas interchange (vectorized batches, not pickled rows).
- UTC session timezone so time extraction is deterministic across engines.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "novi_pdq_etl_project_prod_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from the environment / spark-submit;
    locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-optimize (coalesce) the partitioning of plans that
        # READ cached relations (optimization r14, guide §2.2/§2.4): off
        # by default only to keep cached output partitioning stable for
        # consumers that rely on it — nothing here does (partitioning
        # invariance is pytested catalog-wide), and without it every
        # subtree over a cached frame inherits the full
        # shuffle-partition fan-out however small the cached data is
        # (m53's final pass: five 64-task stages over a 3.6k-row edge
        # cache → with AQE, single-digit tasks; coalescing is by
        # advisory bytes, so TB-scale cached relations keep their width
        # on a real cluster)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # fixture-scale parallelism: single small parquet files would give
        # 1-partition scans (whole query on one core). 8 MB split size
        # spreads even sf0.1 files across the local cores; a real
        # cluster with TB-scale inputs passes cluster_conf() (or its own
        # values) as extra_conf, which overrides these defaults.
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.ui.enabled", "false")
        # the compiled-class cache (LRU, default 100 entries) must hold a
        # whole pipeline month: at 100, each warm month of
        # run_monthly_pipeline compiled 143-144 classes (the LRU missed
        # on every class of every month); at 1000 it compiles 21
        # (CodegenMetrics compile count, perfbench pdq_monthly feed)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # no Python call-site capture: with it on (the default), every
        # Column/functions call also runs getActiveSession, a conf read
        # and PySparkCurrentOrigin.set/clear over py4j. Turning it off
        # alone took one warm fixture month of run_monthly_pipeline from
        # 5,935 py4j calls to 2,410, and a perfbench star_queries pass
        # from 1,610 to 570. What is
        # given up: the Python file and line in the DataFrame query
        # context of a runtime error; the SQL-text context stays. It is
        # set here, at session build, because PySpark reads the flag
        # once per process (pyspark.errors.utils.is_debugging_enabled
        # caches it) and ignores a later spark.conf.set.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", "8g")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Canonical fixture schemas (TESTDATA.md): the column names and Spark
#: types every catalog query and DuckDB oracle assumes. ``read_table``
#: asserts the names exist and normalizes drifted types back to these;
#: extra columns pass through untouched. This generalizes the r03 lesson
#: (the driver's regenerated events fixture switched ``ts`` from
#: INT64-nanos to TIMESTAMP_NTZ and crashed six queries) to every
#: fixture: a future regeneration that changes integer widths, float
#: widths, or timestamp encodings is absorbed at the read boundary
#: instead of crashing 142 queries.
CANONICAL_FIXTURES: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint", "c_name": "string", "c_nationkey": "int",
        "c_acctbal": "double", "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint", "s_name": "string", "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint", "p_name": "string", "p_brand": "string",
        "p_type": "string", "p_size": "int", "p_retailprice": "double",
    },
    # o_orderdate / l_shipdate are canonically TIMESTAMP_NTZ: Spark 4
    # infers NTZ for non-UTC-adjusted micros, every query and oracle has
    # been certified against that, so drifted encodings normalize INTO
    # ntz (a value-preserving relabel under the forced-UTC session).
    # events.ts is canonically session-tz TimestampType — the
    # read_events contract since r01.
    "orders": {
        "o_orderkey": "bigint", "o_custkey": "bigint",
        "o_orderstatus": "string", "o_totalprice": "double",
        "o_orderdate": "timestamp_ntz", "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint", "l_partkey": "bigint", "l_suppkey": "bigint",
        "l_linenumber": "int", "l_quantity": "double",
        "l_extendedprice": "double", "l_discount": "double",
        "l_tax": "double", "l_returnflag": "string",
        "l_linestatus": "string", "l_shipdate": "timestamp_ntz",
    },
    "events": {
        "event_id": "bigint", "ts": "timestamp", "user_id": "bigint",
        "event_type": "string", "value": "double", "props": "string",
    },
    "documents": {
        "doc_id": "bigint", "text": "string", "lang": "string",
        "source": "string", "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint", "embedding": "array<float>", "label": "int",
    },
}


def _footer_type(path: str, column: str) -> str:
    """Parquet-footer (logical) type string of ``column`` — the ground
    truth for disambiguating integer-encoded timestamps, read driver-side
    from one file footer (no data pages)."""
    import glob as _glob

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            raise FileNotFoundError(f"no parquet files under {path}")
        path = files[0]
    schema = pq.read_schema(path)
    return str(schema.field(column).type)


#: ``path -> (fingerprint, StructType)``: the Parquet schema Spark
#: inferred for each fixture path, and the fingerprint of the files it
#: was inferred from. One entry per path; a new fingerprint replaces it.
#: No lock: each entry is stored whole and is right for its own
#: fingerprint, so a lost race costs at most one more inference.
_INFERRED: dict[str, tuple[tuple, StructType]] = {}


def _fingerprint(path: str) -> tuple | None:
    """``(size, st_mtime_ns)`` of a file; for a directory, ``(relative
    path, size, st_mtime_ns)`` of every file under it, ``_``/``.``-prefixed
    ones included (Spark reads ``_common_metadata`` to infer). None when
    the path cannot be stat'ed locally (missing, or a non-local URI)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_size, st.st_mtime_ns)
        files = []
        for root, dirs, names in os.walk(path):
            dirs.sort()
            for n in sorted(names):
                f = os.path.join(root, n)
                fst = os.stat(f)
                files.append((os.path.relpath(f, path), fst.st_size, fst.st_mtime_ns))
        return tuple(files)
    except OSError:
        return None


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read a driver fixture, normalized to its canonical schema.

    Fixture encodings drift across driver testdata generations (r03:
    ``events.ts`` INT64-nanos → TIMESTAMP_NTZ). This is the single
    assert-and-adapt boundary for ALL fixtures:

    - every canonical column must exist (missing ⇒ loud AssertionError
      naming the drift, not 142 downstream crashes);
    - integer-encoded timestamps are decoded by parquet-footer unit
      (nanos via integer division — epoch-nanos exceed double's 2^53
      mantissa, so ``/ 1000`` through double arithmetic drifts ±1µs);
    - TIMESTAMP_NTZ relabels to session-tz timestamp (value-preserving
      under the engine's forced UTC);
    - numeric width drift (int32↔int64, float32↔float64, decimal)
      casts back to canonical;
    - already-canonical tables return the raw scan unchanged, keeping
      plans free of cast projections (pushdown/pruning intact).

    The inferred Parquet schema is memoized per path, keyed by the
    fingerprint of the files under it (``_fingerprint``: size and mtime
    of each file). A read with the same fingerprint passes that schema
    to ``spark.read.schema(...)`` and starts no inference job; any change
    to any file under the path re-infers. This is exact: without
    ``mergeSchema`` Spark infers from one footer of the listed files, the
    files are still listed and read fresh on every call, and
    ``nanosAsLong`` is set before every scan, so a memoized schema was
    inferred under the same conf. A path that cannot be stat'ed locally
    is read as before and not memoized, so its error is unchanged.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    # fingerprint BEFORE the scan: a file replaced mid-read leaves an entry
    # under the old fingerprint, which the next read misses
    key = _fingerprint(path)
    memo = _INFERRED.get(path)
    if memo is not None and memo[0] == key:  # stored keys are never None
        df = spark.read.schema(memo[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _INFERRED[path] = (key, df.schema)
    canon = CANONICAL_FIXTURES.get(name)
    if canon is None:
        return df
    missing = [c for c in canon if c not in df.columns]
    assert not missing, (
        f"fixture drift: {name} at {sf_dir} lacks canonical columns "
        f"{missing}; found {df.columns}"
    )
    exprs, changed = [], False
    for field in df.schema.fields:
        want = canon.get(field.name)
        have = field.dataType.simpleString()
        if want is None or have == want:
            exprs.append(F.col(field.name))
            continue
        changed = True
        col = F.col(field.name)
        if want in ("timestamp", "timestamp_ntz") and isinstance(
            field.dataType, T.LongType
        ):
            unit = _footer_type(path, field.name)
            if unit.startswith("timestamp[ns"):
                col = F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
            elif unit.startswith("timestamp[us"):
                col = F.timestamp_micros(col)
            elif unit.startswith("timestamp[ms"):
                col = F.timestamp_millis(col)
            else:
                raise AssertionError(
                    f"fixture drift: {name}.{field.name} is INT64 with "
                    f"footer type {unit!r} — cannot infer a timestamp unit"
                )
            if want == "timestamp_ntz":
                col = col.cast(want)
        else:
            # TIMESTAMP_NTZ→timestamp relabel (UTC session), numeric
            # width/decimal drift, array element-width drift: one cast
            col = col.cast(want)
        exprs.append(col.alias(field.name))
    return df.select(*exprs) if changed else df


def read_events(spark: SparkSession, sf_dir: str):
    """Read the ``events`` fixture, normalizing ``ts`` to TimestampType
    (kept as the historically-named entry point; delegates to the general
    ``read_table`` assert-and-adapt boundary)."""
    return read_table(spark, sf_dir, "events")


def cluster_conf(
    executors: int,
    cores_per_executor: int = 4,
    executor_memory_gb: int = 16,
    data_tb: float = 100.0,
    target_partition_mb: int = 192,
) -> dict[str, str]:
    """Spark conf for running this engine on a REAL cluster, derived
    from the cluster shape and data volume instead of copy-pasted
    folklore. Returns a dict for ``get_spark(extra_conf=...)`` or
    ``spark-submit --conf`` lines.

    The arithmetic, and why each knob matters at 100 TB:

    - ``shuffle.partitions``: sized so a full-data shuffle lands
      ~``target_partition_mb`` per task (spill threshold well under the
      per-core memory share), floored at 2 tasks per core so a busy
      stage keeps every core fed even with skew-induced stragglers.
      AQE coalesces small stages DOWN from this ceiling — undersizing
      is the unrecoverable direction (spill, OOM), oversizing is cheap.
    - ``files.maxPartitionBytes`` = ``target_partition_mb``: scan tasks
      match shuffle tasks so a scan→shuffle stage doesn't re-split.
    - ``adaptive.advisoryPartitionSizeInBytes``: what AQE coalesces
      toward; aligned with the target so post-AQE tasks stay uniform.
    - ``autoBroadcastJoinThreshold``: dims broadcast while the fact
      streams — bounded by a fraction of per-core memory, capped at
      256 MB (serialized relation + deserialized hash map both live on
      every executor).
    - ``shuffle.service/compress`` etc. are deployment-specific and
      deliberately NOT set here.

    Doctest-style sanity (1000 executors × 4 cores, 100 TB):
    ~550k shuffle tasks of ~192 MB — each core processes ~137 tasks,
    amortizing scheduler overhead (~ms) to <1% of task time.
    """
    if executors <= 0 or cores_per_executor <= 0:
        raise ValueError("cluster shape must be positive")
    cores = executors * cores_per_executor
    data_bytes = int(data_tb * 1024**4)
    by_size = data_bytes // (target_partition_mb * 1024**2)
    by_cores = cores * 2
    shuffle_partitions = max(by_size, by_cores)
    per_core_mb = (executor_memory_gb * 1024) // cores_per_executor
    broadcast_mb = min(256, max(32, per_core_mb // 8))
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.files.maxPartitionBytes": str(target_partition_mb * 1024**2),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            target_partition_mb * 1024**2
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(broadcast_mb * 1024**2),
    }
