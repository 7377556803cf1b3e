"""Partitioned-Parquet medallion layers with idempotent month loads
(SURVEY.md §2.1 S3, S5-S8; §1.4 mapping table).

The reference's three Postgres schemas (raw/staging/curated) become three
Parquet directory trees partitioned by the ``yyyymm`` month key. That single
layout decision replaces three reference mechanisms at once:

- the b-tree month index (reference ``sql/schema.sql:17,25``) → partition
  directories (partition pruning is automatic);
- the hand-written JDBC pushdown subquery ``(SELECT ... WHERE yyyymm = {y}) x``
  (reference ``spark_jobs/transform_operator.py:41-52``) → a plain
  ``.where(col("yyyymm") == y)`` that Catalyst prunes to one partition;
- the psycopg2 ``DELETE FROM t WHERE yyyymm = %s`` + append idempotency dance
  (reference ``spark_jobs/transform_operator.py:16-31``, done outside Spark
  because "Spark JDBC doesn't support deletes") → dynamic partition overwrite.

At 100 TB: one partition per month keeps rewrite units bounded; within a
partition, files split across executors. For very large months add a
secondary bucket column (e.g. hash of the entity key) — ``write_month_
idempotent`` accepts extra partition columns for that.
"""

from __future__ import annotations

import enum
import os
import random
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Upper bound on commit_tables' internal manifest-CAS retries: enough to
#: absorb realistic co-located sink contention (retries cost ~1ms each —
#: only the tiny manifest doc is rewritten), small enough that a writer
#: stuck behind a pathological committer storm fails loudly instead of
#: spinning forever.
_CAS_MAX_RETRIES = 100


class MedallionLayer(str, enum.Enum):
    RAW = "raw"
    STAGING = "staging"
    CURATED = "curated"


#: Pointer file naming the live snapshot directory inside a table dir.
#: Starts with ``_`` so Spark's parquet reader ignores it (like _SUCCESS).
CURRENT_POINTER = "_CURRENT"
_SNAPSHOT_PREFIX = "_snap_v"
#: Lock file serializing pointer commits across concurrent writer
#: processes (``fcntl.flock`` — released automatically if a writer dies).
COMMIT_LOCK = "_COMMIT_LOCK"

#: Snapshot-GC retention (consulted at call time so tests/operators can
#: override): besides the live snapshot, keep the newest
#: ``GC_RETAIN_PREVIOUS`` other snapshots (a lazy reader that resolved
#: ``_CURRENT`` just before a commit still finds its files — Spark scans
#: are lazy, the resolve is eager), and never delete ANY entry younger
#: than ``GC_GRACE_SECONDS`` (protects a concurrent writer's in-progress
#: snapshot dir, which is not yet referenced by the pointer). Readers
#: slower than retain+grace horizons can still lose files mid-query —
#: the documented MVCC horizon of a pointer-file table format without
#: reader registration; pin with ``GC_RETAIN_PREVIOUS`` for long reads.
GC_RETAIN_PREVIOUS = 1
GC_GRACE_SECONDS = 120.0


class SnapshotConflictError(RuntimeError):
    """Raised by a compare-and-swap commit whose base snapshot is no
    longer live (another writer committed in between) — the file-layer
    analogue of a serialization failure on the reference's Postgres
    ``ON CONFLICT`` upsert path."""


def table_path(root: str, layer: MedallionLayer | str, table: str) -> str:
    layer_name = layer.value if isinstance(layer, MedallionLayer) else layer
    return os.path.join(root, layer_name, table)


def resolve_table_path(path: str) -> str:
    """Resolve a table directory to its live data directory.

    Snapshot-committed tables (``overwrite_snapshot`` / ``compact_table``)
    hold versioned snapshot subdirs plus a ``_CURRENT`` pointer file naming
    the live one; readers resolve through the pointer. Tables without a
    pointer (month-partitioned in-place layout) resolve to themselves, so
    every reader can call this unconditionally.
    """
    ptr = os.path.join(path, CURRENT_POINTER)
    if os.path.isfile(ptr):
        with open(ptr, encoding="utf-8") as fh:
            name = fh.read().strip()
        return os.path.join(path, name)
    return path


def _live_table_dirs(
    root: str, layer: "MedallionLayer | str", table: str
) -> list[str]:
    """Live data directories for a table, SEGMENT-AWARE (ADVICE r10).

    For append-shaped tables the per-table ``_CURRENT`` pointer names
    only the NEWEST segment, so a reader that resolves through the
    pointer alone silently returns one increment instead of the table.
    This helper consults the live manifest for SEGMENT LISTS only: a
    multi-segment entry resolves to the union of its segment dirs;
    everything else (whole-snapshot manifest entries, single-segment
    lists, non-manifest tables) resolves through the pointer. The
    pointer path is deliberately kept for non-list entries (round-11
    review): a table that was manifest-committed once but later
    updated through the per-table pointer (``overwrite_snapshot`` /
    a dim-upsert sink) has a FRESHER pointer than manifest entry —
    roll-forward only ever moves pointers forward — and manifest-first
    reads would pin such tables to the stale manifest version forever.
    Multi-segment tables have no correct pointer read at all (the
    pointer names the newest increment), so the manifest union wins
    there. The direct reader (:func:`read_month`) routes through it so
    it always sees the full table.
    """
    path = table_path(root, layer, table)
    entry = read_manifest(root, layer).get(table)
    segs = _segments(entry) if entry is not None else []
    if len(segs) > 1:
        return [os.path.join(path, seg) for seg in segs]
    return [resolve_table_path(path)]


def current_snapshot(path: str) -> str | None:
    """Name of the live snapshot dir (None before the first commit) —
    the table's version token for compare-and-swap writes: read it
    before a read-modify-write, pass it as ``expected_base``."""
    ptr = os.path.join(path, CURRENT_POINTER)
    if os.path.isfile(ptr):
        with open(ptr, encoding="utf-8") as fh:
            return fh.read().strip()
    return None


def _next_snapshot_name(path: str) -> str:
    """Monotonic snapshot dir name (``_snap_v00000001`` ...). The ``_``
    prefix keeps stray direct ``spark.read.parquet(table_dir)`` calls from
    double-reading old+new snapshots: Spark skips underscore paths."""
    version = 0
    if os.path.isdir(path):
        for entry in os.listdir(path):
            if entry.startswith(_SNAPSHOT_PREFIX):
                try:
                    version = max(version, int(entry[len(_SNAPSHOT_PREFIX):]))
                except ValueError:
                    continue
    return f"{_SNAPSHOT_PREFIX}{version + 1:08d}"


def _reserve_snapshot_dir(path: str) -> str:
    """Atomically claim the next snapshot version with ``os.mkdir``
    (EEXIST ⇒ another writer took it; rescan and take the next). Two
    concurrent writers therefore never write into the same snapshot
    dir — the first prerequisite of multi-writer safety."""
    while True:
        snap = _next_snapshot_name(path)
        try:
            os.mkdir(os.path.join(path, snap))
            return snap
        except FileExistsError:
            continue


def _commit_pointer(
    path: str, snapshot_name: str, expected_base: str | None = ...,
) -> None:
    """Atomically flip ``_CURRENT`` to ``snapshot_name``.

    Write-to-temp + fsync + ``os.replace`` + dir fsync: POSIX rename is
    atomic, so a reader (or a crash) at any instant sees either the old
    complete snapshot or the new complete snapshot — never a missing or
    torn table. This is the single commit point of the snapshot protocol;
    everything before it is invisible, everything after it is garbage
    collection.

    The flip runs under an ``flock`` on ``_COMMIT_LOCK`` (held only for
    the pointer swap, released automatically if the process dies), which
    serializes concurrent committers. With ``expected_base`` set (a name
    from ``current_snapshot``, or None for "table must not exist yet")
    the commit is compare-and-swap: if another writer moved the pointer
    since the caller read it, ``SnapshotConflictError`` is raised and
    the pointer is untouched — lost-update protection for
    read-modify-write upserts. Without it, last-writer-wins (the correct
    semantics for blind truncate+load overwrites).
    """
    import fcntl

    lock_fd = os.open(
        os.path.join(path, COMMIT_LOCK), os.O_CREAT | os.O_RDWR, 0o644
    )
    try:
        fcntl.flock(lock_fd, fcntl.LOCK_EX)
        if expected_base is not ... and current_snapshot(path) != expected_base:
            raise SnapshotConflictError(
                f"{path}: live snapshot is {current_snapshot(path)!r}, "
                f"writer expected {expected_base!r}"
            )
        ptr = os.path.join(path, CURRENT_POINTER)
        tmp = ptr + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(snapshot_name)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, ptr)
        dfd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    finally:
        os.close(lock_fd)  # releases the flock


def vacuum(
    root: str,
    layer: MedallionLayer | str,
    table: str | None = None,
    retain: int | None = None,
    grace_seconds: float | None = None,
) -> dict[str, int]:
    """Explicit retention enforcement — the user-facing VACUUM.

    GC normally runs incidentally at commit time; ``vacuum`` runs it on
    demand across a whole layer (or one ``table``), including the
    layer's ``_TXLOG`` manifest directory, and returns ``{table:
    n_entries_removed}``. ``retain`` overrides ``GC_RETAIN_PREVIOUS``
    for this call (applied uniformly to tables AND manifests, so a
    retained historical manifest can never reference a vacuumed table
    snapshot — the same shared-horizon invariant
    ``read_manifest_tables_as_of`` documents); ``grace_seconds``
    overrides ``GC_GRACE_SECONDS`` (keep the default unless no
    concurrent writer can exist — in-progress reserved snapshot dirs
    are invisible to pointers and survive only through the grace
    window). Time-travel readers keep exactly the vacuumed horizon:
    versions beyond it raise ``SnapshotNotFoundError``.
    """
    layer_name = layer.value if isinstance(layer, MedallionLayer) else layer
    layer_dir = os.path.join(root, layer_name)
    if not os.path.isdir(layer_dir):
        return {}
    if table is not None:
        targets = [table]
    else:
        # manifest dir FIRST: its GC shrinks the pin horizon (snapshots
        # referenced by retained manifests are never collected), so
        # vacuuming tables before manifests would keep one extra round
        # of segments alive until the next vacuum.
        targets = sorted(
            (
                e
                for e in os.listdir(layer_dir)
                if os.path.isdir(os.path.join(layer_dir, e))
            ),
            key=lambda e: (e != TX_MANIFEST_DIR, e),
        )
    removed: dict[str, int] = {}
    for name in targets:
        path = os.path.join(layer_dir, name)
        has_pointer = os.path.isfile(os.path.join(path, CURRENT_POINTER))
        if not has_pointer:
            continue  # in-place month-partitioned layout: nothing versioned
        removed[name] = _gc_stale_snapshots(
            path, retain=retain, grace_seconds=grace_seconds
        )
    return removed


def _segments(manifest_value) -> list[str]:
    """Normalize a manifest table entry to its snapshot-dir list: a plain
    string (whole-table snapshot, the original format) is one segment; a
    list (append-shaped table, round 10) is read in commit order."""
    if isinstance(manifest_value, str):
        return [manifest_value]
    if isinstance(manifest_value, list):
        return [v for v in manifest_value if isinstance(v, str)]
    return []


def _manifest_pinned_snapshots(path: str) -> set[str]:
    """Snapshot names of table ``basename(path)`` referenced by ANY
    retained manifest of its layer — the GC pin set. Returns empty for
    the manifest dir itself and for layers without a manifest. Reads a
    handful of tiny JSON docs; negligible next to the directory scan GC
    already does."""
    import json

    table = os.path.basename(path)
    if table == TX_MANIFEST_DIR:
        return set()
    mpath = os.path.join(os.path.dirname(path), TX_MANIFEST_DIR)
    if not os.path.isdir(mpath):
        return set()
    pinned: set[str] = set()
    for entry in os.listdir(mpath):
        if not entry.startswith(_SNAPSHOT_PREFIX):
            continue
        doc_path = os.path.join(mpath, entry, "manifest.json")
        try:
            with open(doc_path, encoding="utf-8") as fh:
                doc = json.load(fh)
        except (OSError, ValueError):
            continue  # reserved-but-unwritten manifest dir, or mid-write
        pinned.update(_segments(doc.get(table)))
    return pinned


def _gc_stale_snapshots(
    path: str,
    retain: int | None = None,
    grace_seconds: float | None = None,
) -> int:
    """Best-effort cleanup of unreferenced snapshots and legacy in-place
    files. Runs strictly after the pointer commit, so a crash here leaves
    only unreferenced garbage (re-collected by a later write), never a
    broken table.

    Retention (ADVICE r04): keeps the live snapshot, the newest
    ``GC_RETAIN_PREVIOUS`` other snapshots (concurrent readers that
    resolved the pointer pre-commit scan lazily — deleting the previous
    snapshot immediately would yield FileNotFoundException mid-query),
    and any entry younger than ``GC_GRACE_SECONDS`` (a concurrent
    writer's reserved-but-uncommitted snapshot dir is invisible to the
    pointer but must survive until its own commit). ``retain`` /
    ``grace_seconds`` override the module defaults for one call
    (:func:`vacuum`). Returns the number of entries removed.

    Manifest pinning (round 10): snapshots referenced by any RETAINED
    manifest of the owning layer are never collected, regardless of age
    or ``retain``. Before segmented (append-shaped) tables this held by
    construction — every manifest commit made one new snapshot per
    table, so newest-N snapshots ≈ newest-N manifests; a segment list
    breaks that (a segment committed hundreds of batches ago is still
    LIVE data), so the invariant is now enforced explicitly rather than
    assumed."""
    import shutil

    keep_n = GC_RETAIN_PREVIOUS if retain is None else retain
    grace = GC_GRACE_SECONDS if grace_seconds is None else grace_seconds
    live = os.path.basename(resolve_table_path(path))
    keep = {live, CURRENT_POINTER, COMMIT_LOCK}
    keep.update(_manifest_pinned_snapshots(path))
    snaps = sorted(
        (e for e in os.listdir(path)
         if e.startswith(_SNAPSHOT_PREFIX) and e != live),
        reverse=True,
    )
    keep.update(snaps[: max(0, int(keep_n))])
    cutoff = time.time() - grace
    n_removed = 0
    for entry in os.listdir(path):
        if entry in keep:
            continue
        target = os.path.join(path, entry)
        try:
            if os.path.getmtime(target) > cutoff:
                continue  # within grace: may be an in-progress writer
            if os.path.isdir(target):
                shutil.rmtree(target)
            else:
                os.remove(target)
            n_removed += 1
        except OSError:
            pass  # next writer retries; readers never see this dir anyway
    return n_removed


def _commit_snapshot_write(
    df_writer, path: str, expected_base: str | None = ...,
) -> str:
    """Run ``df_writer(snapshot_dir)`` into a freshly reserved versioned
    dir, then atomically commit it as the table's live snapshot (CAS if
    ``expected_base`` given — on conflict the orphan dir is removed and
    ``SnapshotConflictError`` propagates). Returns the committed data
    directory."""
    os.makedirs(path, exist_ok=True)
    snap = _reserve_snapshot_dir(path)
    try:
        df_writer(os.path.join(path, snap))
        _commit_pointer(path, snap, expected_base)
    except SnapshotConflictError:
        import shutil

        shutil.rmtree(os.path.join(path, snap), ignore_errors=True)
        raise
    _gc_stale_snapshots(path)
    return os.path.join(path, snap)


def write_month_idempotent(
    df: DataFrame,
    root: str,
    layer: MedallionLayer | str,
    table: str,
    partition_cols: tuple[str, ...] = ("yyyymm",),
) -> str:
    """Overwrite exactly the month partitions present in ``df`` (S5/S6/S7).

    Requires ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set by
    ``session.get_spark``): partitions not present in ``df`` are untouched,
    so re-running a month is idempotent — the declarative replacement for
    the reference's delete-then-append.
    """
    path = table_path(root, layer, table)
    (
        df.write.mode("overwrite")
        .partitionBy(*partition_cols)
        # resolve: composes with snapshot-committed tables (a compacted
        # month table keeps receiving in-place month overwrites)
        .parquet(resolve_table_path(path))
    )
    return path


def read_month(
    spark: SparkSession,
    root: str,
    layer: MedallionLayer | str,
    table: str,
    yyyymm: int | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """Partition-pruned month-slice read (S3).

    The ``where`` on the partition column compiles to partition pruning —
    verify with ``.explain()``: the scan's ``PartitionFilters`` carries the
    predicate and only one directory is listed.

    Segment-aware (ADVICE r10): append-shaped tables read as the union
    of their manifest segments — the per-table pointer alone would
    return only the newest increment.

    ``schema``: the schema the caller knows the table was written with
    (e.g. the ``.schema`` of the DataFrame it just wrote). Given, the
    read skips Parquet schema inference — one footer-reading Spark job
    per read — and the partition columns take their types from it.

    Without it the read is schema-evolution-safe: ``mergeSchema``
    reconciles every file's footer (every month partition, every
    segment) into the union schema, so months written before a column
    existed surface it as NULL instead of failing or dropping it — the
    month-at-a-time load pattern (one spark-submit per month, schema
    drifting across years) makes this the right default for historical
    reads. It costs one footer read per file at planning time, no data
    pass; partition pruning still applies on top.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*_live_table_dirs(root, layer, table))
    if yyyymm is not None:
        df = df.where(F.col("yyyymm") == F.lit(int(yyyymm)))
    return df


def compact_table(
    spark: SparkSession,
    root: str,
    layer: MedallionLayer | str,
    table: str,
    target_file_mb: int = 128,
    partition_cols: tuple[str, ...] = ("yyyymm",),
) -> int:
    """Small-file compaction — the lakehouse maintenance operator.

    Month-at-a-time incremental loads accrete one-file-per-write; at
    100 TB the scan-planning and open() overhead of millions of tiny
    files dominates query time. Rewrites EACH partition into its own
    ceil(partition_bytes / target_file_mb) files — sizing is
    per-partition, so a fat month gets many files while a thin month
    gets one (a single global repartition on the partition columns
    would collapse every month into exactly one task and one file,
    ignoring the target entirely). Returns the file count after.

    Uses on-disk byte size as the sizing signal (cheap, no data scan):
    the per-partition file counts join in as a broadcast plan and a
    salt column spreads each partition's rows across that many tasks.

    The swap is the snapshot-pointer commit protocol (``_CURRENT`` file,
    fsync'd atomic rename — see ``_commit_pointer``): the compacted copy
    is written to a fresh versioned snapshot dir, the pointer flips
    atomically, then stale snapshots are garbage-collected. A crash at
    ANY instant leaves readers on a complete snapshot — the file-level
    analogue of the transaction-log commit a Delta/Iceberg table would
    give, and of the reference's transactional ``ON CONFLICT`` upsert
    (reference ``spark_jobs/model_curated.py:72-101``).
    """
    import math

    path = table_path(root, layer, table)
    data_dir = resolve_table_path(path)
    # leaf partition dirs -> parsed partition values + byte sizes.
    # Prune underscore/dot entries exactly like Spark's file discovery
    # does — otherwise an orphaned snapshot dir (crash-before-commit
    # garbage) would double-count a partition and duplicate its rows
    # through the sizing-plan join.
    plan_rows: list[dict] = []
    for dirpath, dirs, files in os.walk(data_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        pbytes = sum(
            os.path.getsize(os.path.join(dirpath, f))
            for f in files
            if f.endswith(".parquet")
        )
        if not pbytes:
            continue
        values: dict[str, str] = {}
        for seg in os.path.relpath(dirpath, data_dir).split(os.sep):
            if "=" in seg:
                k, _, v = seg.partition("=")
                values[k] = v
        row = {f"__pv_{c}": values.get(c) for c in partition_cols}
        row["__n_files"] = max(
            1, math.ceil(pbytes / (target_file_mb * 1024 * 1024))
        )
        plan_rows.append(row)
    df = spark.read.parquet(data_dir)
    if not plan_rows:
        return 0
    plan_schema = (
        ", ".join(f"`__pv_{c}` string" for c in partition_cols)
        + ", `__n_files` int"
    )
    plan = spark.createDataFrame(plan_rows, plan_schema)
    cond = [
        df[c].cast("string").eqNullSafe(plan[f"__pv_{c}"]) for c in partition_cols
    ]
    # salt ∈ [0, n_files) per partition → that many shuffle groups, hence
    # that many output files, per partition directory
    out = (
        df.join(F.broadcast(plan), cond, "left")
        .withColumn(
            "__salt",
            F.floor(
                F.rand(42) * F.coalesce(F.col("__n_files"), F.lit(1))
            ).cast("int"),
        )
        .repartition(*[F.col(c) for c in partition_cols], F.col("__salt"))
        .drop("__salt", "__n_files", *[f"__pv_{c}" for c in partition_cols])
    )
    live = _commit_snapshot_write(
        lambda snap_dir: (
            out.write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(snap_dir)
        ),
        path,
    )
    return sum(
        1
        for _dp, _dn, fs in os.walk(live)
        for f in fs
        if f.endswith(".parquet")
    )


def overwrite_snapshot(
    df: DataFrame,
    root: str,
    layer: MedallionLayer | str,
    table: str,
    expected_base: str | None = ...,
) -> str:
    """Full-snapshot overwrite — used for dimension tables (S8 truncate+load
    analogue; the upsert itself is operators.modeling.upsert_dim).

    Committed via the ``_CURRENT`` pointer protocol: the new snapshot is
    fully written to a versioned dir (reserved atomically, so concurrent
    writers never collide on a directory) before the atomic pointer
    flip; crashes at any instant leave readers on a complete table, and
    readers that resolved the pointer just before a flip keep their
    files for the GC retention horizon (``GC_RETAIN_PREVIOUS`` /
    ``GC_GRACE_SECONDS``). Because the old snapshot's files survive the
    commit, ``df`` may lazily READ the table being overwritten
    (read-modify-write upsert) with no checkpoint/materialization step.

    Concurrent writers: by default last-committer-wins (correct for
    blind truncate+load). For read-modify-write, capture
    ``current_snapshot(table_path(...))`` before building ``df`` and
    pass it as ``expected_base`` — the commit then fails with
    ``SnapshotConflictError`` instead of silently losing the other
    writer's update (the file-engine equivalent of the reference's
    transactional ``ON CONFLICT`` upsert, reference
    ``spark_jobs/model_curated.py:72-101``).
    """
    path = table_path(root, layer, table)
    _commit_snapshot_write(
        lambda snap_dir: df.write.mode("overwrite").parquet(snap_dir),
        path,
        expected_base,
    )
    return path


def cluster_write(
    df: DataFrame,
    root: str,
    layer: MedallionLayer | str,
    table: str,
    cluster_cols: tuple[str, ...],
    partition_cols: tuple[str, ...] = (),
    files_per_partition: int = 8,
) -> str:
    """Clustered (sorted) write — the data-skipping layout operator.

    ``repartitionByRange`` + ``sortWithinPartitions`` on the cluster
    keys gives each output file a narrow, non-overlapping min/max range
    per key, so Parquet row-group statistics answer selective predicates
    without reading data pages (Spark's analogue of Delta OPTIMIZE
    ZORDER for the single-key-prefix case). At 100 TB this is the
    difference between a key-range lookup scanning one file and
    scanning the whole table: partition pruning handles the coarse
    (e.g. month) dimension, clustering handles the fine one (e.g.
    entity id) inside each partition.

    Range partitioning samples the key distribution, so skewed keys get
    proportionate file counts (no manual salting for layout).
    """
    path = table_path(root, layer, table)
    cluster = [F.col(c) for c in cluster_cols]
    out = df.repartitionByRange(files_per_partition, *cluster).sortWithinPartitions(
        *cluster
    )
    writer = out.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)
    return path


def observe_rows(
    df: DataFrame, measures: dict[str, "F.Column"] | None = None
) -> tuple[DataFrame, Observation]:
    """Attach a row count (``n_rows``) plus any caller ``measures`` to
    ``df`` as observed metrics; returns ``(observed_df, observation)``.

    ``df.observe`` computes the metrics inside whatever job executes the
    returned DataFrame — typically its write — so the count costs no
    extra job and no second scan: at 100 TB a separate post-write
    COUNT/SUM pass is a second full read of the table. Read the metrics
    with ``observation.get`` after that action has run (it blocks until
    then); a write of zero rows observes ``n_rows == 0``. Run the
    observed DataFrame exactly once."""
    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for name, expr in (measures or {}).items():
        metrics.append(expr.alias(name))
    return df.observe(obs, *metrics), obs


# ---------------------------------------------------------------------------
# Cross-table atomic commit (VERDICT r05 item 8)
# ---------------------------------------------------------------------------

#: Directory (inside a layer) holding the transaction manifest — itself a
#: snapshot-committed "table" whose snapshots are one-file JSON manifests
#: naming a consistent set of per-table snapshot versions.
TX_MANIFEST_DIR = "_TXLOG"


def _manifest_path(root: str, layer: MedallionLayer | str) -> str:
    layer_name = layer.value if isinstance(layer, MedallionLayer) else layer
    return os.path.join(root, layer_name, TX_MANIFEST_DIR)


#: Reserved manifest key carrying commit metadata (e.g. a streaming
#: sink's last-applied batch id) — never a table name. Readers that
#: iterate manifest tables must skip it.
MANIFEST_META_KEY = "_meta"


def commit_tables(
    dfs: dict[str, DataFrame],
    root: str,
    layer: MedallionLayer | str,
    expected_base: str | None = ...,
    meta: dict | None = None,
    drop_tables: tuple[str, ...] = (),
    append_tables: tuple[str, ...] = (),
    rowcount_deltas: dict[str, int] | None = None,
    rowcount_absolute: dict[str, int] | None = None,
) -> dict[str, str]:
    """All-or-nothing publish of several tables — a star-schema's fact and
    dims move together, the way the reference's per-run Postgres
    transaction block effectively published them.

    Protocol (one extra level over the per-table ``_CURRENT`` CAS):

    1. every table's data is written into a freshly RESERVED snapshot dir
       (``_reserve_snapshot_dir``) with its per-table pointer untouched —
       staged data is invisible to all readers;
    2. a manifest snapshot (JSON ``{table: snapshot_name}``) is written
       under ``<layer>/_TXLOG`` and committed with the standard pointer
       flip — THIS is the single atomic commit point. ``expected_base``
       (a name from ``current_manifest_version``) makes it compare-and-
       swap across concurrent multi-table writers; on conflict every
       staged dir is removed and nothing is published;
    3. the per-table ``_CURRENT`` pointers are rolled forward to the
       manifest's versions (best-effort; :func:`recover_manifest` redoes
       it after a crash, and it runs automatically at the start of the
       next ``commit_tables``).

    Consistency contract: readers that resolve through the manifest
    (:func:`read_manifest_tables`) can NEVER observe a torn set — before
    the flip they see the previous manifest's versions, after it the new
    ones, regardless of crashes. Per-table pointer readers get per-table
    snapshot isolation only (exactly today's guarantee); between the
    manifest flip and roll-forward completion they may briefly read the
    previous CONSISTENT set, never a mix of old and new, because staging
    never touches their pointers and roll-forward is ordered after the
    manifest commit.

    ``meta`` (JSON-serializable dict) rides the same atomic flip under
    the reserved :data:`MANIFEST_META_KEY` — the durability primitive
    exactly-once streaming sinks need: a sink records its last-applied
    batch id IN the commit it applies, so a replayed batch after a crash
    between commit and checkpoint-offset write is detectable
    (ADVICE r06, ``stream_to_star_schema``).

    Meta is MERGED, never replaced (ADVICE r07): the live manifest's
    meta is carried forward and ``meta``'s keys overlay it, so a commit
    from another writer (or one passing no meta at all) cannot erase a
    streaming sink's applied-batch marker and silently re-open the
    double-count window. Sinks namespace their keys by query identity
    (:func:`novi_pdq_etl_project_prod_spark.streaming.events.batch_marker_key`),
    so independent streams sharing a layer never gate on each other's
    batch-id sequence. A key can be dropped explicitly by overlaying
    ``None`` (null values are pruned after the merge).

    TABLES merge the same way (round 8): a commit overlays its staged
    tables onto the live manifest's set instead of replacing it, so two
    sinks sharing a layer keep each other's tables visible to manifest
    readers; ``drop_tables`` removes names explicitly. Atomicity is
    unchanged — the merged doc flips in one pointer commit, and with
    ``expected_base`` the read-merge-write is CAS-protected.

    APPEND-SHAPED tables (round 10, VERDICT r09 #1): names listed in
    ``append_tables`` commit as a new SEGMENT instead of a whole-table
    rewrite — only the rows in ``dfs[tbl]`` are written; the table's
    manifest entry becomes a LIST of segment snapshot names (prior
    segments are referenced by name, never copied) and manifest readers
    scan their union. This makes a streaming sink's standing table
    O(batch) per commit instead of O(corpus): k increments over an
    N-row corpus write O(N) total bytes, not O(k·N). A table already
    committed whole upgrades in place (its live snapshot becomes
    segment 0). Atomicity, meta, CAS, time travel and GC are unchanged;
    segments stay pinned against GC while any retained manifest
    references them (``_manifest_pinned_snapshots``). Compact or
    replace a segmented table by committing it once WITHOUT
    ``append_tables`` — a whole-snapshot rewrite resets the list.
    Per-table ``_CURRENT`` pointers of segmented tables name the NEWEST
    segment only (direct pointer reads see the latest increment);
    set-consistent readers go through :func:`read_manifest_tables`.
    The reference's idempotent month load (``dags/pdq_etl_dag.py:
    183-187`` delete+append) is this same append-a-slice contract,
    expressed at the manifest layer.

    ROW COUNTS (round 14, VERDICT r13 #2): writers that already know how
    many rows they are committing can maintain a per-table physical row
    count in manifest meta — ``rowcount_deltas`` adds (append commits),
    ``rowcount_absolute`` sets (whole-snapshot rewrites) — so policies
    like the ANN staleness audit read corpus size from the manifest
    (O(manifest)) instead of scanning the corpus id column every tick.
    The count is SELF-VALIDATING: each ``rowcount:<table>`` meta value
    records the manifest entry it was computed against, and it rides the
    same atomic flip as that entry, so a rewrite by a non-cooperating
    writer (no rowcount argument) makes the recorded entry mismatch the
    live one and readers fall back to the exact scan rather than trust a
    stale number. A delta against a table with no valid prior count
    records rows=None (unknown) — except the table's FIRST commit, which
    seeds the count at the delta. Deltas are applied against the base
    re-read inside each CAS attempt, so concurrent counted appends
    compose correctly. ``drop_tables`` prunes their rowcount keys.

    Returns the committed ``{table: snapshot_name}`` manifest (the new
    segment's name for append tables).
    """
    import json
    import shutil

    if MANIFEST_META_KEY in dfs:
        raise ValueError(f"table name {MANIFEST_META_KEY!r} is reserved")
    unknown_appends = set(append_tables) - set(dfs)
    if unknown_appends:
        raise ValueError(
            f"append_tables not in dfs: {sorted(unknown_appends)}"
        )
    for arg_name, arg in (
        ("rowcount_deltas", rowcount_deltas),
        ("rowcount_absolute", rowcount_absolute),
    ):
        unknown_counts = set(arg or {}) - set(dfs)
        if unknown_counts:
            raise ValueError(
                f"{arg_name} names tables not in dfs: "
                f"{sorted(unknown_counts)}"
            )
    non_append_deltas = set(rowcount_deltas or {}) - set(append_tables)
    if non_append_deltas:
        # a whole-snapshot rewrite REPLACES the table: prior + delta is
        # fiction, and it would be stamped against the new entry where
        # the mismatch detector can't catch it (round-14 self-review
        # #4) — rewrites must state their count absolutely
        raise ValueError(
            "rowcount_deltas only applies to append_tables; use "
            f"rowcount_absolute for rewrites of {sorted(non_append_deltas)}"
        )
    mpath = _manifest_path(root, layer)
    os.makedirs(mpath, exist_ok=True)
    # heal any interrupted previous commit before layering a new one
    recover_manifest(root, layer)
    staged: dict[str, str] = {}
    try:
        for tbl, df in dfs.items():
            tpath = table_path(root, layer, tbl)
            os.makedirs(tpath, exist_ok=True)
            snap = _reserve_snapshot_dir(tpath)
            df.write.mode("overwrite").parquet(os.path.join(tpath, snap))
            staged[tbl] = snap

        def _write_manifest(snap_dir: str) -> None:
            target = os.path.join(snap_dir, "manifest.json")
            # tables MERGE like meta (round 8): the live manifest's
            # tables are carried forward and this commit's staged
            # versions overlay them, so two sinks sharing a layer (a
            # star sink + a drift monitor, or two star sinks) can't
            # silently drop each other's tables from manifest readers —
            # a commit names ITS tables, not the universe. Remove a
            # table explicitly with ``drop_tables``. Append tables
            # compose against the base RE-READ on every CAS retry, so a
            # concurrent committer's segments are never dropped.
            base = read_manifest(root, layer)
            overlay: dict = {}
            for k, snap_name in staged.items():
                if k in append_tables:
                    overlay[k] = _segments(base.get(k)) + [snap_name]
                else:
                    overlay[k] = snap_name
            doc = {
                k: v
                for k, v in {**base, **overlay}.items()
                if k not in set(drop_tables)
            }
            # carry the live meta forward and overlay this commit's keys
            merged_meta = {**read_manifest_meta(root, layer), **(meta or {})}
            merged_meta = {k: v for k, v in merged_meta.items() if v is not None}
            # self-validating row counts (round 14): each value pins the
            # manifest entry it was computed against; deltas compose
            # against the base RE-READ per CAS attempt
            for tbl in (rowcount_absolute or {}):
                merged_meta[f"rowcount:{tbl}"] = {
                    "rows": int(rowcount_absolute[tbl]),
                    "entry": doc.get(tbl),
                }
            for tbl, delta in (rowcount_deltas or {}).items():
                key = f"rowcount:{tbl}"
                prior = merged_meta.get(key)
                if base.get(tbl) is None and prior is None:
                    rows = int(delta)  # the table's first commit seeds it
                elif (
                    isinstance(prior, dict)
                    and prior.get("rows") is not None
                    and prior.get("entry") == base.get(tbl)
                ):
                    rows = int(prior["rows"]) + int(delta)
                else:
                    rows = None  # no valid prior to add against: unknown
                merged_meta[key] = {"rows": rows, "entry": doc.get(tbl)}
            for tbl in set(drop_tables):
                merged_meta.pop(f"rowcount:{tbl}", None)
            if merged_meta:
                doc[MANIFEST_META_KEY] = merged_meta
            with open(target, "w", encoding="utf-8") as fh:
                json.dump(doc, fh, sort_keys=True)
                fh.flush()
                os.fsync(fh.fileno())

        if expected_base is not ...:
            # explicit CAS: the caller owns conflict handling
            _commit_snapshot_write(_write_manifest, mpath, expected_base)
        else:
            # The carry-forward reads happen BEFORE the pointer flock, so
            # without CAS two concurrent commits to DIFFERENT tables of
            # one layer could both merge against the same base and the
            # second flip would silently drop the first's tables/meta —
            # exactly the lost-update the merge semantics promise away.
            # Close it with an internal CAS retry: pin the base the merge
            # read, flip against it, and on conflict re-read + re-merge
            # (staged DATA dirs are written once; only the tiny manifest
            # doc is rewritten per retry). Bounded: under sustained
            # contention an unbounded spin would livelock silently, so
            # after _CAS_MAX_RETRIES the writer fails loudly with the
            # conflict instead; a tiny jittered sleep de-synchronizes
            # co-located committers between attempts.
            last_conflict: SnapshotConflictError | None = None
            for attempt in range(_CAS_MAX_RETRIES):
                token = current_manifest_version(root, layer)
                try:
                    _commit_snapshot_write(_write_manifest, mpath, token)
                    last_conflict = None
                    break
                except SnapshotConflictError as exc:
                    last_conflict = exc
                    time.sleep(
                        min(0.05, 0.001 * (attempt + 1))
                        * (1.0 + random.random())
                    )
            if last_conflict is not None:
                raise SnapshotConflictError(
                    f"manifest CAS for layer {layer!r} failed after "
                    f"{_CAS_MAX_RETRIES} retries under contention"
                ) from last_conflict
    except BaseException:
        for tbl, snap in staged.items():
            shutil.rmtree(
                os.path.join(table_path(root, layer, tbl), snap),
                ignore_errors=True,
            )
        raise
    _roll_forward_table_pointers(root, layer)
    return staged


def current_manifest_version(root: str, layer: MedallionLayer | str) -> str | None:
    """The live manifest snapshot name — the CAS token for
    :func:`commit_tables`' ``expected_base`` (None before the first
    multi-table commit)."""
    return current_snapshot(_manifest_path(root, layer))


def _read_manifest_doc(root: str, layer: MedallionLayer | str) -> dict:
    import json

    mpath = _manifest_path(root, layer)
    live = resolve_table_path(mpath)
    target = os.path.join(live, "manifest.json")
    if live == mpath or not os.path.isfile(target):
        return {}
    with open(target, encoding="utf-8") as fh:
        return json.load(fh)


def read_manifest(root: str, layer: MedallionLayer | str) -> dict[str, str]:
    """The live committed ``{table: snapshot_name}`` set (empty before
    the first multi-table commit). The reserved metadata slot is NOT a
    table and is stripped here — use :func:`read_manifest_meta` for it."""
    doc = _read_manifest_doc(root, layer)
    doc.pop(MANIFEST_META_KEY, None)
    return doc


def read_manifest_meta(root: str, layer: MedallionLayer | str) -> dict:
    """Commit metadata recorded with the live manifest (empty when the
    committer passed none). Atomic with the table set: a reader can never
    see new metadata with old tables or vice versa."""
    meta = _read_manifest_doc(root, layer).get(MANIFEST_META_KEY)
    return meta if isinstance(meta, dict) else {}


def read_manifest_tables(
    spark: SparkSession, root: str, layer: MedallionLayer | str
) -> dict[str, DataFrame]:
    """Set-consistent read: every table at exactly the version named by
    ONE manifest — the read path whose isolation spans tables. Committed
    snapshot dirs are immutable, so these scans stay valid for the GC
    retention horizon even while new commits land. Append-shaped tables
    (segment-list manifest entries) read as the union of their segment
    dirs — one multi-path parquet scan, no data movement; multi-segment
    reads merge schemas (footer-only cost) so a gate-permitted column
    add in a later segment surfaces as NULLs in earlier ones instead of
    silently adopting one segment's footer."""
    versions = read_manifest(root, layer)
    return {
        tbl: _read_manifest_entry(spark, root, layer, tbl, snap)
        for tbl, snap in versions.items()
    }


def _read_manifest_entry(
    spark: SparkSession,
    root: str,
    layer: MedallionLayer | str,
    table: str,
    entry,
) -> DataFrame:
    dirs = [
        os.path.join(table_path(root, layer, table), seg)
        for seg in _segments(entry)
    ]
    reader = spark.read
    if len(dirs) > 1:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*dirs)


def read_manifest_table(
    spark: SparkSession,
    root: str,
    layer: MedallionLayer | str,
    table: str,
) -> DataFrame | None:
    """ONE table at its live-manifest version (None when absent) —
    the cheap form of :func:`read_manifest_tables` for callers that
    need a single table's frame/schema (e.g. the expectations schema
    gate, which runs per micro-batch): constructs one reader instead
    of footer-touching every table in the layer."""
    entry = read_manifest(root, layer).get(table)
    if entry is None:
        return None
    return _read_manifest_entry(spark, root, layer, table, entry)


def _roll_forward_table_pointers(root: str, layer: MedallionLayer | str) -> None:
    """Re-point each table's ``_CURRENT`` at its live-manifest version.

    Only rolls FORWARD (manifest version newer than the pointer's):
    single-table commits made outside the manifest after the last
    ``commit_tables`` are never clobbered. Idempotent — safe to re-run
    any number of times, which is what makes the manifest flip the only
    durability-critical step."""
    for tbl, entry in read_manifest(root, layer).items():
        segs = _segments(entry)
        if not segs:
            continue
        # segmented tables: the pointer names the NEWEST segment (the
        # latest increment); set-consistent reads use the manifest.
        snap = segs[-1]
        tpath = table_path(root, layer, tbl)
        new_v = int(snap[len(_SNAPSHOT_PREFIX):])
        # CAS loop: a single-table writer may commit between our version
        # check and the flip; flipping blindly would roll ITS commit
        # back. Re-read on conflict until the pointer is at or past the
        # manifest's version.
        while True:
            cur = current_snapshot(tpath)
            cur_v = (
                int(cur[len(_SNAPSHOT_PREFIX):])
                if cur and cur.startswith(_SNAPSHOT_PREFIX)
                else 0
            )
            if new_v <= cur_v:
                break
            try:
                _commit_pointer(tpath, snap, expected_base=cur)
            except SnapshotConflictError:
                continue
            _gc_stale_snapshots(tpath)
            break


class SnapshotNotFoundError(RuntimeError):
    """Raised by a time-travel read for a version the GC has already
    collected (or that never existed). History depth is
    ``GC_RETAIN_PREVIOUS`` + grace — raise it before a run that needs
    deeper time travel (module constant, consulted at GC time)."""


def snapshot_history(
    root: str, layer: MedallionLayer | str, table: str
) -> list[dict]:
    """Retained versions of a snapshot table, newest first:
    ``[{"version", "is_live", "committed_at"}]`` — the time-travel
    catalog (Delta's DESCRIBE HISTORY, bounded by the GC horizon).
    ``committed_at`` is the snapshot dir's mtime in epoch seconds: the
    wall-clock of its last data write, a lower bound on commit time."""
    path = table_path(root, layer, table)
    if not os.path.isdir(path):
        return []
    live = current_snapshot(path)
    out = []
    for entry in sorted(os.listdir(path), reverse=True):
        if not entry.startswith(_SNAPSHOT_PREFIX):
            continue
        full = os.path.join(path, entry)
        if not os.path.isdir(full):
            continue
        out.append(
            {
                "version": entry,
                "is_live": entry == live,
                "committed_at": os.path.getmtime(full),
            }
        )
    return out


def read_snapshot_as_of(
    spark: SparkSession,
    root: str,
    layer: MedallionLayer | str,
    table: str,
    version: str,
) -> DataFrame:
    """Time-travel read of one retained snapshot version (a name from
    :func:`snapshot_history` / :func:`current_snapshot`). Snapshot dirs
    are immutable once committed, so the returned frame is a stable
    point-in-time view for as long as the GC horizon retains it."""
    d = os.path.join(table_path(root, layer, table), version)
    if not os.path.isdir(d):
        raise SnapshotNotFoundError(
            f"{layer}/{table} version {version!r} is not retained "
            f"(GC keeps live + {GC_RETAIN_PREVIOUS}; raise "
            "GC_RETAIN_PREVIOUS before runs that need deeper history)"
        )
    return spark.read.parquet(d)


def manifest_history(root: str, layer: MedallionLayer | str) -> list[dict]:
    """Retained MANIFEST versions (newest first) — each one names a
    set-consistent multi-table state, so time travel through manifests
    can never observe a torn star schema."""
    import json

    mpath = _manifest_path(root, layer)
    if not os.path.isdir(mpath):
        return []
    live = current_snapshot(mpath)
    out = []
    for entry in sorted(os.listdir(mpath), reverse=True):
        if not entry.startswith(_SNAPSHOT_PREFIX):
            continue
        doc_path = os.path.join(mpath, entry, "manifest.json")
        if not os.path.isfile(doc_path):
            continue
        with open(doc_path, encoding="utf-8") as fh:
            doc = json.load(fh)
        doc.pop(MANIFEST_META_KEY, None)
        out.append(
            {
                "version": entry,
                "is_live": entry == live,
                "committed_at": os.path.getmtime(doc_path),
                "tables": doc,
            }
        )
    return out


def read_manifest_tables_as_of(
    spark: SparkSession,
    root: str,
    layer: MedallionLayer | str,
    version: str,
) -> dict[str, DataFrame]:
    """Set-consistent TIME-TRAVEL read: every table at exactly the
    version named by one retained historical manifest — the multi-table
    guarantee of :func:`read_manifest_tables` at a past commit point.
    Raises :class:`SnapshotNotFoundError` when the manifest version or
    any table snapshot it references has been GC'd (per-table retention
    and manifest retention share ``GC_RETAIN_PREVIOUS``, so within the
    horizon the referenced dirs are present by construction)."""
    for h in manifest_history(root, layer):
        if h["version"] == version:
            frames = {}
            for tbl, entry in h["tables"].items():
                dirs = []
                for snap in _segments(entry):
                    d = os.path.join(table_path(root, layer, tbl), snap)
                    if not os.path.isdir(d):
                        raise SnapshotNotFoundError(
                            f"{layer}/{tbl} snapshot {snap!r} referenced "
                            f"by manifest {version!r} has been GC'd"
                        )
                    dirs.append(d)
                reader = spark.read
                if len(dirs) > 1:
                    reader = reader.option("mergeSchema", "true")
                frames[tbl] = reader.parquet(*dirs)
            return frames
    raise SnapshotNotFoundError(
        f"{layer} manifest version {version!r} is not retained"
    )


def recover_manifest(root: str, layer: MedallionLayer | str) -> None:
    """Crash recovery: finish the per-table roll-forward of the live
    manifest (a no-op when everything already matches). Called
    automatically by ``commit_tables``; long-lived readers of per-table
    pointers may also call it at startup."""
    _roll_forward_table_pointers(root, layer)


def segment_count(root: str, layer: MedallionLayer | str, table: str) -> int:
    """Number of manifest segments backing ``table`` (1 for a
    whole-snapshot table, 0 if absent) — the maintenance signal for
    :func:`compact_segments`."""
    return len(_segments(read_manifest(root, layer).get(table)))


def compact_segments(
    spark: SparkSession,
    root: str,
    layer: MedallionLayer | str,
    table: str,
    min_segments: int = 2,
) -> bool:
    """OPTIMIZE for append-shaped tables: rewrite the segment union as
    ONE whole snapshot and reset the manifest entry to it — the LSM-ish
    maintenance step that keeps a daily-increment table from
    accumulating an unbounded segment list (each segment is a separate
    directory listing + parquet footer set at scan time, and pre-merge
    commit history pins them all against GC).

    Deliberately a STANDALONE maintenance call, not an in-sink policy: a
    streaming sink must never surprise-rewrite a 100 TB standing table
    mid-trigger; schedule this like VACUUM, off the ingest path. Safe
    against a concurrently-appending sink via an EXPLICIT manifest CAS:
    the rewrite is pinned to the manifest version whose segments it
    read, so a segment appended in between fails the flip and the
    compactor re-reads (now including the new segment) and retries —
    a compacted snapshot can never silently drop an append. (The plain
    internal CAS retry would NOT protect this: it re-merges the doc but
    keeps the staged whole snapshot, losing rows read before the
    append.) Readers keep set-consistent views throughout; old segments
    age out of GC once the manifests referencing them do.

    No-op (returns False) when the table has fewer than ``min_segments``
    segments; True after a compacting commit.
    """
    attempts = 5
    for _ in range(attempts):
        base = current_manifest_version(root, layer)
        # ONE manifest-doc snapshot serves the segment check, the
        # rowcount-validity check, and the entry it validates against —
        # self-consistent by construction (round-14 second review #3:
        # reading meta and entry at different instants depended on the
        # CAS flip to catch mid-read drift)
        doc = _read_manifest_doc(root, layer)
        entry = doc.get(table)
        if len(_segments(entry)) < max(2, int(min_segments)):
            return False
        merged = read_manifest_tables(spark, root, layer)[table]
        # segment compaction is ROW-PRESERVING: a valid maintained
        # rowcount stays correct across the rewrite, so carry it
        # forward re-stamped against the new entry — otherwise the
        # first compaction would permanently self-disable the
        # metadata-priced audits the counts exist for (round-14
        # self-review #3: every later delta would find an invalid
        # prior and record rows=None forever)
        prior_rc = (doc.get(MANIFEST_META_KEY) or {}).get(
            f"rowcount:{table}"
        )
        carry = (
            {table: int(prior_rc["rows"])}
            if isinstance(prior_rc, dict)
            and prior_rc.get("rows") is not None
            and prior_rc.get("entry") == entry
            else None
        )
        try:
            # one whole-snapshot commit (NOT in append_tables) resets
            # the list; CAS pins the exact version the union was read at
            commit_tables(
                {table: merged},
                root,
                layer,
                expected_base=base,
                rowcount_absolute=carry,
            )
            return True
        except SnapshotConflictError:
            continue  # a sink appended mid-rewrite: re-read and retry
    raise SnapshotConflictError(
        f"compact_segments({layer!r}/{table!r}): lost the manifest CAS "
        f"{attempts} times to concurrent committers; run it when the "
        "ingest cadence leaves a gap"
    )


def segment_sizes(
    root: str, layer: MedallionLayer | str, table: str
) -> list[int]:
    """On-disk parquet bytes per live manifest segment (one entry for a
    whole-snapshot table, empty if absent) — the byte-grain maintenance
    signal for :func:`maybe_compact`. Metadata-only: sums file sizes,
    reads no data."""
    tpath = table_path(root, layer, table)
    sizes = []
    for seg in _segments(read_manifest(root, layer).get(table)):
        total = 0
        for dirpath, dirs, names in os.walk(os.path.join(tpath, seg)):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            total += sum(
                os.path.getsize(os.path.join(dirpath, n))
                for n in names
                if n.endswith(".parquet")
            )
        sizes.append(total)
    return sizes


def maybe_compact(
    spark: SparkSession,
    root: str,
    layer: MedallionLayer | str,
    table: str,
    max_segments: int = 8,
    small_segment_bytes: int | None = None,
    max_small_segments: int | None = None,
) -> dict:
    """Segment-compaction scheduler (VERDICT r10 #1) — the policy loop
    that closes the gap :func:`compact_segments` left open: the z-order
    scheduler (``skipping.maybe_optimize``) watches clustering health,
    but nothing watched ``segment_count``, so a daily-increment table
    accumulated an unbounded segment list (per-scan directory listings +
    parquet footer sets, GC pinning) until someone remembered the
    manual call. Run this on the same maintenance tick.

    Fires :func:`compact_segments` when EITHER threshold trips:

    - ``max_segments``: the live segment list has grown to this length
      (the read-amplification bound — each segment is one directory
      listing + footer set per scan);
    - ``small_segment_bytes`` + ``max_small_segments``: at least
      ``max_small_segments`` live segments are each under
      ``small_segment_bytes`` on disk (the dribble-ingest signal: a
      quiet stream commits tiny increments that are individually cheap
      but collectively dominate scan planning long before the count
      cap). ``max_small_segments`` defaults to ``max_segments``.

    No-churn contract (same as ``maybe_optimize``): immediately
    re-calling after a fire is a no-op — compaction resets the list to
    one whole snapshot, under every threshold. Concurrency and crash
    safety are :func:`compact_segments`' own: the rewrite is CAS-pinned
    to the manifest version whose segments it read (a concurrent append
    retries, never vanishes), and a crash before the manifest flip
    leaves only an unreferenced staged dir for GC. The audit itself is
    metadata-only (manifest doc + file sizes; no data scan, no footer
    reads) — O(segments) stat calls, safe at any cadence.

    Returns the decision record either way:
    ``{table, segment_count, [small_segments,] fired, reason,
    segment_count_after}``.
    """
    n = segment_count(root, layer, table)
    decision: dict = {
        "table": table,
        "segment_count": n,
        "max_segments": int(max_segments),
        "fired": False,
        "reason": None,
    }
    reason = None
    if n >= max(2, int(max_segments)):
        reason = "segment_count"
    elif small_segment_bytes is not None and n >= 2:
        sizes = segment_sizes(root, layer, table)
        n_small = sum(1 for s in sizes if s < int(small_segment_bytes))
        decision["small_segments"] = n_small
        cap = int(
            max_small_segments
            if max_small_segments is not None
            else max_segments
        )
        if n_small >= max(2, cap):
            reason = "small_segments"
    if reason is None:
        return decision
    decision["fired"] = compact_segments(
        spark, root, layer, table, min_segments=2
    )
    decision["reason"] = reason if decision["fired"] else None
    decision["segment_count_after"] = segment_count(root, layer, table)
    return decision
