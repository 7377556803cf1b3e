"""Scale replicas and the full-catalog ×K sweep.

The builders self-replicate a fixture directory (``SRC``, sf0.1) K
times without replication artifacts: facts and events key-shifted,
documents token-suffixed, embeddings isometric, dims fixed. 10× ≈ sf1
(6M lineitem rows). ``tools/bench_scaled.py`` builds its ×10 board from
``replicate_full``.

``--full K`` times EVERY catalog query at sf0.1 and at ×K, records the
growth ratios to ``$SPARK_GRAFT_SWEEP_OUT`` (resumable: queries already
in the JSON are skipped) and prints the outlier triage. Results land in
SCALE.md.

Usage: python tools/scale_probe.py --full [replication_factor]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.catalog import QUERIES
from novi_pdq_etl_project_prod_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
WARMUP_SF = os.path.join(os.path.dirname(SRC), "sf0.01")


def replicate(spark, out_dir: str, k: int) -> None:
    """k copies of lineitem, orders and events with shifted keys; dims
    stay single (star-schema semantics: facts grow, dims don't).
    Documents and embeddings come from the two builders below."""
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    o = spark.read.parquet(f"{SRC}/orders.parquet")
    # events: read ts as raw long nanos (plain BIGINT in the replica —
    # session.read_events handles either form); replicate by shifting
    # user_id/event_id so months are unchanged but users/rows grow k×.
    # The conf holds until the writes ran, then the caller's value returns.
    nanos_key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(nanos_key, None)
    spark.conf.set(nanos_key, "true")
    try:
        ev = spark.read.parquet(f"{SRC}/events.parquet")
        max_ok = o.agg(F.max("o_orderkey")).collect()[0][0] + 1
        max_uid = ev.agg(F.max("user_id")).collect()[0][0] + 1
        max_eid = ev.agg(F.max("event_id")).collect()[0][0] + 1

        def shifted(df, col, step, i):
            return df.withColumn(col, F.col(col) + F.lit(i * step))

        li_k = li
        o_k = o
        e_k = ev
        for i in range(1, k):
            li_k = li_k.unionByName(shifted(li, "l_orderkey", max_ok, i))
            o_k = o_k.unionByName(shifted(o, "o_orderkey", max_ok, i))
            e_k = e_k.unionByName(
                shifted(shifted(ev, "user_id", max_uid, i), "event_id", max_eid, i)
            )
        li_k.write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")
        o_k.write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")
        e_k.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")
    finally:
        if prior is None:
            spark.conf.unset(nanos_key)
        else:
            spark.conf.set(nanos_key, prior)
    for t in ("customer", "supplier", "part", "nation", "region"):
        shutil.copy(f"{SRC}/{t}.parquet", f"{out_dir}/{t}.parquet")


def replicate_docs_distinct(spark, out_dir: str, k: int) -> None:
    """k copies of documents with SHIFTED TOKENS, not just shifted ids:
    every token in replica i gets an ``x<i>`` suffix, so replicas are
    neither exact nor near duplicates of their source (all shingles
    differ), while each replica preserves the original internal near-dup
    structure (both members of a planted pair get the same suffix, so
    their Jaccard is unchanged). This isolates algorithmic scaling of
    m8/m19 from the replication artifact where key-only replication
    makes every replica a true near-dup of its source (candidate pairs
    then grow ~k² per original, which is a property of the synthetic
    data, not the algorithm)."""
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    max_doc = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = spark.range(k).withColumnRenamed("id", "rep")
    out = (
        docs.crossJoin(F.broadcast(reps))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * max_doc)
        .withColumn(
            "text",
            F.when(F.col("rep") == 0, F.col("text")).otherwise(
                F.expr(r"regexp_replace(text, '(\\S+)', concat('$1x', rep))")
            ),
        )
        .drop("rep")
    )
    out.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


def replicate_embeddings_isometric(spark, out_dir: str, k: int) -> None:
    """k copies of embeddings, each replica transformed by a deterministic
    ISOMETRY (coordinate rotation + sign flips keyed by the replica
    index). An isometry preserves every pairwise cosine WITHIN a replica
    — the corpus's internal neighbor structure replicates exactly, so
    true-pair counts grow linearly in k — while cross-replica similarity
    is scrambled (a rotated+flipped vector is near-orthogonal to its
    source for non-degenerate data). This is the embedding analogue of
    ``replicate_docs_distinct``: scaling without the replication artifact
    where each replica is a planted near-duplicate of its source."""
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    dim = 64
    max_id = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    reps = spark.range(k).withColumnRenamed("id", "rep")
    rot = (
        emb.crossJoin(F.broadcast(reps))
        .withColumn("vec_id", F.col("vec_id") + F.col("rep") * max_id)
        # rotate by (rep*7) mod dim positions, then flip the sign of
        # element j when bit (j mod 8) of rep is set — both isometries
        .withColumn(
            "embedding",
            F.expr(
                f"""
                CASE WHEN rep = 0 THEN embedding ELSE
                  transform(
                    concat(
                      slice(embedding, CAST((rep*7) % {dim} AS INT) + 1,
                            {dim} - CAST((rep*7) % {dim} AS INT)),
                      slice(embedding, 1, CAST((rep*7) % {dim} AS INT))
                    ),
                    (x, j) -> CAST(
                      x * (CASE WHEN ((CAST(rep AS INT) >> (j % 8)) & 1) = 1
                           THEN -1.0 ELSE 1.0 END) AS FLOAT)
                  )
                END
                """
            ),
        )
        .drop("rep")
    )
    rot.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def _bounded_run(spark, fn, budget_s: float) -> dict:
    """Run ``fn`` (a Spark action) with a wall budget: on timeout the
    probe cancels the job group and records TIMEOUT instead of hanging
    the whole sweep on one pathological query. setJobGroup is
    thread-local, so it is set inside the worker thread."""
    import threading

    result: dict = {}

    def _run():
        try:
            spark.sparkContext.setJobGroup(
                "scale_sweep", "scale_sweep", interruptOnCancel=True
            )
            t0 = time.perf_counter()
            fn()
            result["t"] = round(time.perf_counter() - t0, 2)
        except Exception as e:  # noqa: BLE001 — recorded, not swallowed
            result.setdefault("err", f"{type(e).__name__}: {e}"[:300])

    th = threading.Thread(target=_run, daemon=True)
    th.start()
    th.join(budget_s)
    if th.is_alive():
        spark.sparkContext.cancelJobGroup("scale_sweep")
        th.join(60)
        result.setdefault("err", f"TIMEOUT>{budget_s}s")
    return result


def replicate_full(spark, out_dir: str, k: int) -> None:
    """One directory with ALL fixture tables scaled artifact-free: facts
    and events key-shifted k× (dims fixed — star semantics), documents
    token-suffixed DISTINCT (near-dup structure preserved per replica,
    no cross-replica dup artifact), embeddings isometric (per-replica
    neighbor structure preserved, cross-replica scrambled)."""
    replicate(spark, out_dir, k)
    replicate_docs_distinct(spark, out_dir, k)
    replicate_embeddings_isometric(spark, out_dir, k)


def main_full(k: int) -> None:
    """Full-catalog k× sweep (VERDICT r07 item 3): run EVERY catalog
    query at sf0.1 and at k×, record growth ratios to
    ``$SPARK_GRAFT_SWEEP_OUT`` (default: a fresh file in the temp dir,
    path printed), and print the outlier triage. Each query runs once
    untimed at sf0.01 first, so codegen and class loading do not land
    on its base time. Budgets:
    90 s at base, 420 s at k× — a query blowing either bound is itself a
    finding (recorded, not hung). Caches are cleared between queries so
    timings don't inherit leaked persists (bench methodology v2)."""
    from novi_pdq_etl_project_prod_spark import cache

    spark = get_spark(app_name="scale_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = tempfile.mkdtemp(prefix=f"full{k}_")
    t0 = time.perf_counter()
    replicate_full(spark, out_dir, k)
    print(f"replicated full fixture x{k} in {time.perf_counter()-t0:.1f}s")

    out_path = os.environ.get("SPARK_GRAFT_SWEEP_OUT") or os.path.join(
        tempfile.gettempdir(), f"scale_sweep_x{k}_{os.getpid()}.json"
    )
    print(f"sweep results -> {out_path}", flush=True)
    done = {}
    if os.path.exists(out_path):  # resumable across interrupted runs
        with open(out_path) as fh:
            done = json.load(fh)

    names = list(QUERIES)
    for i, name in enumerate(names):
        if name in done:
            continue
        row = {}
        for label, sf_dir, budget in (
            ("warmup", WARMUP_SF, 90.0),
            ("base", SRC, 90.0),
            ("scaled", out_dir, 420.0),
        ):
            r = _bounded_run(
                spark,
                lambda: QUERIES[name](spark, sf_dir)
                .write.format("noop")
                .mode("overwrite")
                .save(),
                budget,
            )
            cache.release()
            if label == "warmup":
                continue
            row[label] = r.get("t")
            if "err" in r:
                row[f"{label}_err"] = r["err"]
        if row.get("base") and row.get("scaled"):
            row["ratio"] = round(row["scaled"] / max(row["base"], 0.01), 2)
        done[name] = row
        with open(out_path, "w") as fh:
            json.dump(done, fh, indent=1, sort_keys=True)
        print(f"[{i+1}/{len(names)}] {name}: {json.dumps(row)}", flush=True)

    ratios = {n: r["ratio"] for n, r in done.items() if "ratio" in r}
    errs = {n: r for n, r in done.items() if "base_err" in r or "scaled_err" in r}
    print("\n=== sweep summary (k=%d) ===" % k)
    print("queries:", len(done), "with ratios:", len(ratios), "errors:", len(errs))
    for n, r in sorted(ratios.items(), key=lambda kv: -kv[1])[:25]:
        print(f"  {r:6.1f}x  {n}  ({done[n]['base']}s -> {done[n]['scaled']}s)")
    for n, r in errs.items():
        print("  ERR", n, r)
    shutil.rmtree(out_dir, ignore_errors=True)


def main() -> None:
    if "--full" not in sys.argv:
        sys.exit(__doc__)
    idx = sys.argv.index("--full")
    main_full(int(sys.argv[idx + 1]) if len(sys.argv) > idx + 1 else 10)


if __name__ == "__main__":
    main()
