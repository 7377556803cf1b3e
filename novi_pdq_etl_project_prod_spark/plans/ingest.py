"""The composed incremental-ingest pipeline (VERDICT r10 #2): the
one-trigger, one-manifest DAG the round-10 sinks individually built
toward — expectations/schema gate → exact-dedup pre-filter → near-dup
detection → corpus append, with EVERY table family committed through a
SINGLE atomic ``commit_tables`` manifest per increment.

The reference's whole value is its composed DAG
(``dags/pdq_etl_dag.py:514-516`` — extract >> transform >> model >> DQ
fan-out), not its individual tasks; this module is that composition for
the LLM-ingest surface. The individually-certified pieces it wires:

- expectations quarantine (``operators.expectations``, dq11-oracled);
- incremental exact dedup (m69-oracled; ``operators.dedup._exact_hash_stage``,
  the stage the streaming exact sink runs too);
- incremental MinHash near-dup (m66-oracled;
  ``stream_incremental_near_dups``);
- append-segment commits (``sources.layers.commit_tables``) for O(batch)
  write volume per trigger.

Funnel semantics (deterministic, oracle-able end to end — catalog m70):

1. rows violating any expectation rule are QUARANTINED (never hashed,
   never signatured);
2. valid docs whose md5(text) already exists in the standing content-
   hash table are EXACT-dropped (``exact_old``); within-increment
   repeats keep the smallest id and drop the rest (``exact_new``);
3. exact-survivors are MinHash-banded against the standing signature
   table; a survivor pairing with a STANDING doc is NEAR-dropped, and
   of a within-increment pair (both new) the LARGER id is dropped —
   the greedy canonical-first policy (a chain a–b–c where only b
   bridges may keep c: single-pass banding, documented, deterministic);
4. everything left is ACCEPTED: its rows append to the corpus table,
   its signatures to the signature table.

State contracts: the content-hash table records every hash SEEN
(including near-dropped docs' hashes — a re-fetch of a dropped doc
reports ``exact_old`` and stays out, the cheap filter doing its job);
the signature table mirrors the ACCEPTED corpus only (the standing side
future increments band against IS the corpus). ``id_col`` is an
immutable content identity across increments (same contract as the
round-10 sinks).

Scale shape per increment, standing corpus N: the batch pays
expectations tagging (row-local), its own hashing/signatures, ONE
map-side scan of the standing hash table (broadcast batch hashes), and
ONE scan of the standing signature table (band join, key-only explode).
Committed bytes are O(batch) — append segments. Nothing ever forms
standing×standing candidates; no stage shuffles the standing corpus.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark import cache
from novi_pdq_etl_project_prod_spark.operators.dedup import (
    GramProbe,
    _exact_hash_stage,
    broadcast_if_bounded,
    incremental_pairs_from_signatures,
    minhash_signatures_md5,
)
from novi_pdq_etl_project_prod_spark.operators.expectations import (
    split_expectations,
)


def ingest_increment(
    new_docs: DataFrame,
    standing_hashes: DataFrame | None,
    standing_sigs: DataFrame | None,
    rules: Mapping[str, str],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    standing_grams: DataFrame | GramProbe | None = None,
    span_k: int | None = None,
    retractable_grams: bool = False,
    truncate_lineage: bool = False,
) -> dict[str, DataFrame]:
    """One increment through the full funnel, frame-in/frame-out — the
    shared core of the batch twin (:func:`ingest_increment_vs_standing`,
    oracled as m70) and the streaming sink (:func:`run_incremental_ingest`),
    which is what makes the stream==batch metamorphic certification
    meaningful: both paths run literally this function.

    ``truncate_lineage`` (optimization r14, guide §5/§3.3): the batch
    twin sets True — the tiny mid-funnel frames (signatures, candidate
    pairs, near-drops) are pinned with ``localCheckpoint`` instead of
    ``persist``, truncating the composed logical plan so every later
    action replans a short tree (the m76-shaped queries spent more
    driver wall in Catalyst re-planning the full funnel lineage than
    executors spent computing — measured ~11 s of inter-job gaps in a
    16.8 s run). The STREAMING sink keeps the default False: checkpoint
    blocks are not tracked by the cache scope, so per-trigger
    checkpoints would accumulate for the session lifetime, and lineage
    truncation trades away recompute-on-block-loss fault tolerance the
    long-lived sink wants. Reclamation note (ADVICE r14): localCheckpoint
    blocks are freed either by ``cache.clear_session_state`` (which
    unpersists every persistent RDD — the bench does this between
    queries) or by driver GC of the checkpointed RDDs (ContextCleaner);
    a long-lived session that neither clears state nor drops references
    to the returned frames will hold the blocks until collection, so
    harnesses should release their references at funnel exit.

    ``standing_hashes``: (h, canonical_id) or None (first increment);
    ``standing_sigs``: (id, signature) or None. Caller persists
    ``new_docs`` (both consumers do).

    Returns a dict of frames:

    - ``accepted`` — full rows of docs entering the corpus;
    - ``quarantine`` — violating rows + the failed-rules column;
    - ``exact_dups`` — (doc_id, dup_of, dup_type) report (m69 schema);
    - ``near_dup_pairs`` — (id_a, id_b, est_jaccard, pair_type);
    - ``near_drops`` — (doc_id, near_dup_of, est_jaccard): per dropped
      doc its smallest-id partner (deterministic audit row);
    - ``new_hashes`` — (h, canonical_id) rows to append;
    - ``new_sigs`` — (id, signature) rows to append (accepted docs).

    Every returned frame derives from broadcast-or-candidate-sized
    joins against the persisted batch; the two standing scans happen
    once each.
    """
    good, quarantine = split_expectations(new_docs, rules)

    # --- exact stage ------------------------------------------------
    h_new = good.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("h")
    ).where(F.col("h").isNotNull())
    # mega-batch guard (VERDICT r10 #6): past the cap the forced
    # broadcasts drop and AQE picks a shuffle join — graceful, not OOM.
    # Optimization r14 (guide §2.6): the count action doubles as the
    # cache fill for a persisted-but-unfilled standing signature
    # relation (the batch twin persists it lazily) — two independent
    # subtrees under ONE job instead of two serial driver round trips.
    # The streaming path's standing_sigs is a bare table read
    # (storageLevel NONE), so it never pays an extra scan here.
    cnt = h_new.select("h").distinct().agg(F.count(F.lit(1)).alias("__n"))
    if (
        standing_sigs is not None
        and standing_sigs.storageLevel.useMemory
    ):
        cnt = cnt.crossJoin(
            standing_sigs.agg(F.count(F.lit(1)).alias("__n_standing"))
        )
    n_hashes = cnt.collect()[0]["__n"]
    bc = lambda d: broadcast_if_bounded(d, n_hashes)  # noqa: E731
    exact_dups, new_hashes = _exact_hash_stage(h_new, standing_hashes, n_hashes)
    survivors = good.join(
        bc(exact_dups.select(F.col("doc_id").alias(id_col))),
        id_col,
        "left_anti",
    )

    # --- near-dup stage ---------------------------------------------
    # pin = materialize a multiply-consumed frame: localCheckpoint for
    # the batch twin (truncates the composed plan every later action
    # would otherwise replan), persist for the streaming sink (scope-
    # tracked, recompute-tolerant)
    if truncate_lineage:
        pin = lambda df: df.localCheckpoint()  # noqa: E731
    else:
        pin = lambda df: cache.track(df, eager=True)  # noqa: E731
    sigs_raw = minhash_signatures_md5(survivors, id_col, text_col, n, num_hashes)
    # batch twin: the checkpoint is the (eager) materialization and the
    # count over its blocks is cheap; streaming: lazy persist whose fill
    # rides the count — either way the count doubles as the band-join
    # broadcast bound (one job, two purposes)
    sigs_new = (
        sigs_raw.localCheckpoint()
        if truncate_lineage
        else cache.track(sigs_raw)
    )
    n_new = sigs_new.count()
    pairs = pin(
        incremental_pairs_from_signatures(
            sigs_new,
            standing_sigs if standing_sigs is not None else sigs_new.limit(0),
            num_hashes,
            bands,
            threshold,
            n_new=n_new,
        )
    )
    # which endpoint of a pair is the NEW doc: both for new_new (drop
    # the larger, canonical-first), the increment-side one for new_old.
    # Pair-sized frames throughout; the id membership probe is a
    # broadcast semi-join against the batch's ids.
    new_ids = bc(sigs_new.select(F.col("id").alias("__nid")))
    nn = pairs.where(F.col("pair_type") == "new_new").select(
        F.col("id_b").alias("doc_id"),
        F.col("id_a").alias("near_dup_of"),
        "est_jaccard",
    )
    no = pairs.where(F.col("pair_type") == "new_old")
    no_a = no.join(new_ids, no["id_a"] == F.col("__nid")).select(
        F.col("id_a").alias("doc_id"),
        F.col("id_b").alias("near_dup_of"),
        "est_jaccard",
    )
    no_b = no.join(new_ids, no["id_b"] == F.col("__nid")).select(
        F.col("id_b").alias("doc_id"),
        F.col("id_a").alias("near_dup_of"),
        "est_jaccard",
    )
    near_drops = (
        nn.unionByName(no_a)
        .unionByName(no_b)
        .groupBy("doc_id")
        .agg(
            # deterministic audit partner: smallest partner id (and its
            # jaccard) — min over a struct keyed by the partner
            F.min(F.struct("near_dup_of", "est_jaccard")).alias("__p")
        )
        .select(
            "doc_id",
            F.col("__p.near_dup_of").alias("near_dup_of"),
            F.col("__p.est_jaccard").alias("est_jaccard"),
        )
    )
    near_drops = pin(near_drops)
    accepted = survivors.join(
        bc(near_drops.select(F.col("doc_id").alias(id_col))),
        id_col,
        "left_anti",
    )
    new_sigs = sigs_new.join(
        bc(near_drops.select(F.col("doc_id").alias("id"))),
        "id",
        "left_anti",
    )
    result = {
        "accepted": accepted,
        "quarantine": quarantine,
        "exact_dups": exact_dups,
        "near_dup_pairs": pairs,
        "near_drops": near_drops,
        "new_hashes": new_hashes,
        "new_sigs": new_sigs,
    }

    # --- span stage, opt-in via span_k -----------------------------
    # long-substring detection runs over ACCEPTED docs only
    # (quarantined/dropped docs never contribute grams — the same
    # accepted-corpus-mirror contract as the signature table).
    # Spans are an AUDIT artifact here (detection at ingest); excision
    # (m72) stays a curation-time batch op, because rewriting text
    # inside the funnel would invalidate the content-hash identities
    # the exact stage just recorded.
    if span_k is not None:
        from novi_pdq_etl_project_prod_spark.operators.dedup import (
            incremental_repeated_spans_state,
        )

        span_state = incremental_repeated_spans_state(
            accepted, standing_grams, id_col, text_col, span_k,
            attributed=retractable_grams,
        )
        # pinned: the sink consumes each span frame several times
        # (span_docs count, isEmpty probe, commit write) — uncached,
        # every pass re-scans the standing gram table and re-tokenizes
        # the accepted docs (round-11 review; the standalone span sink
        # learned the same lesson)
        result["repeated_spans"] = cache.track(span_state["spans"])
        result["new_grams"] = cache.track(
            span_state["doc_grams"] if retractable_grams
            else span_state["new_grams"]
        )
    return result


def ingest_increment_vs_standing(
    new_docs: DataFrame,
    standing_docs: DataFrame,
    rules: Mapping[str, str],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    span_k: int | None = None,
) -> dict[str, DataFrame]:
    """Batch twin over a standing DOCUMENT frame: derives the standing
    hash table (md5 → min id, exactly what k prior ingests would have
    accumulated) and signature table, then runs :func:`ingest_increment`.
    This is the oracle surface (catalog m70) — DuckDB rebuilds the same
    funnel in SQL on the same split."""
    standing_hashes = (
        standing_docs.select(
            F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("h")
        )
        .where(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.min("id").alias("canonical_id"))
    )
    # cached: the pair join references the standing signature relation
    # three times (banding + two candidate join-backs); in the streaming
    # sink that relation is a parquet TABLE scan (cheap to re-scan), but
    # here it is a full minhash computation — compute it once. LAZY
    # persist (optimization r14): ingest_increment's hint-bound count
    # job fills any persisted-but-unfilled standing_sigs alongside its
    # own aggregate, so an eager fill here would serialize an extra job
    standing_sigs = cache.track(
        minhash_signatures_md5(
            standing_docs, id_col, text_col, n, num_hashes
        )
    )
    standing_grams = None
    if span_k is not None:
        from novi_pdq_etl_project_prod_spark.operators.dedup import gram_probe

        # GramProbe: this transient frame is only an existence probe
        # (the span path dedups in its `flagged` set), so the standing-
        # side gram shuffle is skipped — pure map-side explode. The
        # multiset nature is TYPED (VERDICT r11 #3): only GramProbe-
        # aware consumers can unwrap it. The PERSISTED gram table
        # (streaming sink) stays a true set.
        standing_grams = gram_probe(
            standing_docs,
            text_col=text_col,
            k=span_k,
        )
    return ingest_increment(
        new_docs,
        standing_hashes,
        standing_sigs,
        rules,
        id_col,
        text_col,
        n,
        num_hashes,
        bands,
        threshold,
        standing_grams=standing_grams,
        span_k=span_k,
        truncate_lineage=True,
    )


def ingest_disposition(
    result: dict[str, DataFrame], id_col: str = "doc_id"
) -> DataFrame:
    """Flatten a funnel result into the per-doc DISPOSITION report —
    every increment doc exactly once: quarantined | exact_dup |
    near_dup | accepted. The end-to-end audit artifact (and the m70
    oracle target: one frame certifying the whole composition)."""
    return (
        result["quarantine"]
        .select(F.col(id_col).alias("doc_id"))
        .withColumn("disposition", F.lit("quarantined"))
        .unionByName(
            result["exact_dups"]
            .select("doc_id")
            .withColumn("disposition", F.lit("exact_dup"))
        )
        .unionByName(
            result["near_drops"]
            .select("doc_id")
            .withColumn("disposition", F.lit("near_dup"))
        )
        .unionByName(
            result["accepted"]
            .select(F.col(id_col).alias("doc_id"))
            .withColumn("disposition", F.lit("accepted"))
        )
    )


#: Default table names for the composed sink — one family per funnel
#: output, all committed through one manifest per trigger.
INGEST_TABLES = {
    "corpus": "corpus",
    "quarantine": "ingest_quarantine",
    "exact_dups": "exact_dups",
    "near_dup_pairs": "near_dup_pairs",
    "content_hashes": "content_hashes",
    "minhash_signatures": "minhash_signatures",
    # span-stage families (used only when span_k is set)
    "repeated_spans": "repeated_spans",
    "standing_grams": "standing_grams",
}


def run_incremental_ingest(
    stream: DataFrame,
    root: str,
    layer: str,
    checkpoint_dir: str,
    rules: Mapping[str, str],
    schema_allow: set[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    tables: Mapping[str, str] = INGEST_TABLES,
    span_k: int | None = None,
    maintenance_every: int | None = None,
    maintenance_kwargs: Mapping | None = None,
    retractable_grams: bool | None = None,
) -> None:
    """The composed streaming ingest: one foreachBatch, one funnel, ONE
    atomic manifest commit per trigger across all six table families
    (eight with ``span_k`` set, which adds the long-substring stage:
    span audit rows for accepted docs + the standing gram set, judged
    at arrival time exactly like the standalone span sink) —
    a reader through ``read_manifest_tables`` can never see a corpus
    append whose dedup reports haven't landed (or vice versa), the
    multi-table analogue of the reference's per-run transaction block.

    Per-trigger cost = the :func:`ingest_increment` contract (two
    standing scans: hash table map-side, signature table band join),
    NOT the sum of the three standalone sinks (each of which scans its
    own standing state per trigger) — composing them this way is both
    the atomicity fix and the wall-clock fix; SCALE.md carries the
    measured composed wall at ×1/×10/×100 standing.

    Exactly-once: marker-gated on the checkpoint identity exactly like
    the round-10 sinks — a checkpoint-loss replay of an applied batch
    is a no-op. Schema drift on the CORPUS table is gated the
    ``stream_write_with_expectations`` way: unreviewed drift fails the
    batch before anything commits; ``schema_allow`` statuses are
    permitted and recorded in the commit meta. Empty frames are dropped
    from the commit (quiet triggers don't grow segment lists); the
    marker meta still advances.

    Retraction-aware (``plans.retract``): the standing content-hash and
    signature reads are filtered against the layer's tombstone table, so
    a retracted doc's hash no longer exact-drops a re-arrival and its
    signature no longer near-suppresses — the standing state this funnel
    sees IS the post-retraction corpus, without waiting for the physical
    compaction rewrite.

    ``retractable_grams`` (span stage only): True persists the gram
    state DOC-ATTRIBUTED (``doc_gram_set`` rows — retraction-capable);
    False the set shape; None (default) INFERS the shape from an
    existing standing gram table and bootstraps set-shaped — the same
    semantics as the standalone span sink, so a restart never has to
    restate the choice (round-13 self-review). An EXPLICIT flag that
    contradicts the standing table's shape fails the batch loudly
    (ADVICE r12 #1) instead of committing mixed-schema segments whose
    mergeSchema reads would yield NULL-contributor rows no retraction
    could ever remove.

    Maintenance cadence (VERDICT r11 #7): with ``maintenance_every=N``,
    every Nth micro-batch runs
    :func:`plans.maintenance.run_maintenance_tick` on this layer AFTER
    its commit (``maintenance_kwargs`` forwarded — compaction
    thresholds, z-order columns, vacuum retention). The tick is
    idempotent and CAS-protected, so the cadence composes with replay
    (a replayed batch skips its commit AND its tick — state already
    reflects both) and with concurrent sinks (a lost CAS is reported in
    the tick's return, never retried into this ingest). Without the
    flag the documented contract stands: segments accumulate until an
    external scheduler runs the tick.
    """
    from novi_pdq_etl_project_prod_spark.operators.expectations import (
        ExpectationError,
    )
    from novi_pdq_etl_project_prod_spark.operators.quality import schema_drift
    from novi_pdq_etl_project_prod_spark.plans.retract import (
        read_tombstones,
        retract_ids,
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        read_manifest_meta,
        read_manifest_table,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        _exactly_once,
        _maybe_maintenance,
        _run_available_now,
    )

    if span_k is not None:
        # fail fast BEFORE the stream starts: a caller-supplied tables
        # mapping missing the span families would otherwise surface as a
        # bare KeyError inside foreachBatch (ADVICE r11)
        missing = {"repeated_spans", "standing_grams"} - set(tables)
        if missing:
            raise ValueError(
                f"span_k={span_k} needs table names for "
                f"{sorted(missing)} in `tables` (see INGEST_TABLES)"
            )
    allow = set(schema_allow) if schema_allow is not None else set()
    # cumulative funnel accounting, the stream_write_with_expectations
    # convention: totals ride the same atomic commit as the data, keyed
    # by the corpus table, so an operator reads ingest health from ONE
    # manifest meta entry instead of re-counting report tables
    counts_key = f"ingest_counts:{tables['corpus']}"

    def _ingest(batch_df: DataFrame, batch_id: int, marker: str) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            with cache.scope():
                extra_meta: dict = {}
                existing = read_manifest_table(
                    spark, root, layer, tables["corpus"]
                )
                drift = (
                    []
                    if existing is None
                    else schema_drift(existing, batch_df)
                )
                blocked = [d for d in drift if d["status"] not in allow]
                if blocked:
                    raise ExpectationError(
                        f"{tables['corpus']}: unreviewed schema drift "
                        f"{blocked}; allowed statuses {sorted(allow)} — "
                        f"batch {batch_id} not committed"
                    )
                if drift:
                    extra_meta[f"schema_drift:{tables['corpus']}"] = drift
                # standing state is read through the retraction contract:
                # a retracted doc's hash must not exact-drop a re-arrival,
                # its signature must not near-suppress (plans.retract).
                # ONE tombstone read serves all three anti-joins — this
                # is the per-batch hot path (round-12 review).
                tomb = read_tombstones(spark, root, layer)

                def _live(table, idc):
                    df = read_manifest_table(spark, root, layer, table)
                    return df if df is None else retract_ids(df, tomb, idc)

                standing_grams = None
                attributed = bool(retractable_grams)
                if span_k is not None:
                    standing_grams = read_manifest_table(
                        spark, root, layer, tables["standing_grams"]
                    )
                    if standing_grams is not None:
                        # an EXPLICIT flag must AGREE with the standing
                        # table's shape (ADVICE r12 #1): a flipped
                        # restart would commit mixed-schema segments —
                        # mergeSchema reads then yield NULL-contributor
                        # rows no retraction anti-join can ever remove
                        # (or doc_id rows a set-shaped reader ignores).
                        # Fail the batch BEFORE anything commits. With
                        # the flag unset (None) the table's shape wins —
                        # a restart never restates the choice.
                        attributed = "doc_id" in standing_grams.columns
                        if (
                            retractable_grams is not None
                            and retractable_grams != attributed
                        ):
                            raise ValueError(
                                f"{tables['standing_grams']} is "
                                f"{'doc-attributed' if attributed else 'set-shaped'}"
                                f" but retractable_grams={retractable_grams}: "
                                "restart with the flag matching the standing "
                                "table (or migrate the table explicitly)"
                            )
                        if attributed:
                            # doc-attributed (retractable) gram table
                            standing_grams = retract_ids(
                                standing_grams, tomb, "doc_id"
                            )
                result = ingest_increment(
                    batch_df,
                    _live(tables["content_hashes"], "canonical_id"),
                    _live(tables["minhash_signatures"], "id"),
                    rules,
                    id_col,
                    text_col,
                    n,
                    num_hashes,
                    bands,
                    threshold,
                    standing_grams=standing_grams,
                    span_k=span_k,
                    retractable_grams=attributed,
                )
                fresh = {
                    "n_rows": batch_df.count(),
                    "quarantined": result["quarantine"].count(),
                    "exact_dups": result["exact_dups"].count(),
                    "near_dups": result["near_drops"].count(),
                }
                fresh["accepted"] = (
                    fresh["n_rows"]
                    - fresh["quarantined"]
                    - fresh["exact_dups"]
                    - fresh["near_dups"]
                )
                if span_k is not None:
                    # accepted docs carrying >= 1 repeated span (audit
                    # signal — span docs are still accepted rows)
                    fresh["span_docs"] = (
                        result["repeated_spans"]
                        .select("doc_id")
                        .distinct()
                        .count()
                    )
                prior = read_manifest_meta(root, layer).get(counts_key) or {}
                # union of key sets: a restart with a different stage
                # mix (e.g. span_k turned off) must carry forward the
                # counters it no longer produces, not erase them
                total = {
                    k: int(prior.get(k, 0)) + int(fresh.get(k, 0))
                    for k in set(prior) | set(fresh)
                }
                candidates = {
                    tables["corpus"]: result["accepted"],
                    tables["quarantine"]: result["quarantine"],
                    tables["exact_dups"]: result["exact_dups"],
                    tables["near_dup_pairs"]: result["near_dup_pairs"],
                    tables["content_hashes"]: result["new_hashes"],
                    tables["minhash_signatures"]: result["new_sigs"],
                }
                if span_k is not None:
                    candidates[tables["repeated_spans"]] = result[
                        "repeated_spans"
                    ]
                    # with retractable_grams, new_grams IS the
                    # doc-attributed (doc_id, gh) delta — one row per
                    # accepted doc's distinct gram, ALL of them (not
                    # just unseen ones): retraction must know every
                    # contributor, and the existence readers dedup
                    # downstream either way. Same cached gram explode
                    # as the span detection; still O(batch).
                    candidates[tables["standing_grams"]] = result[
                        "new_grams"
                    ]
                committed = {
                    t: df for t, df in candidates.items() if not df.isEmpty()
                }
                commit_tables(
                    committed,
                    root,
                    layer,
                    meta={marker: batch_id, counts_key: total, **extra_meta},
                    append_tables=tuple(committed),
                    # self-validating physical row counts for the tables
                    # whose sizes this funnel already computed for its
                    # report — zero extra actions; they make downstream
                    # audits (the ANN staleness lane) O(manifest)
                    # instead of O(corpus-id-scan) per tick (round 14)
                    rowcount_deltas={
                        t: c
                        for t, c in (
                            (tables["corpus"], fresh["accepted"]),
                            (tables["quarantine"], fresh["quarantined"]),
                        )
                        if t in committed
                    },
                )
            # cadence hook (VERDICT r11 #7): the tick runs AFTER the
            # batch's own commit, outside the cache scope
            _maybe_maintenance(
                spark, root, layer, batch_id,
                maintenance_every, maintenance_kwargs,
            )
        finally:
            batch_df.unpersist()

    _run_available_now(
        stream, _exactly_once(root, layer, checkpoint_dir, _ingest), checkpoint_dir
    )
