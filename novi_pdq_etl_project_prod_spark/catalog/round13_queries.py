"""Round-13 catalog additions — retractable gram state certification
and the persisted-index ANN hybrid (VERDICT r12 items 2 and 5).

M87 closes the ONE standing-state family without an m80-pattern
post-retraction certificate: DOC-ATTRIBUTED gram state
(``operators.dedup.doc_gram_set``, the ``retractable_grams=True`` shape
the ingest funnel and span sink persist). The accumulated (doc_id, gh)
table, tombstone-filtered through ``plans.retract.retract_ids``, must
drive the incremental span detector to EXACTLY the span set a
from-scratch gram build over the SURVIVING corpus would produce — the
m82 certification shape applied to gram state. The oracle rebuilds the
full-corpus m71/m73 chain over (surviving standing ∪ increment)
restricted to increment docs: a genuinely different computation path
(the engine never re-tokenizes the standing corpus; it reads one gram
column through an anti-join) arriving at the same spans.

M88 is the PERSISTED-INDEX form of the m85 ANN hybrid: the IVF
assignment is built ONCE as snapshot-committed tables
(``build_ivf_index`` — the deployment shape for ANN over 100 TB, where
the corpus-assignment pass is paid once and every probe batch reads two
tables) and the dense channel probes it via ``ivf_index_topk``. Same
centroids (deterministic training: lowest-id sample, seeded k-means++,
fixed Lloyd iterations), same probe routing, same fusion — so the fused
output is REQUIRED to be row-identical to m85 (pinned in
tests/test_round13_ops.py, the m79==m74 two-paths-one-answer pattern).
Approximate dense channel ⇒ no SQL oracle (the m85/m10/m17 class); the
driver records the rows-only check and the identity pin carries the
correctness weight.

Reference anchor: the reference's only persisted derived artifact is
its staging/model tables rebuilt per run (``dags/pdq_etl_dag.py``);
the persisted-index contract here is the engine's generalization —
build-once state that many later queries consume unchanged
(``spark_jobs/transform_operator.py:16-31`` is the same idea for the
month slice).
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.catalog.round12_queries import (
    _M84_C,
    _M84_KIN,
    _M84_KOUT,
    _M85_NLISTS,
    _M85_NPROBE,
    _PROBE_IDS,
    _lex_channel,
)
from novi_pdq_etl_project_prod_spark.session import read_table as _t


QUERIES = {}
ORACLES = {}


# ---------------------------------------------------------------------------
# M87 — post-retraction RETRACTABLE GRAM STATE: the accumulated
# doc-attributed gram table (doc_gram_set — what retractable_grams=True
# persists), anti-joined against a curation drop list, must route the
# incremental span detector exactly like a gram set built from scratch
# over the surviving corpus. Standing = even ids, drop = standing ids
# divisible by 10 (the m82 split), increment = odd ids; k matches the
# m71/m73 span family so the certification is non-empty at sf0.01.
# ---------------------------------------------------------------------------

_M87_K = 10
_M87_DROP = "doc_id % 10 = 0"


def m87_retracted_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        doc_gram_set,
        incremental_repeated_spans,
    )
    from novi_pdq_etl_project_prod_spark.plans.retract import retract_ids

    docs = _t(spark, sf_dir, "documents")
    standing = docs.where(F.col("doc_id") % 2 == 0)
    # the ACCUMULATED attributed gram table a prior retractable_grams
    # ingest left behind...
    doc_grams = doc_gram_set(standing, k=_M87_K)
    # ...then the curation drop, applied as the tombstone anti-join
    tomb = standing.where(F.expr(_M87_DROP)).select("doc_id")
    live = retract_ids(doc_grams, tomb, "doc_id")
    inc = docs.where(F.col("doc_id") % 2 == 1)
    return incremental_repeated_spans(inc, live, k=_M87_K).orderBy(
        "doc_id", "span_start"
    )


M87_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
  WHERE doc_id % 2 = 1
     OR (doc_id % 2 = 0 AND NOT ({_M87_DROP}))
),
g AS (
  SELECT doc_id, i AS s,
         md5(array_to_string(list_slice(t, i, i + {_M87_K} - 1), ' ')) AS gh
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {_M87_K} + 1)) AS i
        FROM toks WHERE len(t) >= {_M87_K})
),
rep AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
marks AS (
  SELECT doc_id, s, s + {_M87_K} AS e
  FROM g JOIN rep USING (gh)
  WHERE doc_id % 2 = 1
),
isl AS (
  SELECT doc_id, s, e,
         CASE WHEN s > coalesce(MAX(e) OVER (PARTITION BY doc_id ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS brk
  FROM marks),
grp AS (
  SELECT doc_id, s, e,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS UNBOUNDED PRECEDING) AS isl
  FROM isl)
SELECT doc_id,
       CAST(MIN(s) AS INT) AS span_start,
       CAST(MAX(e) AS INT) AS span_end,
       CAST(MAX(e) - MIN(s) AS BIGINT) AS span_tokens
FROM grp GROUP BY doc_id, isl
ORDER BY doc_id, span_start
"""

QUERIES["m87_retracted_grams"] = m87_retracted_grams
ORACLES["m87_retracted_grams"] = M87_SQL


# ---------------------------------------------------------------------------
# M88 — the m85 ANN hybrid against a PERSISTED IVF index (VERDICT r12
# #5): build_ivf_index materializes centroids + list-routed vectors as
# snapshot-committed tables (the one expensive corpus pass), then the
# dense channel probes the STORED index — no training, no assignment in
# the query path. Deterministic training makes the persisted route
# row-identical to m85's in-query route (pinned by test); the index
# build is INSIDE the timed query on purpose: the bench row prices the
# build-once pass honestly rather than hiding it in fixture setup.
# ---------------------------------------------------------------------------


def _m88_root(sf_dir: str) -> str:
    """A deterministic per-fixture scratch warehouse for the persisted
    index — the _CURRENT pointer protocol makes a re-run an atomic
    rebuild (old snapshots stay readable until GC), so a stable path is
    correct across repeated bench/driver invocations."""
    slug = re.sub(r"\W+", "_", os.path.abspath(sf_dir)).strip("_")
    return os.path.join(tempfile.gettempdir(), "spark_graft_m88", slug)


def m88_hybrid_ann_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_topk,
        rrf_fuse,
    )

    from novi_pdq_etl_project_prod_spark.sources.layers import vacuum

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    root = _m88_root(sf_dir)
    build_ivf_index(emb, root, table="m88", n_lists=_M85_NLISTS)
    # the scratch index is corpus-sized and rebuilt per invocation —
    # without GC every bench/pytest/probe run would leave another full
    # snapshot under /tmp forever (round-13 self-review). retain=2
    # keeps the just-built version plus one predecessor (a reader
    # holding last run's lazy frame stays valid); the default grace
    # window protects any concurrent builder.
    vacuum(root, "curated", retain=2)
    lex = _lex_channel(spark, docs)
    dense = ivf_index_topk(
        spark,
        root,
        emb.where(F.col("vec_id").isin(_PROBE_IDS)),
        table="m88",
        k=_M84_KIN,
        nprobe=_M85_NPROBE,
    ).select("query_id", "neighbor_id", "rank")
    return rrf_fuse([lex, dense], k=_M84_KOUT, c=_M84_C).orderBy(
        "query_id", "rank"
    )


QUERIES["m88_hybrid_ann_persisted"] = m88_hybrid_ann_persisted
# no ORACLES entry: approximate dense channel (the m85 class) — the
# correctness weight is the exact row-identity pin vs m85 in
# tests/test_round13_ops.py (two paths, one answer: in-query IVF vs
# persisted index)
