"""``tools/scale_probe.replicate_full`` builds the ×K replica the scaled
board and the full-catalog sweep run on: facts, events, documents and
embeddings grow K×, dims stay fixed, and no replica is an artifact of
its source (shifted keys, suffixed tokens, isometric vectors)."""

import re

import numpy as np

from tools import scale_probe

SRC = "/root/testdata/sf0.001"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"
#: Java regex ``\s``, which the replica's ``(\S+)`` token rewrite uses
_JAVA_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")


def _tokens(text):
    return [t for t in _JAVA_SPACE.split(text) if t]


def test_replicate_full_k2(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(scale_probe, "SRC", SRC)
    # session.read_table sets the conf to "true" on every fixture read,
    # so pin "false" first: the builder must hand back the caller's value
    session_nanos = spark.conf.get(NANOS, None)
    spark.conf.set(NANOS, "false")
    try:
        scale_probe.replicate_full(spark, str(tmp_path), 2)
        assert spark.conf.get(NANOS) == "false"
    finally:
        if session_nanos is None:
            spark.conf.unset(NANOS)
        else:
            spark.conf.set(NANOS, session_nanos)

    def read(root, t):
        return spark.read.parquet(f"{root}/{t}.parquet")

    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        assert read(tmp_path, t).count() == 2 * read(SRC, t).count(), t
    for t in ("customer", "supplier", "part", "nation", "region"):
        assert read(tmp_path, t).count() == read(SRC, t).count(), t

    # o_orderkey is unique per replica, so the two replicas' keys are
    # disjoint exactly when the union holds twice as many
    keys = read(tmp_path, "orders").select("o_orderkey").distinct().count()
    assert keys == 2 * read(SRC, "orders").count()

    src_docs = dict(read(SRC, "documents").select("doc_id", "text").collect())
    max_doc = max(src_docs) + 1
    rep1 = read(tmp_path, "documents").where(f"doc_id >= {max_doc}")
    rep1_docs = dict(rep1.select("doc_id", "text").collect())
    assert sorted(rep1_docs) == [d + max_doc for d in sorted(src_docs)]
    for doc_id, text in rep1_docs.items():
        want = [t + "x1" for t in _tokens(src_docs[doc_id - max_doc])]
        assert _tokens(text) == want, doc_id

    src_vecs = dict(read(SRC, "embeddings").select("vec_id", "embedding").collect())
    max_id = max(src_vecs) + 1
    ids = sorted(src_vecs)[:8]
    rep_vecs = dict(
        read(tmp_path, "embeddings")
        .where(f"vec_id >= {max_id}")
        .select("vec_id", "embedding")
        .collect()
    )

    def cos(a, b):
        a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    for a, b in zip(ids, ids[1:]):
        src_cos = cos(src_vecs[a], src_vecs[b])
        rep_cos = cos(rep_vecs[a + max_id], rep_vecs[b + max_id])
        assert abs(rep_cos - src_cos) < 1e-5, (a, b)
