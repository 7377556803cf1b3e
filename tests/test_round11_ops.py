"""Round-11 operators: long-substring dedup (repeated_spans /
excise_repeated_spans, Lee et al. 2022 at k-gram-chain grain) and the
composed ingest funnel's disposition surface."""

from __future__ import annotations

BLOCK = " ".join(f"shared{i}" for i in range(100))  # 100-token repeat


def _spans(spark, rows, k=50, min_count=2):
    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        repeated_spans,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in repeated_spans(df, k=k, min_count=min_count).collect()
    )


def test_repeated_spans_planted_100_token_block(spark):
    """A 100-token verbatim block planted in 3 docs at different
    offsets: each doc reports exactly ONE maximal span covering the
    block at its own offset; the all-unique doc reports nothing."""
    pre_a = " ".join(f"a{i}" for i in range(20))
    suf_a = " ".join(f"az{i}" for i in range(10))
    pre_c = " ".join(f"c{i}" for i in range(7))
    rows = [
        (1, pre_a + " " + BLOCK + " " + suf_a),
        (2, BLOCK + " " + " ".join(f"b{i}" for i in range(5))),
        (3, pre_c + " " + BLOCK),
        (4, " ".join(f"u{i}" for i in range(150))),  # unique: no spans
    ]
    assert _spans(spark, rows) == [
        (1, 21, 121, 100),
        (2, 1, 101, 100),
        (3, 8, 108, 100),
    ]


def test_repeated_spans_within_doc_repeat(spark):
    """The paper removes WITHIN-doc repeats too: one doc carrying the
    same 50-token block twice reports both occurrences (nothing else in
    the corpus repeats)."""
    blk = " ".join(f"d{i}" for i in range(50))
    mid = " ".join(f"m{i}" for i in range(5))
    rows = [
        (1, blk + " " + mid + " " + blk),
        (2, " ".join(f"o{i}" for i in range(80))),
    ]
    assert _spans(spark, rows) == [
        (1, 1, 51, 50),
        (1, 56, 106, 50),
    ]


def test_repeated_spans_adjacent_blocks_merge(spark):
    """Two repeated blocks ADJACENT in one doc merge into one maximal
    span (gaps-and-islands adjacency: s == running max end merges)."""
    blk1 = " ".join(f"p{i}" for i in range(50))
    blk2 = " ".join(f"q{i}" for i in range(50))
    rows = [
        (1, blk1 + " " + blk2),                 # adjacent occurrences
        (2, blk1 + " " + " ".join(f"x{i}" for i in range(10))),
        (3, " ".join(f"y{i}" for i in range(10)) + " " + blk2),
    ]
    got = _spans(spark, rows)
    assert (1, 1, 101, 100) in got  # merged, not [1,51)+[51,101)
    assert (2, 1, 51, 50) in got and (3, 11, 61, 50) in got


def test_excise_repeated_spans_reassembly(spark):
    """Excision removes exactly the covered tokens: the planted block
    vanishes, unique docs pass through byte-identical (single-space
    contract), and a doc that IS one repeated block comes back empty."""
    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        excise_repeated_spans,
    )

    pre = " ".join(f"a{i}" for i in range(20))
    suf = " ".join(f"az{i}" for i in range(10))
    unique = " ".join(f"u{i}" for i in range(60))
    rows = [
        (1, pre + " " + BLOCK + " " + suf),
        (2, BLOCK),
        (3, unique),
        (4, ""),        # token-less docs must NOT vanish (r11 review)
        (5, None),
        (6, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text)
        for r in excise_repeated_spans(df, k=50, min_count=2).collect()
    }
    assert got[1] == (130, 100, pre + " " + suf)
    assert got[2] == (100, 100, "")
    assert got[3] == (60, 0, unique)
    # every input doc gets a row; empty/NULL/whitespace -> (0, 0, "")
    assert got[4] == (0, 0, "") and got[5] == (0, 0, "")
    assert got[6] == (0, 0, "") and len(got) == 6


import pytest as _pytest  # noqa: E402
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# small vocab so repeats actually occur in random corpora
_DOC = st.lists(
    st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=18
).map(" ".join)


@given(docs=st.lists(_DOC, min_size=1, max_size=6))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_repeated_spans_matches_python_model(spark, docs):
    """Random tiny corpora vs a pure-Python model of the k-gram-chain
    semantics: flag every k-gram occurring >= min_count times
    corpus-wide, merge overlapping/adjacent flagged windows per doc —
    exact span sets must match (k=3 so short random docs qualify)."""
    from collections import Counter

    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        repeated_spans,
    )

    k, min_count = 3, 2
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in repeated_spans(df, k=k, min_count=min_count).collect()
    )

    grams: Counter = Counter()
    per_doc: dict[int, list[tuple[str, int]]] = {}
    for i, t in rows:
        toks = t.split()
        occ = [
            (" ".join(toks[j:j + k]), j + 1)
            for j in range(len(toks) - k + 1)
        ]
        per_doc[i] = occ
        grams.update(g for g, _ in occ)
    want = []
    for i, occ in per_doc.items():
        marks = sorted(s for g, s in occ if grams[g] >= min_count)
        cur = None
        for s in marks:
            e = s + k
            if cur and s <= cur[1]:
                cur[1] = max(cur[1], e)
            else:
                if cur:
                    want.append((i, cur[0], cur[1]))
                cur = [s, e]
        if cur:
            want.append((i, cur[0], cur[1]))
    assert got == sorted(want)


@given(docs=st.lists(_DOC, min_size=1, max_size=6))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_excise_repeated_spans_matches_python_model(spark, docs):
    """Random tiny corpora vs a pure-Python model of excision: a token
    is kept iff no window of a k-gram occurring >= min_count times
    corpus-wide covers it. Random docs over a 4-word vocabulary flag
    overlapping and touching windows, so the gap slices run at every
    interval boundary shape."""
    from collections import Counter

    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        excise_repeated_spans,
    )

    k, min_count = 3, 2
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.n_tokens, r.n_removed, r.text)
        for r in excise_repeated_spans(df, k=k, min_count=min_count).collect()
    )

    split = {i: t.split() for i, t in rows}
    grams = Counter(
        tuple(toks[j:j + k])
        for toks in split.values()
        for j in range(len(toks) - k + 1)
    )
    want = []
    for i, toks in split.items():
        covered = {
            j + d
            for j in range(len(toks) - k + 1)
            if grams[tuple(toks[j:j + k])] >= min_count
            for d in range(k)
        }
        kept = [x for p, x in enumerate(toks) if p not in covered]
        want.append((i, len(toks), len(toks) - len(kept), " ".join(kept)))
    assert got == sorted(want)


def test_incremental_spans_metamorphic_vs_full(spark):
    """The m73 contract on a planted fixture: incremental spans (new
    docs vs the standing gram set) == full-corpus repeated_spans
    restricted to the new docs — including a span repeated ONLY
    within the increment, and one only vs standing."""
    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        gram_set,
        incremental_repeated_spans,
        repeated_spans,
    )

    blk = " ".join(f"s{i}" for i in range(60))
    inc_blk = " ".join(f"n{i}" for i in range(55))
    standing_rows = [
        (2, " ".join(f"o{i}" for i in range(20)) + " " + blk),
        (4, " ".join(f"p{i}" for i in range(70))),
    ]
    new_rows = [
        (1, blk + " " + " ".join(f"q{i}" for i in range(10))),  # vs standing
        (3, inc_blk),                                            # vs doc 5
        (5, " ".join(f"r{i}" for i in range(8)) + " " + inc_blk),
        (7, " ".join(f"u{i}" for i in range(80))),               # clean
    ]
    standing = spark.createDataFrame(standing_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    got = sorted(
        map(tuple, incremental_repeated_spans(
            new, gram_set(standing, k=50), k=50
        ).collect())
    )
    full = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in repeated_spans(
            standing.unionByName(new), k=50, min_count=2
        ).collect()
        if r.doc_id % 2 == 1
    )
    assert got == full
    assert (1, 1, 61, 60) in got       # repeated vs standing
    assert (3, 1, 56, 55) in got       # repeated within the increment
    assert (5, 9, 64, 55) in got
    assert not any(d == 7 for d, *_ in got)


def test_stream_incremental_spans_arrival_time_contract(spark, tmp_path):
    """The streaming span sink over 2 increments: each batch's spans
    equal the batch-vs-(everything-seen-so-far) metamorphic oracle; the
    standing gram set accumulates new hashes only; checkpoint-loss
    replay is a no-op."""
    import shutil
    import time as _time

    from novi_pdq_etl_project_prod_spark.operators.dedup import (
        repeated_spans,
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        read_manifest,
        read_manifest_tables,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        stream_incremental_repeated_spans,
    )

    blk = " ".join(f"w{i}" for i in range(50))
    batch1 = [(1, blk + " " + " ".join(f"a{i}" for i in range(10))),
              (2, " ".join(f"b{i}" for i in range(60)))]
    # doc 3 repeats doc 1's block (arrival-time: reported on doc 3);
    # doc 4 is clean
    batch2 = [(3, " ".join(f"c{i}" for i in range(5)) + " " + blk),
              (4, " ".join(f"d{i}" for i in range(55)))]
    updates_dir = str(tmp_path / "docs")
    for rows in (batch1, batch2):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(updates_dir)
        _time.sleep(1.1)
    root = str(tmp_path / "wh")
    chk = str(tmp_path / "chk")

    def _run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(updates_dir)
        )
        stream_incremental_repeated_spans(
            stream, root, "curated", chk, k=50
        )

    _run()
    tables = read_manifest_tables(spark, root, "curated")
    got = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in tables["repeated_spans"].collect()
    )
    # batch 1 alone has no repeats; batch 2's doc 3 repeats vs standing
    assert got == [(3, 6, 56)]
    # the gram set covers all four docs' distinct grams exactly once
    all_g = (
        spark.createDataFrame(batch1 + batch2, "doc_id long, text string")
    )
    from novi_pdq_etl_project_prod_spark.operators.dedup import gram_set

    want_g = {r.gh for r in gram_set(all_g, k=50).collect()}
    got_g = [r.gh for r in tables["standing_grams"].collect()]
    assert sorted(got_g) == sorted(want_g), "gram set wrong or duplicated"
    # arrival-time contract documented: doc 1's span is NOT reported
    # (the repeat arrived later)
    full = {
        (r.doc_id, r.span_start, r.span_end)
        for r in repeated_spans(all_g, k=50).collect()
    }
    assert (1, 1, 51) in full and (1, 1, 51) not in set(got)

    shutil.rmtree(chk)
    _run()  # replay: marker-gated no-op
    after = read_manifest_tables(spark, root, "curated")
    assert after["repeated_spans"].count() == 1
    assert after["standing_grams"].count() == len(want_g)
    man = read_manifest(root, "curated")
    assert isinstance(man["standing_grams"], list)


# ---------------------------------------------------------------------------
# m74 BM25 / m75 DSIR (round-11 continuation)
# ---------------------------------------------------------------------------


def _bm25_py(docs, terms, k1=(6, 5), b=(3, 4)):
    """Pure-Python model of bm25_scores: same rational-constant
    reduction, same fixed-point quantization, same IEEE tree."""
    import math

    toks = {i: t.split() for i, t in docs}
    dl = {i: len(t) for i, t in toks.items()}
    n = len(docs)
    s = sum(dl.values())
    a_ = (k1[0] + k1[1]) * b[1]
    b_ = k1[1] * b[1]
    c_ = k1[0] * (b[1] - b[0])
    d_ = k1[0] * b[0]
    tf = {}
    for i, t in toks.items():
        for w in t:
            if w in terms:
                tf[(i, w)] = tf.get((i, w), 0) + 1
    df = {}
    for (_, w) in tf:
        df[w] = df.get(w, 0) + 1
    out = {}
    for (i, w), f in tf.items():
        idf = math.log(2 * n + 2) - math.log(2 * df[w] + 1)
        # double products in the engine's order (overflow-safe tree)
        term = idf * (
            (float(a_) * float(f) * float(s))
            / (
                float(b_) * float(f) * float(s)
                + float(c_) * float(s)
                + float(d_) * float(dl[i]) * float(n)
            )
        )
        q = math.floor(term * 1e6)
        cnt, tot = out.get(i, (0, 0))
        out[i] = (cnt + 1, tot + q)
    return {i: (cnt, tot / 1e6) for i, (cnt, tot) in out.items()}


def test_bm25_matches_python_model(spark):
    from novi_pdq_etl_project_prod_spark.operators.text import bm25_scores

    docs = [
        (1, "join hash join join scan filter extra pad pad pad"),
        (2, "join vector"),
        (3, "scan filter merge sort sort sort"),  # zero hits
        (4, "vector vector vector join hash hash"),
        (5, "stream"),
    ]
    terms = ("join", "vector", "stream")
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.id: (r.n_hit_terms, r.score)
        for r in bm25_scores(df, terms).collect()
    }
    assert got == _bm25_py(docs, set(terms))
    assert 3 not in got  # zero-hit docs excluded by contract


def test_bm25_ranking_semantics(spark):
    """Rarer terms score higher (idf), repetition saturates (k1), and
    longer docs are penalized (b) — the three BM25 axioms on a
    controlled fixture."""
    from novi_pdq_etl_project_prod_spark.operators.text import bm25_scores

    # 'rare' appears in 1 of 6 docs; 'common' in 5 of 6.
    docs = [
        (1, "rare pad0 pad1 pad2"),
        (2, "common pad0 pad1 pad2"),
        (3, "common x0 x1 x2"),
        (4, "common y0 y1 y2"),
        (5, "common z0 z1 z2"),
        (6, "common w0 w1 w2"),
        # same tf, same terms, doc 8 twice as long as doc 7
        (7, "common common p0 p1"),
        (8, "common common q0 q1 q2 q3 q4 q5"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.id: r.score
        for r in bm25_scores(df, ("rare", "common")).collect()
    }
    assert got[1] > got[2]          # idf: rare term beats common term
    assert got[7] > got[2]          # tf: two hits beat one (same length)
    assert got[7] > got[8]          # length norm: shorter doc wins at equal tf
    assert got[7] < 2 * got[2] + 1e-9  # saturation: 2nd hit adds < 1st


def _dsir_py(target, raw, n_buckets=256):
    import hashlib
    import math

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % n_buckets

    ct, cr = {}, {}
    for _, t in target:
        for w in t.split():
            b = bucket(w)
            ct[b] = ct.get(b, 0) + 1
    feats = {}
    for i, t in raw:
        for w in t.split():
            b = bucket(w)
            cr[b] = cr.get(b, 0) + 1
            feats.setdefault(i, {})
            feats[i][b] = feats[i].get(b, 0) + 1
    tt, tr = sum(ct.values()), sum(cr.values())
    out = {}
    for i, bs in feats.items():
        nf, tot = 0, 0
        for b, n in bs.items():
            lr = (
                math.log(ct.get(b, 0) + 1)
                - math.log(cr.get(b, 0) + 1)
                + math.log(tr + n_buckets)
                - math.log(tt + n_buckets)
            )
            nf += n
            tot += math.floor((n * lr) * 1e6)
        out[i] = (nf, tot / 1e6)
    return out


def test_dsir_matches_python_model(spark):
    from novi_pdq_etl_project_prod_spark.operators.text import dsir_logweights

    target = [(100 + i, "alpha beta gamma delta alpha beta") for i in range(4)]
    raw = [
        (1, "alpha beta gamma"),        # target-like
        (2, "omega psi chi phi"),       # foreign
        (3, "alpha omega alpha beta"),  # mixed
        (4, ""),                        # token-less: excluded
    ]
    tdf = spark.createDataFrame(target, "doc_id long, text string")
    rdf = spark.createDataFrame(raw, "doc_id long, text string")
    got = {
        r.id: (r.n_feats, r.logweight)
        for r in dsir_logweights(tdf, rdf).collect()
    }
    assert got == _dsir_py(target, raw)
    assert 4 not in got


def test_dsir_selection_direction(spark):
    """The importance weight must rank target-distribution-like raw
    docs above foreign ones — the property that makes DSIR selection
    work at all."""
    from novi_pdq_etl_project_prod_spark.operators.text import dsir_logweights

    target = [(100 + i, "alpha beta gamma delta") for i in range(10)]
    raw = [
        (1, "alpha beta gamma delta"),
        (2, "omega psi chi phi"),
        (3, "alpha beta chi phi"),
    ]
    tdf = spark.createDataFrame(target, "doc_id long, text string")
    rdf = spark.createDataFrame(raw, "doc_id long, text string")
    got = {r.id: r.logweight for r in dsir_logweights(tdf, rdf).collect()}
    assert got[1] > got[3] > got[2]


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_WORDS = ["join", "vector", "stream", "hash", "scan", "pad", "row", "col"]
_DOCTEXT = st.lists(
    st.sampled_from(_WORDS), min_size=0, max_size=12
).map(" ".join)
_CORPUS = st.lists(_DOCTEXT, min_size=1, max_size=12).map(
    lambda ts: [(i + 1, t) for i, t in enumerate(ts)]
)


@given(docs=_CORPUS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bm25_matches_python_model_random_corpora(spark, docs):
    """Random small corpora (shared Zipf-less vocab, empty docs
    included) vs the pure-Python BM25 model — pins the exact-integer
    reduction and the fixed-point sum bit-for-bit, including df/tf
    collisions and zero-hit documents."""
    from novi_pdq_etl_project_prod_spark.operators.text import bm25_scores

    terms = ("join", "vector", "stream")
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.id: (r.n_hit_terms, r.score)
        for r in bm25_scores(df, terms).collect()
    }
    assert got == _bm25_py(docs, set(terms))


@given(
    target=_CORPUS.map(lambda d: [(100 + i, t) for i, t in d]),
    raw=_CORPUS,
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dsir_matches_python_model_random_corpora(spark, target, raw):
    """Random target/raw corpora vs the pure-Python DSIR model —
    bucket collisions, target-only buckets, raw-only buckets, and
    empty docs all land on the exact same fixed-point weights."""
    from novi_pdq_etl_project_prod_spark.operators.text import dsir_logweights

    tdf = spark.createDataFrame(target, "doc_id long, text string")
    rdf = spark.createDataFrame(raw, "doc_id long, text string")
    got = {
        r.id: (r.n_feats, r.logweight)
        for r in dsir_logweights(tdf, rdf).collect()
    }
    assert got == _dsir_py(target, raw)


def _inc_dsir_py(inc, tgt_counts, standing_counts, n_buckets=256):
    """Pure-Python model of incremental_dsir_logweights: score against
    TARGET counts and the STANDING raw counts (not the increment's
    own), dense bucket universe, same fixed-point tree."""
    import hashlib
    import math

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % n_buckets

    tt = sum(tgt_counts.values())
    tr = sum(standing_counts.values())
    out = {}
    for i, t in inc:
        feats = {}
        for w in t.split():
            b = bucket(w)
            feats[b] = feats.get(b, 0) + 1
        if not feats:
            continue
        nf, tot = 0, 0
        for b, n in feats.items():
            lr = (
                math.log(tgt_counts.get(b, 0) + 1)
                - math.log(standing_counts.get(b, 0) + 1)
                + math.log(tr + n_buckets)
                - math.log(tt + n_buckets)
            )
            nf += n
            tot += math.floor((n * lr) * 1e6)
        out[i] = (nf, tot / 1e6)
    return out


def _counts_py(docs, n_buckets=256):
    import hashlib

    c = {}
    for _i, t in docs:
        for w in t.split():
            b = int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % n_buckets
            c[b] = c.get(b, 0) + 1
    return c


def test_incremental_dsir_matches_python_model(spark):
    """The incremental op scores against arrival-time state: target
    counts + STANDING raw counts only — including increment-only
    buckets (dense universe: they take the Laplace-floor log-ratio
    instead of silently dropping)."""
    from novi_pdq_etl_project_prod_spark.operators.text import (
        dsir_bucket_counts,
        incremental_dsir_logweights,
    )

    target = [(100 + i, "alpha beta gamma delta") for i in range(5)]
    standing = [(200, "omega psi alpha"), (201, "chi phi phi")]
    inc = [
        (1, "alpha beta omega"),
        (2, "zzz_totally_unseen_token qqq_another"),  # increment-only buckets
        (3, ""),                                       # token-less: excluded
    ]
    tdf = spark.createDataFrame(target, "doc_id long, text string")
    sdf = spark.createDataFrame(standing, "doc_id long, text string")
    idf = spark.createDataFrame(inc, "doc_id long, text string")
    res = incremental_dsir_logweights(
        idf, dsir_bucket_counts(tdf), dsir_bucket_counts(sdf)
    )
    got = {
        r.id: (r.n_feats, r.logweight) for r in res["weights"].collect()
    }
    assert got == _inc_dsir_py(inc, _counts_py(target), _counts_py(standing))
    assert 3 not in got and 2 in got  # unseen buckets scored, not dropped
    # the delta frame is exactly the increment's own counts
    got_counts = {(r.b, r.n) for r in res["new_counts"].collect()}
    assert got_counts == set(_counts_py(inc).items())


def test_stream_dsir_weights_arrival_time_and_replay(spark, tmp_path):
    """The DSIR sink over 2 increments: the SAME text arriving in batch
    1 and batch 2 gets DIFFERENT weights (batch 1's deltas shifted q̂ —
    the arrival-time contract for distribution state); the raw-count
    table sums to the true corpus counts across delta segments;
    checkpoint-loss replay is a no-op; an unseeded target raises."""
    import shutil
    import time as _time

    import pytest as _pytest

    from novi_pdq_etl_project_prod_spark.operators.text import (
        dsir_bucket_counts,
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        read_manifest_tables,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        stream_dsir_weights,
    )

    target = [(100 + i, "alpha beta gamma delta") for i in range(5)]
    batch1 = [(1, "alpha beta omega"), (2, "omega psi chi")]
    batch2 = [(3, "alpha beta omega"), (4, "phi rho tau")]  # 3 == 1's text
    updates_dir = str(tmp_path / "docs")
    for rows in (batch1, batch2):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(updates_dir)
        _time.sleep(1.1)
    root = str(tmp_path / "wh")
    chk = str(tmp_path / "chk")

    def _run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(updates_dir)
        )
        stream_dsir_weights(stream, root, "curated", chk)

    # unseeded target must raise loudly, not score against nothing
    with _pytest.raises(Exception, match="dsir_target_buckets"):
        _run()
    shutil.rmtree(chk, ignore_errors=True)

    tdf = spark.createDataFrame(target, "doc_id long, text string")
    commit_tables(
        {"dsir_target_buckets": dsir_bucket_counts(tdf)}, root, "curated"
    )
    _run()
    tables = read_manifest_tables(spark, root, "curated")
    got = {
        r.doc_id: (r.n_feats, r.logweight)
        for r in tables["dsir_weights"].collect()
    }
    tgt_c = _counts_py(target)
    want1 = _inc_dsir_py(batch1, tgt_c, {})
    want2 = _inc_dsir_py(batch2, tgt_c, _counts_py(batch1))
    assert got == {**want1, **want2}
    # the same text scored differently at different arrival times
    assert got[1] != got[3] and got[1][0] == got[3][0]
    # delta segments sum to the true corpus counts
    from pyspark.sql import functions as F

    raw_rows = tables["dsir_raw_buckets"].groupBy("b").agg(
        F.sum("n").alias("n")
    )
    assert {(r.b, r.n) for r in raw_rows.collect()} == set(
        _counts_py(batch1 + batch2).items()
    )

    shutil.rmtree(chk)
    _run()  # replay: marker-gated no-op
    after = read_manifest_tables(spark, root, "curated")
    assert after["dsir_weights"].count() == 4


def test_incremental_dsir_rejects_mismatched_bucket_count(spark):
    """A count table seeded with a different n_buckets must raise, not
    silently drop its out-of-range buckets from the universe join
    (round-11 review)."""
    import pytest as _pytest

    from novi_pdq_etl_project_prod_spark.operators.text import (
        dsir_bucket_counts,
        incremental_dsir_logweights,
    )

    tdf = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    )
    idf = spark.createDataFrame(
        [(2, "alpha omega")], "doc_id long, text string"
    )
    big = dsir_bucket_counts(tdf, n_buckets=512)
    with _pytest.raises(ValueError, match="n_buckets"):
        incremental_dsir_logweights(idf, big, None, n_buckets=256)[
            "weights"
        ].collect()


def test_dsir_sink_state_survives_maintenance_compaction(spark, tmp_path):
    """Day-in-the-life integration: the DSIR sink runs 3 triggers, the
    maintenance tick compacts the accumulated delta segments, then 3
    MORE triggers run on the compacted state — every weight still
    matches the arrival-time Python model (compaction is a row union,
    so the additive count state is preserved bit-for-bit), and the
    segment list actually shrank."""
    import time as _time

    from pyspark.sql import functions as F

    from novi_pdq_etl_project_prod_spark.operators.text import (
        dsir_bucket_counts,
    )
    from novi_pdq_etl_project_prod_spark.plans.maintenance import (
        run_maintenance_tick,
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        read_manifest_tables,
        segment_count,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        stream_dsir_weights,
    )

    target = [(100 + i, "alpha beta gamma delta") for i in range(5)]
    wave1 = [
        [(1, "alpha beta omega")],
        [(2, "omega psi chi")],
        [(3, "alpha gamma rho")],
    ]
    wave2 = [
        [(4, "alpha beta omega")],   # same text as doc 1, later arrival
        [(5, "psi chi tau")],
        [(6, "beta delta phi")],
    ]
    updates_dir = str(tmp_path / "docs")
    root = str(tmp_path / "wh")
    chk = str(tmp_path / "chk")
    tdf = spark.createDataFrame(target, "doc_id long, text string")
    commit_tables(
        {"dsir_target_buckets": dsir_bucket_counts(tdf)}, root, "curated"
    )

    def _run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(updates_dir)
        )
        stream_dsir_weights(stream, root, "curated", chk)

    for rows in wave1:
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(updates_dir)
        _time.sleep(1.1)
    _run()
    assert segment_count(root, "curated", "dsir_raw_buckets") >= 3

    # maintenance between triggers: compact everything aggressively
    report = run_maintenance_tick(
        spark, root, "curated", max_segments=2, vacuum_retain=0,
        vacuum_grace_seconds=0.0,
    )
    assert report["compact"]["dsir_raw_buckets"]["fired"]
    assert segment_count(root, "curated", "dsir_raw_buckets") == 1

    for rows in wave2:
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(updates_dir)
        _time.sleep(1.1)
    _run()

    tables = read_manifest_tables(spark, root, "curated")
    got = {
        r.doc_id: (r.n_feats, r.logweight)
        for r in tables["dsir_weights"].collect()
    }
    tgt_c = _counts_py(target)
    want = {}
    seen: list = []
    for rows in wave1 + wave2:
        want.update(_inc_dsir_py(rows, tgt_c, _counts_py(seen)))
        seen.extend(rows)
    assert got == want
    # the compacted + post-compaction deltas still sum to true counts
    raw = {
        (r.b, r.n)
        for r in tables["dsir_raw_buckets"].groupBy("b").agg(
            F.sum("n").alias("n")
        ).collect()
    }
    assert raw == set(_counts_py(seen).items())
    # arrival-time across the compaction boundary: doc 4 == doc 1's
    # text but a shifted q̂
    assert got[1] != got[4]


def test_bm25_index_build_once_search_many(spark, tmp_path):
    """The persisted inverted index (commit → read back → search)
    scores byte-identically to the from-scratch path, and ADDITIVE
    increments (each batch appends its own postings/doclens rows as
    delta segments) reconstruct the full-corpus index exactly — the
    IVF build-once/search-many pattern on the lexical side."""
    from novi_pdq_etl_project_prod_spark.operators.text import (
        bm25_scores,
        bm25_scores_from_index,
        build_bm25_index,
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        commit_tables,
        read_manifest_tables,
    )

    batch1 = [
        (1, "join hash join scan filter pad0 pad1"),
        (2, "vector join stream"),
    ]
    batch2 = [
        (3, "scan merge sort join join join"),
        (4, "stream vector vector pad2 pad3 pad4 pad5"),
        (5, ""),        # zero-token docs must still count in n_docs
        (6, None),      # (round-11 continuation review: doclens from
        (7, "   "),     #  the doc frame, not a postings rollup)
    ]
    terms = ("join", "vector", "stream")
    full = spark.createDataFrame(batch1 + batch2, "doc_id long, text string")
    want = {
        r.id: (r.n_hit_terms, r.score)
        for r in bm25_scores(full, terms).collect()
    }

    root = str(tmp_path / "wh")
    for i, rows in enumerate((batch1, batch2)):
        idx = build_bm25_index(
            spark.createDataFrame(rows, "doc_id long, text string")
        )
        commit_tables(
            {"bm25_postings": idx["postings"], "bm25_doclens": idx["doclens"]},
            root,
            "curated",
            append_tables=("bm25_postings", "bm25_doclens") if i else (),
        )
    tables = read_manifest_tables(spark, root, "curated")
    got = {
        r.id: (r.n_hit_terms, r.score)
        for r in bm25_scores_from_index(
            tables["bm25_postings"], tables["bm25_doclens"], terms
        ).collect()
    }
    assert got == want


def test_stream_bm25_index_matches_from_scratch(spark, tmp_path):
    """The streaming index sink over 2 increments: searching the
    accumulated delta segments equals from-scratch BM25 on the union
    corpus exactly (including a zero-token doc that must count in
    n_docs); checkpoint-loss replay is a no-op (no double-counted
    postings)."""
    import shutil
    import time as _time

    from novi_pdq_etl_project_prod_spark.operators.text import (
        bm25_scores,
        bm25_scores_from_index,
    )
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        read_manifest_tables,
    )
    from novi_pdq_etl_project_prod_spark.streaming.events import (
        stream_bm25_index,
    )

    batch1 = [(1, "join hash join scan filter pad0 pad1"), (2, "vector join")]
    batch2 = [(3, "stream vector vector pad2 pad3"), (4, "")]
    terms = ("join", "vector", "stream")
    updates_dir = str(tmp_path / "docs")
    for rows in (batch1, batch2):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(updates_dir)
        _time.sleep(1.1)
    root = str(tmp_path / "wh")
    chk = str(tmp_path / "chk")

    def _run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(updates_dir)
        )
        stream_bm25_index(stream, root, "curated", chk)

    _run()
    full = spark.createDataFrame(batch1 + batch2, "doc_id long, text string")
    want = {
        r.id: (r.n_hit_terms, r.score)
        for r in bm25_scores(full, terms).collect()
    }

    def _search():
        tables = read_manifest_tables(spark, root, "curated")
        return {
            r.id: (r.n_hit_terms, r.score)
            for r in bm25_scores_from_index(
                tables["bm25_postings"], tables["bm25_doclens"], terms
            ).collect()
        }

    assert _search() == want
    shutil.rmtree(chk)
    _run()  # replay: marker-gated no-op, postings not double-counted
    assert _search() == want
