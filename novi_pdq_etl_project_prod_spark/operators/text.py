"""Text-analysis operators for training-data pipelines (SURVEY.md §7.2 M6):
tokenization, token counting, quality scoring, language-ID heuristic,
document fingerprinting.

All hot-path logic is built-in ``pyspark.sql.functions`` (split / lambda
higher-order functions / md5) — JVM-side, codegen'd, no Python workers.
Cross-engine determinism: hashing uses md5 (identical output in DuckDB),
ratios use exact integer counts divided as doubles at the end.

Scale notes: everything here is a narrow per-row projection — no shuffle
at all. At 100 TB these pipeline stages fuse into the scan via
whole-stage codegen; the only cost is CPU, which scales linearly with
executors.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Default whitespace tokenizer pattern (split on runs of whitespace).
WS_PATTERN = r"\s+"

#: Small stopword list used by quality scoring / lang-ID demos. An
#: engine user supplies their own per-language lists.
STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(col: Column | str, pattern: str = WS_PATTERN) -> Column:
    """Whitespace tokenization → array<string>; empty strings removed
    (split on a blank document yields [''] otherwise)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), pattern), lambda t: t != F.lit(""))


def token_count(col: Column | str) -> Column:
    """Whitespace token count — the cheap proxy for LLM token budgeting."""
    return F.size(tokens(col))


#: RE2-compatible piece pattern (no lookarounds — portable to DuckDB's
#: regexp_extract_all for oracle parity): word/number runs, else any
#: single non-space symbol.
BPE_ISH_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish piece count: word/digit runs + individual punctuation marks
    (a regex approximation of byte-pair tokenizer output size —
    deliberately simple, deterministic, and JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(0)))


#: Fixture merge-rank vocabulary for the pluggable BPE counter — a small
#: deterministic stand-in for a real tokenizer's merge table (VERDICT r05
#: item 6). A deployment swaps in its own pieces; the segmentation
#: semantics (greedy longest-match-first, 1-char fallback) are the
#: standard WordPiece-style inference rule and do not change with the
#: vocabulary.
BPE_FIXTURE_VOCAB = (
    "the", "ing", "tion", "and", "ent", "ion", "for", "ati", "ter",
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "ed", "es",
    "or", "ar", "al", "is", "it", "of", "to", "ou", "le", "se", "ve",
    "me", "de", "ri", "ro", "ic", "ne", "ra", "ce", "li", "ch", "ll",
    "be", "ma", "si", "om", "ur", "st", "nt", "nd",
)


def bpe_vocab_token_count(
    col: Column | str, vocab: Sequence[str] = BPE_FIXTURE_VOCAB
) -> Column:
    """Exact token count under greedy longest-match-first segmentation
    against a broadcast merge-rank vocabulary — the pluggable BPE-budget
    counter behind :func:`token_count`'s whitespace proxy.

    Semantics (engine-portable, oracled by a DuckDB recursive CTE in
    m47): split into word/punct pieces with :data:`BPE_ISH_PATTERN`,
    then segment each piece left-to-right, at every position consuming
    the LONGEST vocabulary entry that matches, else exactly one
    character; the count is the total number of consumed units.

    Scale shape: a pure JVM expression — two nested higher-order-
    function folds (words, then character positions) with the vocabulary
    inlined as an array literal: zero Python, zero shuffle, zero UDF.
    But HOF lambdas evaluate INTERPRETED (outside whole-stage codegen),
    so cost is O(chars × |vocab|) per row of real expression-tree eval —
    measured 15.7× wall at 10× docs. This column form is for small
    corpora / plugged-in quality gates; corpus-scale accounting goes
    through :func:`bpe_token_counts`, which runs the same fold once per
    DISTINCT word (Zipf-bounded, like :func:`vocab_coverage`) and joins
    occurrence-weighted counts back.
    """
    c = F.col(col) if isinstance(col, str) else col
    words = F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(0))
    # null text counts 0, matching the oracle's no-words aggregation
    return F.coalesce(
        F.aggregate(
            words,
            F.lit(0).cast("long"),
            lambda acc, w: acc + _bpe_word_tokens(w, vocab),
        ),
        F.lit(0).cast("long"),
    )


def _bpe_word_tokens(w: Column, vocab: Sequence[str]) -> Column:
    """Greedy longest-match-first unit count for ONE word, as a fold over
    char positions: `skip` counts positions still covered by the last
    consumed unit; a new unit starts when skip == 0."""
    pieces = F.array(*[F.lit(p) for p in vocab])

    def step(acc, pos):
        best = F.greatest(
            F.lit(1),
            F.array_max(
                F.transform(
                    pieces,
                    lambda p: F.when(
                        F.substring(w, pos, F.length(p)) == p, F.length(p)
                    ).otherwise(F.lit(0)),
                )
            ),
        )
        consume = acc["skip"] == 0
        return F.struct(
            F.when(consume, best - 1).otherwise(acc["skip"] - 1).alias("skip"),
            F.when(consume, acc["cnt"] + 1).otherwise(acc["cnt"]).alias("cnt"),
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.length(w)),
        F.struct(F.lit(0).alias("skip"), F.lit(0).alias("cnt")),
        step,
        lambda acc: acc["cnt"],
    )


def load_bpe_vocab(lines) -> list[str]:
    """Parse a real tokenizer vocabulary from the two public text
    formats, stdlib-only (VERDICT r06 item 6). ``lines`` is an iterable
    of strings (pass ``open(path)`` or ``text.splitlines()``).

    - **merges.txt** (GPT-2/RoBERTa style): each line ``left right`` is
      a merge rule; the learned piece is ``left + right``. A leading
      ``#version`` header is skipped. The returned vocabulary is the
      merged pieces plus their single-character alphabet (greedy
      inference needs the base symbols only as the implicit 1-char
      fallback, so they are not added explicitly).
    - **tiktoken** (``<base64 piece> <rank>`` per line): pieces are
      base64-decoded; non-UTF-8 byte pieces (raw byte fallbacks) are
      skipped — this engine segments text, not bytes.

    GPT-2's ``Ġ``/SentencePiece's ``▁`` space markers are stripped:
    :data:`BPE_ISH_PATTERN` pre-splits words, so leading-space variants
    would never match. Detection is per-file (first data line); pieces
    are deduped preserving first occurrence (merge order ≈ rank order,
    though greedy longest-match inference only uses the piece SET).
    """
    import base64
    import binascii

    pieces: list[str] = []
    seen: set[str] = set()
    fmt = None
    for raw in lines:
        line = raw.rstrip("\n")
        if not line.strip() or line.startswith("#"):
            continue
        parts = line.split(" ")
        if fmt is None:
            if len(parts) == 2 and parts[1].isdigit():
                try:
                    base64.b64decode(parts[0], validate=True)
                    fmt = "tiktoken"
                except (binascii.Error, ValueError):
                    fmt = "merges"
            else:
                fmt = "merges"
        if fmt == "tiktoken":
            try:
                piece = base64.b64decode(parts[0], validate=True).decode("utf-8")
            except (binascii.Error, ValueError, UnicodeDecodeError):
                continue
        else:
            if len(parts) != 2:
                continue
            piece = parts[0] + parts[1]
        piece = piece.replace("Ġ", "").replace("▁", "")
        if len(piece) >= 2 and piece not in seen:
            seen.add(piece)
            pieces.append(piece)
    return pieces


#: Above this vocabulary size, :func:`bpe_token_counts` switches from the
#: inlined HOF fold (cost ∝ chars × |vocab| of interpreted expression
#: eval — fine at fixture size, hopeless at 30k pieces) to the
#: broadcast-join segmentation path.
BPE_LARGE_VOCAB_THRESHOLD = 256


def _bpe_word_tokens_large(words: DataFrame, vocab: Sequence[str]) -> DataFrame:
    """(distinct word → greedy token count) for PRODUCTION-SIZED
    vocabularies: instead of testing every piece at every position
    (the HOF fold), candidate substrings equi-join against the broadcast
    piece table and one O(chars) fold segments from the per-position
    best-match lengths.

    Identical semantics to :func:`_bpe_word_tokens` (greedy longest-
    match-first, 1-char fallback): ``best(pos) = max piece length
    matching at pos`` is what the inline fold's ``array_max`` computes —
    the two paths are interchangeable and tested equal.

    Cost: |distinct words| × word_len × max_piece_len candidate rows
    into a broadcast hash join — Zipf-bounded upstream, linear in the
    distinct-word mass, independent of |vocab| per row. Input must have
    a ``_w`` column; output is ``_w``, ``_ntok``.
    """
    spark = words.sparkSession
    max_len = max(len(p) for p in vocab)
    vocab_df = spark.createDataFrame(
        [(p,) for p in dict.fromkeys(vocab)], "piece string"
    ).withColumn("plen", F.length("piece"))
    cand = (
        words.select("_w", F.explode(F.sequence(F.lit(1), F.length("_w"))).alias("pos"))
        .select(
            "_w",
            "pos",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_len), F.length("_w") - F.col("pos") + 1),
                )
            ).alias("plen"),
        )
        .withColumn("piece", F.expr("substring(_w, pos, plen)"))
    )
    best = (
        cand.join(F.broadcast(vocab_df), ["piece", "plen"])
        .groupBy("_w", "pos")
        .agg(F.max("plen").alias("best"))
    )
    # fold the per-position best lengths (1 where no piece matched) into
    # the greedy segment count — positions gathered sorted, then one
    # O(chars) pass identical in shape to _bpe_word_tokens' fold
    per_word = (
        words.select("_w")
        .join(best, "_w", "left")
        .groupBy("_w")
        .agg(
            F.sort_array(
                # when() without otherwise yields NULL for the unmatched
                # word's left-join row, and collect_list skips NULLs —
                # so a match-free word gets an EMPTY array, not a
                # null-field struct
                F.collect_list(
                    F.when(
                        F.col("pos").isNotNull(),
                        F.struct(F.col("pos"), F.col("best")),
                    )
                )
            ).alias("bests")
        )
    )
    return per_word.select(
        "_w",
        F.when(F.size("bests") == 0, F.length("_w").cast("long"))  # no match rows
        .otherwise(
            _greedy_fold_over_positions(F.col("bests"), F.length("_w"))
        )
        .alias("_ntok"),
    )


def _greedy_fold_over_positions(bests: Column, word_len: Column) -> Column:
    """Greedy segmentation count from a sorted array of (pos, best-match
    length) structs covering only MATCHED positions; unmatched positions
    consume one character each. Walk the matched positions in order,
    keeping ``at`` = next uncovered position: gaps before a match are
    1-char units; a match starting before ``at`` is shadowed (already
    covered by a longer earlier unit)."""
    stepped = F.aggregate(
        bests,
        F.struct(F.lit(1).cast("int").alias("at"), F.lit(0).cast("long").alias("cnt")),
        lambda acc, x: F.when(
            x["pos"] < acc["at"],
            acc,  # shadowed by a previously consumed unit
        ).otherwise(
            F.struct(
                (x["pos"] + F.greatest(x["best"], F.lit(1))).cast("int").alias("at"),
                # chars in the gap each count 1, plus this unit
                (acc["cnt"] + (x["pos"] - acc["at"]) + 1).alias("cnt"),
            )
        ),
    )
    # trailing gap after the last consumed unit
    return stepped["cnt"] + F.greatest(
        word_len - stepped["at"] + 1, F.lit(0)
    ).cast("long")


def bpe_token_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: Sequence[str] = BPE_FIXTURE_VOCAB,
) -> DataFrame:
    """Corpus-scale exact BPE token counts: (``id_col``, ``n_tokens``).

    Same segmentation semantics as :func:`bpe_vocab_token_count`, but the
    expensive greedy fold runs once per DISTINCT word and multiplies by
    occurrence counts — the Zipf amortization that makes tokenizer-exact
    accounting affordable (higher-order-function expressions evaluate
    interpreted, so cost ∝ evaluated chars × |vocab|; measured 15.7×
    wall at 10× docs for the inline column vs ~linear for this shape).
    Shuffle traffic is (id, word-hash) pairs and the distinct-word
    relation — document text never moves. Use the inline column form
    only for small corpora or tiny vocabularies.
    """
    words = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0))
        ).alias("_w"),
    )
    wcount = words.groupBy(id_col, "_w").agg(F.count(F.lit(1)).alias("_cnt"))
    distinct_words = wcount.select("_w").distinct()
    if len(vocab) > BPE_LARGE_VOCAB_THRESHOLD:
        # production vocab (30k+ pieces): broadcast-join segmentation —
        # per-row cost independent of |vocab| (VERDICT r06 item 6)
        wtok = _bpe_word_tokens_large(distinct_words, vocab)
    else:
        wtok = distinct_words.select(
            "_w", _bpe_word_tokens(F.col("_w"), vocab).alias("_ntok")
        )
    per_doc = (
        wcount.join(wtok, "_w")
        .groupBy(id_col)
        .agg(F.sum(F.col("_cnt") * F.col("_ntok")).alias("n_tokens"))
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
        )
    )


def distinct_token_ratio(col: Column | str) -> Column:
    """Vocabulary diversity: |distinct tokens| / |tokens| (1.0 for empty).
    Low values flag boilerplate/repetitive documents."""
    t = tokens(col)
    return F.when(F.size(t) == 0, F.lit(1.0)).otherwise(
        F.size(F.array_distinct(t)).cast("double") / F.size(t)
    )


def stopword_ratio(col: Column | str, stopwords: Sequence[str] = STOPWORDS_EN) -> Column:
    """Share of tokens that are stopwords — a classic fluency heuristic
    (natural prose has a stable stopword rate; keyword spam does not)."""
    t = tokens(col)
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(t, lambda x: F.array_contains(sw, F.lower(x))))
    return F.when(F.size(t) == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / F.size(t)
    )


def mean_token_length(col: Column | str) -> Column:
    t = tokens(col)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(t) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(t)
    )


def language_score(col: Column | str, wordlist: Sequence[str]) -> Column:
    """Hit count of ``wordlist`` members among the tokens — the building
    block of the n-gram/wordlist language-ID heuristic."""
    t = tokens(col)
    wl = F.array(*[F.lit(w) for w in wordlist])
    return F.size(F.filter(t, lambda x: F.array_contains(wl, F.lower(x))))


def detect_language(
    col: Column | str, wordlists: dict[str, Sequence[str]], default: str = "und"
) -> Column:
    """Argmax language over wordlist hit counts, deterministic tie-break by
    language code order. Rule-based and cheap; swap in a real model via the
    multimodal pandas-UDF path when fidelity matters."""
    scores = [(lang, language_score(col, wl)) for lang, wl in sorted(wordlists.items())]
    best = None
    best_score = None
    for lang, score in scores:
        if best is None:
            best, best_score = F.lit(lang), score
        else:
            take = score > best_score
            best = F.when(take, F.lit(lang)).otherwise(best)
            best_score = F.when(take, score).otherwise(best_score)
    return F.when(best_score > 0, best).otherwise(F.lit(default))


def document_fingerprint(col: Column | str) -> Column:
    """Whole-document fingerprint: md5 of the whitespace-normalized,
    lower-cased text. Identical fingerprints ⇔ exact (normalized)
    duplicates; the groupBy key for exact dedup."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.concat_ws(" ", tokens(c))))


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct) — the unit of near-dup
    similarity. Built with transform over token index offsets; stays
    JVM-side.

    The gram is built with a single ``slice`` per position rather than
    ``element_at`` × n: higher-order-function lambdas are interpreted
    without subexpression elimination, so every reference to the token
    array inside the lambda re-evaluates it per element (measured 2.3×
    on the full gram explode). Callers that explode grams should prefer
    materializing ``tokens()`` in its own projection first (see
    ``ngram_novelty``) — multiple downstream references stop
    CollapseProject from inlining the split back into the lambda."""
    t = tokens(col)
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(0)))
    gram = lambda i: F.concat_ws(" ", F.slice(t, i, n))  # noqa: E731
    return F.when(F.size(t) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(F.transform(idx, gram))
    )


#: RE2-safe PII-ish patterns (portable to the DuckDB oracle).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\-. ]{7,}[0-9]",
    "ssn_like": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}


def redact_pii(col: Column | str, replacement: str = "[REDACTED]") -> Column:
    """Regex scrubbing of email/phone/SSN-like spans — the minimum PII
    hygiene pass a training corpus gets before anything else. Patterns
    are RE2-safe and deliberately conservative (precision over recall);
    swap in a model-based NER scrubber via the multimodal pandas-UDF
    path when recall matters."""
    c = F.col(col) if isinstance(col, str) else col
    out = c
    for pattern in PII_PATTERNS.values():
        out = F.regexp_replace(out, pattern, replacement)
    return out


def max_term_frequency_ratio(col: Column | str) -> Column:
    """Share of the document occupied by its single most frequent token —
    the Gopher-style repetition signal (boilerplate and keyword spam
    score high). Row-local: sort the token array, fold counting the
    longest run. 1.0 for empty docs (maximally degenerate)."""
    t = F.array_sort(tokens(col))
    # fold: (best_run, cur_run, prev_token)
    acc = F.aggregate(
        t,
        F.struct(
            F.lit(0).alias("best"), F.lit(0).alias("cur"), F.lit(None).cast("string").alias("prev")
        ),
        lambda a, x: F.struct(
            F.greatest(
                a["best"],
                F.when(x == a["prev"], a["cur"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
            F.when(x == a["prev"], a["cur"] + 1).otherwise(F.lit(1)).alias("cur"),
            x.alias("prev"),
        ),
    )
    return F.when(F.size(t) == 0, F.lit(1.0)).otherwise(
        acc["best"].cast("double") / F.size(t)
    )


def gopher_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-rules-style quality gate: attach boolean flags for the
    classic reject conditions; ``passes_gopher`` is their conjunction.
    Thresholds follow the published Gopher heuristics where the fixture
    permits (word count, mean word length, repetition)."""
    n = token_count(text_col)
    mean_len = mean_token_length(text_col)
    rep = max_term_frequency_ratio(text_col)
    return (
        df.withColumn("n_words", n)
        .withColumn("ok_word_count", (n >= 50) & (n <= 100_000))
        .withColumn("ok_mean_word_len", (mean_len >= 3) & (mean_len <= 10))
        .withColumn("ok_repetition", rep <= 0.2)
        .withColumn(
            "passes_gopher",
            (n >= 50) & (n <= 100_000) & (mean_len >= 3) & (mean_len <= 10) & (rep <= 0.2),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """TF-IDF with per-document top-k terms — the classic relevance /
    keyword-extraction primitive, entirely JVM-side.

    tf = term count within the document; idf = ln((N+1)/(df+1)) + 1
    (smoothed, sklearn-style). Plan shape: one explode + two shuffles
    (term-count groupBy, df groupBy) + a broadcast join of the term→df
    map + per-doc top-k window. At 100 TB the df map is the only global
    state and it is |vocabulary|-sized — broadcastable for any natural-
    language vocab; the rest is embarrassingly parallel.

    Deterministic: integer counts, ln over integer ratios, score ties
    broken by term string ascending.
    """
    from pyspark.sql import Window

    n_docs = df.count()
    terms = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    tf = terms.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.select(
        "term",
        (
            F.log((F.lit(n_docs).cast("double") + 1) / (F.col("df").cast("double") + 1))
            + 1
        ).alias("idf"),
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        "id", "term", "tf", (F.col("tf") * F.col("idf")).alias("tfidf")
    )
    w = Window.partitionBy("id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id", "term", "tf", "tfidf", "rank")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    standard LLM context-window preprocessing step.

    Chunk i covers tokens [i·stride, i·stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the final partial window is kept.
    JVM-side: token array → index sequence → slice per index → explode.
    No shuffle; output rows carry (id, chunk_id, chunk_text, n_tokens)
    so downstream dedup/quality operators run per-chunk unchanged.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    t = tokens(F.col(text_col))
    n = F.size(t)
    # chunk start offsets: 0, stride, 2*stride, ... while start < n
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride)).cast("int") + 1
    )
    starts = F.transform(
        F.sequence(F.lit(0), n_chunks - 1), lambda i: i * stride
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start"),
            F.concat_ws(" ", F.slice(t, s + 1, chunk_tokens)).alias("chunk_text"),
            F.least(n - s, F.lit(chunk_tokens)).alias("n_tokens"),
        ),
    )
    out = df.select(
        F.col(id_col).alias("id"), F.posexplode(chunks).alias("chunk_id", "c")
    )
    return out.select(
        "id",
        "chunk_id",
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


def min_shingle_hash(col: Column | str, n: int = 3) -> Column:
    """1-permutation MinHash: lexicographic min of md5(shingle). A single
    deterministic, SQL-expressible signature component (the k-permutation
    generalization lives in operators.dedup)."""
    return F.array_min(F.transform(shingles(col, n), F.md5))


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every k-gram, slide a window of ``window``
    consecutive hashes, keep each window's minimum — guaranteeing any
    match of length >= k + window - 1 tokens shares a fingerprint, with
    ~2/(window+1) of hashes retained.

    Shape: the k-gram array is built ONCE per row (a single transform —
    O(tokens·k)), then posexplode + a row-frame MIN window compute the
    winnow. One shuffle (the per-document window/regroup). Building the
    window minima as nested array lambdas instead would inline the whole
    hash chain into every window position — O(grams²) md5 calls per
    document (measured 60s vs 2s on 500 docs) — which is why this is a
    DataFrame operator, not a Column expression.

    The hash is the first 8 md5 hex digits as an int — portable to the
    DuckDB oracle via ``('0x' || hex)::BIGINT``. Documents shorter than
    k + window - 1 tokens are dropped (no full window exists).

    Output: (id_col, n_fp, fingerprints) with the fingerprint set
    ascending, comma-joined (driver-compat: no array columns).
    """
    toks = tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("_t")).where(
        F.size("_t") >= F.lit(k + window - 1)
    )
    grams_arr = F.transform(
        F.sequence(F.lit(1), F.size("_t") - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i, k)),
    )
    g = base.select(
        id_col, F.posexplode(grams_arr).alias("_i", "_gram")
    ).select(
        id_col,
        "_i",
        F.conv(F.substring(F.md5("_gram"), 1, 8), 16, 10)
        .cast("long")
        .alias("_h"),
    )
    w_min = (
        Window.partitionBy(id_col)
        .orderBy("_i")
        .rowsBetween(Window.currentRow, window - 1)
    )
    w_cnt = Window.partitionBy(id_col)
    wins = g.select(
        id_col,
        "_i",
        F.min("_h").over(w_min).alias("_fp"),
        F.count(F.lit(1)).over(w_cnt).alias("_ng"),
    )
    fps = (
        wins.where(F.col("_i") <= F.col("_ng") - window)
        .select(id_col, "_fp")
        .distinct()
    )
    return fps.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_fp"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("_fp")),
                lambda h: h.cast("string"),
            ),
            ",",
        ).alias("fingerprints"),
    )


def corpus_frequency_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-LM rarity signals per document — the unigram-language-model
    quality filter (the integer-exact core of "mean token log-probability"
    scoring; taking ``ln`` of the returned counts is a trivial final map
    that would break cross-engine bit-determinism, so it stays out of the
    oracled surface).

    Output per document: ``n_tokens``, ``sum_tf`` (sum over tokens of
    that token's total corpus count), ``min_tf`` (the rarest token's
    corpus count — low values flag OOV/garbage), ``n_hapax`` (tokens
    occurring exactly once in the whole corpus).

    Scale shape: explode tokens → one hash-agg for the vocabulary →
    hash-join tokens back on word → per-doc agg. The vocabulary side is
    Zipf-bounded (millions of rows at 100 TB, broadcastable or an AQE
    broadcast candidate); token traffic shuffles twice, carrying only
    (id, word) pairs, never document text.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("_w")
    )
    vocab = toks.groupBy("_w").agg(F.count(F.lit(1)).alias("_tf"))
    return (
        toks.join(vocab, "_w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_tf").alias("sum_tf"),
            F.min("_tf").alias("min_tf"),
            F.sum(F.when(F.col("_tf") == 1, 1).otherwise(0)).alias("n_hapax"),
        )
    )


def ngram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k_num: int = 1,
    add_k_den: int = 2,
) -> DataFrame:
    """CCNet-style language-model quality score: train an add-k-smoothed
    BIGRAM word model on the corpus itself, then score every document by
    its per-bigram cross-entropy — the classic "perplexity filter" that
    drops machine-generated or boilerplate text whose local word
    transitions are unlike the corpus at large (low entropy) or pure
    noise (high entropy). CCNet uses a pre-trained KenLM; this is the
    self-trained, fully-distributed analogue with identical decision
    semantics (rank/threshold by cross-entropy).

    Per doc: ``H = mean over positional bigrams of
    −log2((c(w1,w2) + k) / (c(w1) + k·V))`` with ``k = add_k_num /
    add_k_den`` (default ½) and ``V`` the corpus vocabulary size.

    Determinism: each bigram's term is one identical IEEE expression in
    both engines (counts are exact integers; ln is the same certified
    surface m12's tf-idf oracles ride); the PER-DOC sum — where float
    addition order would split engines — rides the m56 fixed-point
    idiom (``floor(term·1e6)`` summed as BIGINT, quantization 1e-6·1/n,
    identical both sides).

    Scale shape: bigram explode → one hash-agg for the bigram table +
    one for unigrams (both Zipf-bounded) → two hash-joins carrying only
    (id, w1, w2) → per-doc agg. Linear, no pair joins, text never
    shuffles. Output: (id, n_bigrams, cross_entropy_bits), docs with
    < 2 tokens excluded (no bigrams to score).
    """
    toks = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t"))
    # positional bigrams via zip of shifted slices — NOT element_at in a
    # transform lambda, which is O(len) per call → O(len²) per row
    # interpreted (the measured m31 trap, see spark-plan-shape notes)
    zipped = F.zip_with(
        F.expr("slice(__t, 1, size(__t) - 1)"),
        F.expr("slice(__t, 2, size(__t) - 1)"),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = (
        toks.where(F.size("__t") >= 2)
        .select("id", F.explode(zipped).alias("b"))
        .select("id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    uni = df.select(F.explode(tokens(text_col)).alias("w1")).groupBy("w1").agg(
        F.count(F.lit(1)).alias("c1")
    )
    vocab_n = uni.agg(F.count(F.lit(1)).alias("__v"))  # 1-row scalar
    bigrams = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    kn, kd = add_k_num, add_k_den
    # term = -log2((c2 + kn/kd) / (c1 + kn/kd * V))
    #      = -(ln(c2·kd + kn) - ln(c1·kd + kn·V)) / ln(2)
    # kept in integer numerators so the only doubles are the two ln()
    # calls and one division — identical expression trees cross-engine
    term = -(
        F.log(F.col("c2") * kd + kn) - F.log(F.col("c1") * kd + kn * F.col("__v"))
    ) / F.log(F.lit(2.0))
    scored = (
        big.join(bigrams, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab_n))
        .select("id", F.floor(term * F.lit(1e6)).cast("long").alias("__tq"))
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        (
            F.sum("__tq").cast("double")
            / F.lit(1e6)
            / F.count(F.lit(1)).cast("double")
        ).alias("cross_entropy_bits"),
    )


def max_ngram_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Within-document n-gram repetition — the Gopher-style "fraction of
    text inside the most repeated n-gram" signal, per document: documents
    that loop the same phrase (boilerplate, template spam, decoding
    loops) score high and get filtered before training.

    Output: (id, n_ngrams, top_ngram_count, rep_frac) where rep_frac =
    top_ngram_count / n_ngrams (a single double division — exact inputs,
    deterministic result). The repeated gram's TEXT is deliberately not
    returned: ties would make it an arbitrary-survivor column.

    Scale shape: one explode + two hash-aggs (per (doc, gram), then per
    doc), all integer arithmetic; nothing but (id, gram-hash) shuffles.
    The gram itself is md5-hashed before the shuffle so wide grams don't
    inflate exchange payloads.
    """
    # NON-distinct grams (shingles() dedups, which would make every
    # per-gram count 1): every overlapping position counts. Tokens are
    # materialized in their own projection so the interpreted HOF lambda
    # slices a computed array instead of re-running the regex split per
    # gram position (see ngram_novelty).
    from novi_pdq_etl_project_prod_spark.operators.dedup import _kgram_hashes

    toks = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    grams_arr = F.when(
        F.size("_t") < n, F.array().cast("array<string>")
    ).otherwise(_kgram_hashes(F.col("_t"), n))
    grams = toks.select(F.col(id_col), F.explode(grams_arr).alias("_g"))
    per_gram = grams.groupBy(id_col, "_g").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return per_gram.groupBy(id_col).agg(
        F.sum("_c").alias("n_ngrams"),
        F.max("_c").alias("top_ngram_count"),
        (F.max("_c") / F.sum("_c")).alias("rep_frac"),
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """Cross-corpus novelty per document: of its distinct n-grams, how
    many first appear HERE (no document with a smaller id contains them)?
    The dedup-adjacent curation signal for ordered corpora (crawl snap-
    shots, versioned dumps): low novelty = mostly-derivative document.

    Output: (id, n_distinct_grams, n_novel_grams, novelty_frac).

    Scale shape (r05 rewrite; VERDICT r04 item 1): ONE pass over the
    corpus. Tokens are materialized in their own projection (multiple
    downstream references stop CollapseProject from inlining the regex
    split into the gram lambda, where interpreted HOF evaluation would
    re-split the full text once per gram position — the old plan's
    28s-at-sf0.1 pathology), grams explode once, and ``min(id) over
    (partition by gram)`` marks first-seen in the same shuffle that the
    old plan spent on the ``first_seen`` aggregate alone. The final
    per-doc agg is map-side combinable. Net: one text scan, one
    gram-cardinality shuffle, zero joins — the old gram-table join-back
    and double shingle computation are both gone (22.4s → ~1.4s at
    sf0.1, 16×).
    """
    from novi_pdq_etl_project_prod_spark.operators.dedup import _kgram_hashes

    toks = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    grams_arr = F.when(
        F.size("_t") < n, F.array().cast("array<string>")
    ).otherwise(F.array_distinct(_kgram_hashes(F.col("_t"), n)))
    grams = toks.select(F.col(id_col), F.explode(grams_arr).alias("_g"))
    novel = F.when(
        F.min(id_col).over(Window.partitionBy("_g")) == F.col(id_col), 1
    ).otherwise(0)
    return (
        grams.withColumn("_novel", novel)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_distinct_grams"),
            F.sum("_novel").alias("n_novel_grams"),
            (F.sum("_novel") / F.count(F.lit(1))).alias("novelty_frac"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """Per-document OOV rate against the corpus's own top-``vocab_size``
    token vocabulary — the "how much of this doc does my tokenizer's
    vocab actually cover" signal that drives vocab sizing and flags
    garbage/foreign documents.

    Scale shape: one token hash-agg builds counts; the top-N selection is
    ``orderBy().limit()`` — TakeOrderedAndProject, a per-partition heap +
    driver merge of N rows, never a single-partition sort of the whole
    vocabulary (a global row_number window was measured exactly
    vocabulary-linear at 10× corpus; the heap is constant) — tie-broken
    deterministically by token string; the resulting N-row vocab
    broadcasts into a left join that marks OOV tokens. Token traffic
    shuffles once; text never moves.
    """
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("_w"))
    counts = toks.groupBy("_w").agg(F.count(F.lit(1)).alias("_tf"))
    vocab = (
        counts.orderBy(F.col("_tf").desc(), F.col("_w"))
        .limit(vocab_size)
        .select("_w", F.lit(1).alias("_in"))
    )
    oov = F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
    return (
        toks.join(F.broadcast(vocab), "_w", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            oov.alias("n_oov"),
            (oov / F.count(F.lit(1))).alias("oov_frac"),
        )
    )


def dup_adjusted_token_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    token_counter=None,
) -> DataFrame:
    """Duplication-adjusted token accounting per ``group_col``: raw token
    counts vs tokens counted ONCE per exact-duplicate cluster — the
    honest "effective training tokens" number a mixture planner needs
    (raw counts silently over-weight boilerplate-heavy sources).

    Each document's normalized fingerprint (md5 of lower-cased,
    whitespace-collapsed text) is its cluster key; the cluster's
    representative is the lowest ``id_col`` (deterministic), and only
    the representative's tokens count as unique. One fingerprint-keyed
    window shuffle + one group hash-agg; all-integer output, so the
    oracle certifies it exactly. A representative is attributed to ITS
    OWN group — cross-source duplicates reduce the other sources'
    unique counts, which is precisely the signal.

    ``token_counter`` plugs in the budget unit (default whitespace
    :func:`token_count`; pass :func:`bpe_vocab_token_count` for exact
    BPE accounting — VERDICT r05 item 6).
    """
    counter = token_counter or token_count
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col),
        document_fingerprint(text_col).alias("_fp"),
        counter(text_col).alias("_nt"),
    )
    w = Window.partitionBy("_fp").orderBy(id_col)
    rep = F.row_number().over(w) == 1
    return (
        base.withColumn("_rep", rep)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("_rep"), 1).otherwise(0)).alias("n_unique_docs"),
            F.sum("_nt").alias("raw_tokens"),
            F.sum(F.when(F.col("_rep"), F.col("_nt")).otherwise(0)).alias(
                "unique_tokens"
            ),
        )
    )


def compression_signal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compressibility — the RefinedWeb/MassiveText-
    style "natural language doesn't compress like boilerplate" quality
    signal: templated spam and repeated blocks compress far below
    ~0.4×, while genuine prose sits around 0.5-0.7×. Documents far off
    that band get routed to the quality gate.

    Output: (id, n_raw_bytes, n_zlib_bytes, compression_ratio) with the
    ratio the single double edge over two exact integers.

    Engine note: no SQL oracle — DEFLATE is not expressible in a query
    engine; determinism is a pinned-zlib-build property (fixed level,
    default strategy), so ground truth lives in pytest invariants
    (planted repetitive vs prose documents, partition independence,
    byte-identity with a local zlib reference).

    Scale shape: row-local Arrow-batched UDF — the corpus streams
    through Python once with no shuffle; cost is pure CPU and scales
    with input bytes, exactly like the MinHash stage it usually rides
    alongside.
    """
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<n_raw: long, n_zlib: long>")
    def comp_udf(texts: pd.Series) -> pd.DataFrame:
        raw_n, zl_n = [], []
        for text in texts:
            b = (text or "").encode("utf-8")
            raw_n.append(len(b))
            zl_n.append(len(zlib.compress(b, level)))
        return pd.DataFrame({"n_raw": raw_n, "n_zlib": zl_n})

    c = comp_udf(F.col(text_col))
    return df.select(
        F.col(id_col),
        c["n_raw"].alias("n_raw_bytes"),
        c["n_zlib"].alias("n_zlib_bytes"),
        F.when(
            c["n_raw"] > 0, c["n_zlib"].cast("double") / c["n_raw"]
        ).alias("compression_ratio"),
    )


def bpe_train_merges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rounds: int = 5,
) -> DataFrame:
    """Distributed BPE merge TRAINING — learn the top merge rule per
    round from corpus pair frequencies (Sennrich et al. 2016), the
    companion to the vocabulary-APPLICATION path (``load_bpe_vocab`` /
    ``bpe_token_count``). Works at the distinct-word grain with word
    frequencies (the m47 Zipf amortization: pair statistics are summed
    as ``freq``-weighted counts, so the per-round cost scales with
    VOCABULARY, not corpus rows).

    One deliberate variant for exact cross-engine reproducibility:
    same-symbol pairs (x == x) are excluded from merge candidates, so
    merge occurrences can NEVER overlap and the per-round rewrite is a
    set-wise array transform — no greedy left-to-right scan whose
    overlap resolution every engine implements differently. Ties on
    pair count break (x, y) lexicographic. Every statistic is an exact
    integer and every step is deterministic, so a SQL oracle replays
    the SAME ``rounds`` rounds as unrolled CTEs (the m63 discipline) —
    BPE *training* under the bit-exact hash gate.

    Scale shape per round: one pair explode + map-side-combined
    hash-agg over the (vocabulary-sized) sequence table, one 1-row
    argmax reduce, one row-local array rewrite. The sequence table is
    persisted each round (it feeds both the next round's statistics and
    the rewrite — without the cache the lineage re-executes
    exponentially across rounds, and shared lambda subtrees under join
    dedup are the known INTERNAL_ERROR trap). Rounds are inherently
    sequential; everything inside a round is distributed.

    Output: (round, x, y, merged, pair_count) — the learned merge
    table, ``rounds`` rows.
    """
    from novi_pdq_etl_project_prod_spark import cache

    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    seq = cache.track(
        words.select(
            "w", "freq", F.regexp_extract_all("w", F.lit("."), 0).alias("syms")
        ),
        eager=True,
    )
    bests = []
    for r in range(1, rounds + 1):
        sl_a = F.expr("slice(syms, 1, size(syms) - 1)")
        sl_b = F.expr("slice(syms, 2, size(syms) - 1)")
        pairs = (
            seq.where(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.zip_with(
                        sl_a, sl_b,
                        lambda x, y: F.struct(x.alias("x"), y.alias("y")),
                    )
                ).alias("p"),
            )
            .where(F.col("p.x") != F.col("p.y"))
            .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("nc"),
                    F.col("x"),
                    F.col("y"),
                )
            ).alias("b")
        ).select(
            F.col("b.x").alias("x"),
            F.col("b.y").alias("y"),
            (-F.col("b.nc")).cast("long").alias("pair_count"),
        )
        # an exhausted corpus (no mergeable pair left) yields a NULL agg
        # row in Spark but zero rows from the oracle's LIMIT 1 — drop it
        # so both sides emit fewer rows identically
        bests.append(
            best.where(F.col("x").isNotNull()).select(
                F.lit(r).alias("round"), "x", "y", "pair_count"
            )
        )
        if r == rounds:
            break
        joined = seq.crossJoin(F.broadcast(best))
        bpad = F.concat(
            F.expr("slice(syms, 2, size(syms) - 1)"), F.array(F.lit(""))
        )
        m = F.zip_with(
            F.col("syms"),
            bpad,
            lambda s, t: (s == F.col("x")) & (t == F.col("y")),
        )
        step = joined.select("w", "freq", "x", "y", F.col("syms"), m.alias("m"))
        mprev = F.concat(
            F.array(F.lit(False)), F.expr("slice(m, 1, size(m) - 1)")
        )
        z = F.zip_with(
            F.col("syms"),
            F.col("m"),
            lambda s, mi: F.struct(s.alias("s"), mi.alias("mi")),
        )
        rewritten = F.filter(
            F.zip_with(
                z,
                mprev,
                lambda e, mp: F.when(e["mi"], F.concat(e["s"], F.col("y")))
                .when(mp, F.lit(None))
                .otherwise(e["s"]),
            ),
            lambda v: v.isNotNull(),
        )
        seq = cache.track(
            step.select("w", "freq", rewritten.alias("syms")), eager=True
        )
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out.select(
        F.col("round").cast("int").alias("round"),
        "x",
        "y",
        F.concat("x", "y").alias("merged"),
        "pair_count",
    ).orderBy("round")


def bm25_scores(
    df: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1_num: int = 6,
    k1_den: int = 5,
    b_num: int = 3,
    b_den: int = 4,
) -> DataFrame:
    """BM25 relevance scoring of every document against a fixed query —
    the lexical-retrieval primitive (Robertson & Zaragoza 2009) that
    pairs with the dense-ANN side (m7/m10/m17) under rank fusion (m59).
    The reference repo exposes only exact-match filters over text; this
    is the standard scored-retrieval upgrade a training-data pipeline
    needs for query-driven corpus audits ("which docs does this probe
    query surface?").

    score(d) = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    with the Lucene-style non-negative idf(t) = ln(1 + (N−df+½)/(df+½))
    = ln((2N+2)/(2df+1)).

    Determinism (the m62 contract): k1 and b are RATIONALS (defaults
    6/5 and 3/4), so each per-term score reduces to

        (ln(2N+2) − ln(2df+1)) · A·tf·S / (B·tf·S + C·S + D·dl·N)

    with A..D exact integers and S = Σdl — integer-argument lns and one
    division, an identical IEEE tree in both engines; the per-doc sum
    rides the fixed-point idiom (floor(term·1e6) summed as BIGINT).

    Scale shape: tokenize → explode restricted to the q-term set (the
    filter lands inside the same projection, so non-query tokens never
    reach the shuffle) → one (id, term) hash-agg → broadcast join of the
    |q|-row df map → per-doc agg. Corpus stats (N, Σdl) are one 1-row
    broadcast. No pair joins; text never shuffles. Docs with zero query
    hits are excluded (score 0 by definition).
    """
    from novi_pdq_etl_project_prod_spark import cache

    qlit = [str(t) for t in query_terms]
    toks = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__t")
    )
    # (id, dl) is persisted: two consumers (the per-doc join and the
    # 1-row stats aggregate) would otherwise each re-tokenize the
    # corpus. LAZY persist, not eager: the stats side materializes as
    # a broadcast job the main stages must wait on, so that job fills
    # the cache first — no race — while an eager count() would charge
    # a full corpus scan to callers that only build/explain the plan
    # (round-11 continuation review). Two corpus passes remain by
    # design — the tf explode needs the token ARRAYS, whose persist
    # would cost corpus-sized memory; dl is two longs per doc.
    dl = cache.track(toks.select("id", F.size("__t").alias("dl")))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("dl_sum"),
    )  # 1-row scalar
    hits = (
        toks.select("id", F.explode("__t").alias("term"))
        .where(F.col("term").isin(qlit))
    )
    tf = hits.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return _bm25_score_terms(
        tf, dfreq, dl, stats, k1_num, k1_den, b_num, b_den
    )


def _bm25_score_terms(
    tf: DataFrame,
    dfreq: DataFrame,
    dl: DataFrame,
    stats: DataFrame,
    k1_num: int,
    k1_den: int,
    b_num: int,
    b_den: int,
    group_cols: tuple[str, ...] = ("id",),
) -> DataFrame:
    """The shared BM25 scoring tree over (id, term, tf) hits, the
    |q|-row (term, df) map, (id, dl) doc lengths, and 1-row corpus
    stats — used by the from-scratch path (:func:`bm25_scores`), the
    persisted-index path (:func:`bm25_scores_from_index`) and the
    multi-probe batch path (:func:`bm25_scores_batch`, whose tf frame
    carries a ``query_id`` and passes ``group_cols=("query_id", "id")``)
    — one expression tree, so the paths can never diverge.

    Rational constants: k1+1 = (k1n+k1d)/k1d; k1(1-b) = k1n(bd-bn)/
    (k1d·bd); k1·b = k1n·bn/(k1d·bd). Multiplying numerator and
    denominator by k1d·bd·S gives exact integer coefficients
    A = (k1n+k1d)·bd, B = k1d·bd, C = k1n·(bd−bn), D = k1n·bn.

    The products are formed in DOUBLE, not BIGINT: at the 100 TB
    regime B·tf·Σdl exceeds 2⁶³ (Σdl ~2e13 × a spammy doc's tf wraps
    silently under non-ANSI Spark while the oracle errors) — double
    products of the same integer inputs in the same order stay an
    identical IEEE tree in both engines.
    """
    A = (k1_num + k1_den) * b_den
    B = k1_den * b_den
    C = k1_num * (b_den - b_num)
    D = k1_num * b_num
    idf = F.log(2 * F.col("n_docs") + 2) - F.log(2 * F.col("df") + 1)
    tf_d = F.col("tf").cast("double")
    s_d = F.col("dl_sum").cast("double")
    dl_d = F.col("dl").cast("double")
    n_d = F.col("n_docs").cast("double")
    term_score = idf * (
        (F.lit(float(A)) * tf_d * s_d)
        / (
            F.lit(float(B)) * tf_d * s_d
            + F.lit(float(C)) * s_d
            + F.lit(float(D)) * dl_d * n_d
        )
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .select(
            *group_cols,
            F.floor(term_score * F.lit(1e6)).cast("long").alias("__tq"),
        )
    )
    return scored.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
        (F.sum("__tq").cast("double") / F.lit(1e6)).alias("score"),
    )


def build_bm25_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict[str, DataFrame]:
    """The persisted lexical index — the build-once/search-many twin
    of the IVF dense index (m17's pattern, on the BM25 side): ONE
    corpus tokenize produces

    - ``postings``: (term, id, tf) — the inverted index;
    - ``doclens``: (id, dl) — derived as Σtf per doc, no second pass.

    Everything else BM25 needs is DERIVED from these at search time in
    index-sized (never corpus-sized) aggregations: df = per-term
    posting count, corpus stats = one aggregate over doclens. Both
    tables are ADDITIVE under the immutable-id contract — a corpus
    increment appends its own postings/doclens rows (O(batch) append
    segments) and searches see the union, the same state pattern as
    the DSIR bucket counts; no merge-on-write, and segment compaction
    (a row union) preserves them.

    doclens comes from the DOC frame, not from a postings rollup: a
    zero-token doc (empty/whitespace/NULL text) has no postings row
    but still counts in n_docs — deriving dl as Σtf would shift idf
    for every term and desynchronize this path from
    :func:`bm25_scores` and the m74 oracle (round-11 review). dl is
    NULL for NULL text and 0 for empty — exactly the from-scratch
    frame (count(*) includes them, sum skips NULL).

    Scale shape: postings are term-hash-partitioned by the groupBy —
    a search touches |q| terms' posting lists plus one doclens
    aggregate, not the corpus. The build pays the same two corpus
    passes as :func:`bm25_scores` (the token-array persist is the
    corpus-memory trade documented there).
    """
    toks = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__t")
    )
    postings = (
        toks.select("id", F.explode("__t").alias("term"))
        .groupBy("term", "id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    doclens = toks.select("id", F.size("__t").alias("dl"))
    return {"postings": postings, "doclens": doclens}


def bm25_scores_from_index(
    postings: DataFrame,
    doclens: DataFrame,
    query_terms: Sequence[str],
    k1_num: int = 6,
    k1_den: int = 5,
    b_num: int = 3,
    b_den: int = 4,
) -> DataFrame:
    """BM25 over a persisted inverted index (:func:`build_bm25_index`)
    — the search-many path: no tokenization, no corpus scan; the query
    touches |q| posting lists and one doclens aggregate. Output is
    IDENTICAL to :func:`bm25_scores` on the same corpus (same scoring
    tree via :func:`_bm25_score_terms`; pinned by test and by m79's
    oracle, which is literally m74's).

    Index tables may carry APPENDED increment rows (delta segments):
    tf/dl are summed per key first, so readers of accumulated state
    need no merged index — the additive contract.
    """
    qlit = [str(t) for t in query_terms]
    tf = (
        postings.where(F.col("term").isin(qlit))
        .groupBy("id", "term")
        .agg(F.sum("tf").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = doclens.groupBy("id").agg(F.sum("dl").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("dl_sum"),
    )
    return _bm25_score_terms(
        tf, dfreq, dl, stats, k1_num, k1_den, b_num, b_den
    )


def bm25_scores_batch(
    postings: DataFrame,
    doclens: DataFrame,
    probes: DataFrame,
    k1_num: int = 6,
    k1_den: int = 5,
    b_num: int = 3,
    b_den: int = 4,
    topk: int | None = None,
) -> DataFrame:
    """BM25 for a probe TABLE — many queries against the persisted
    inverted index in ONE job (VERDICT r11 #3): ``probes`` is a
    (query_id, term) frame; output is (query_id, id, n_hit_terms,
    score), optionally per-query top-``topk`` (adds ``rank``). A
    thousand-probe training-data audit runs as one join-shaped plan
    instead of a thousand driver-side :func:`bm25_scores_from_index`
    jobs — the retrieval analogue of the m7/m10 probe-frame dense
    search.

    Per-query scores are IDENTICAL to :func:`bm25_scores_from_index`
    with that query's terms (same :func:`_bm25_score_terms` tree;
    df/dl/corpus stats are query-independent, so batching cannot shift
    them) — pinned by test and by the m83 oracle.

    Scale shape: the probe-term UNION (broadcast, |distinct terms|
    rows) prunes the postings scan once; per-(id, term) tf sums happen
    once however many probes share a term, and fan-out to probes is a
    broadcast join producing candidate-sized (query_id, id, term) rows.
    One doclens aggregate, one 1-row stats broadcast, one
    (query_id, id) hash-agg; with ``topk`` a per-query rank window over
    candidate rows. Nothing is per-probe except the final
    candidate-sized rows; the corpus is never scanned.
    """
    from novi_pdq_etl_project_prod_spark import cache

    probes = probes.select(
        F.col("query_id"), F.col("term").cast("string").alias("term")
    ).distinct()
    # persisted: the pruned per-(id, term) sums feed BOTH the df map and
    # the probe fan-out join — uncached each would re-scan every posting
    # segment
    tf0 = cache.track(
        postings.join(
            F.broadcast(probes.select("term").distinct()), "term"
        )
        .groupBy("id", "term")
        .agg(F.sum("tf").alias("tf")),
        eager=True,
    )
    dfreq = tf0.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = doclens.groupBy("id").agg(F.sum("dl").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("dl_sum"),
    )
    tf = tf0.join(F.broadcast(probes), "term")
    out = _bm25_score_terms(
        tf, dfreq, dl, stats, k1_num, k1_den, b_num, b_den,
        group_cols=("query_id", "id"),
    )
    if topk is None:
        return out
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    return out.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= topk
    )


def dsir_logweights(
    target: DataFrame,
    raw: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every RAW-corpus
    document by how much it looks like the TARGET corpus under hashed
    unigram features — the standard automated data-selection signal for
    pretraining mixtures (select raw docs with the highest weights,
    optionally with Gumbel noise; the deterministic top-k variant here
    is the m44/m20 house convention for sampling queries).

    Per raw doc d: logw(d) = Σ_{token occurrences} ln(p̂[b]) − ln(q̂[b]),
    where b = md5-hash bucket of the token (the certified md5→int60
    idiom, so a SQL oracle reproduces bucketing exactly), p̂/q̂ are
    Laplace-smoothed bucket distributions of the target / raw corpora:
    p̂[b] = (ct_b+1)/(Tt+B). Each bucket's log-ratio reduces to
    ln(ct_b+1) − ln(cr_b+1) + ln(Tr+B) − ln(Tt+B) — integer-argument
    lns, one IEEE tree both engines; per-doc sums ride the fixed-point
    idiom (floor(n_db·logratio·1e6) summed as BIGINT).

    Scale shape: two token-explode hash-aggs build the B-row bucket
    tables (B is a constant — 256 here, 10⁴–10⁵ at 100 TB — always
    broadcastable); raw docs reduce to (id, bucket, n) occurrence counts
    (vocabulary-bounded per doc) and take one broadcast join. No pair
    joins, no corpus-wide shuffle of text. Raw docs with zero tokens are
    excluded (no features ⇒ no weight).
    """
    from novi_pdq_etl_project_prod_spark import cache

    tgt_b = _dsir_buckets(target, id_col, text_col, n_buckets).groupBy(
        "b"
    ).agg(F.count(F.lit(1)).alias("ct"))
    # the raw corpus is tokenized ONCE: per-doc feature counts first,
    # the corpus-level bucket counts as a rollup of that frame. The
    # (id, bucket) frame is persisted because both the bucket table and
    # the score join consume it — without the pin each branch re-runs
    # the corpus explode (the ngram_jaccard_pairs lesson)
    doc_feats = cache.track(
        _dsir_buckets(raw, id_col, text_col, n_buckets)
        .groupBy("id", "b")
        .agg(F.count(F.lit(1)).alias("n")),
        eager=True,
    )
    raw_b = doc_feats.groupBy("b").agg(F.sum("n").alias("cr"))
    return _dsir_score(doc_feats, _dsir_per_bucket(tgt_b, raw_b, n_buckets))


def _dsir_buckets(
    frame: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """(id, bucket) row per token occurrence — md5-int60 hashing so a
    SQL oracle reproduces bucketing exactly."""
    from novi_pdq_etl_project_prod_spark.operators.dedup import md5_long60

    return frame.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(text_col)).alias("__tok"),
    ).select("id", (md5_long60(F.col("__tok")) % n_buckets).alias("b"))


def _dsir_per_bucket(
    tgt_b: DataFrame, raw_b: DataFrame, n_buckets: int
) -> DataFrame:
    """The B-row (b, logratio) table from target (b, ct) and raw
    (b, cr) count maps — the shared IEEE tree of the batch and
    incremental paths. Dense: the outer join keeps one-sided buckets
    (smoothing still applies). Corpus totals come from a whole-frame
    window over the B-row table (NOT a separate aggregate + crossJoin,
    which would recompute the corpus-sized upstream aggregations a
    second time; B is a constant, so the single-partition window
    exchange is B rows)."""
    bucket_tbl = tgt_b.join(raw_b, "b", "full_outer").select(
        "b",
        F.coalesce("ct", F.lit(0)).alias("ct"),
        F.coalesce("cr", F.lit(0)).alias("cr"),
    )
    w_all = Window.partitionBy()
    return bucket_tbl.select(
        "b",
        (
            F.log(F.col("ct") + 1)
            - F.log(F.col("cr") + 1)
            + F.log(F.sum("cr").over(w_all) + n_buckets)
            - F.log(F.sum("ct").over(w_all) + n_buckets)
        ).alias("logratio"),
    )


def _dsir_score(doc_feats: DataFrame, per_bucket: DataFrame) -> DataFrame:
    """Per-doc fixed-point weight sum over a (id, b, n) feature frame
    joined to the broadcast B-row logratio table."""
    scored = doc_feats.join(F.broadcast(per_bucket), "b").select(
        "id",
        "n",
        F.floor(F.col("n") * F.col("logratio") * F.lit(1e6))
        .cast("long")
        .alias("__wq"),
    )
    return scored.groupBy("id").agg(
        F.sum("n").cast("long").alias("n_feats"),
        (F.sum("__wq").cast("double") / F.lit(1e6)).alias("logweight"),
    )


def dsir_bucket_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """A corpus' (b, n) hashed-unigram occurrence counts — the
    ADDITIVE state of the incremental DSIR path: counts are plain
    rows, so accumulating state appends per-batch DELTA rows (the
    segment layer's O(batch) commit) and any reader reconstructs the
    true counts with one B-bounded ``groupBy(b).sum(n)`` — no
    merge-on-write, and segment compaction (a row union) preserves the
    sum. The existence-set state (``gram_set``) can't represent
    counts; this is the pattern for distribution-valued state."""
    return (
        _dsir_buckets(df, id_col, text_col, n_buckets)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def incremental_dsir_logweights(
    new_docs: DataFrame,
    target_counts: DataFrame,
    standing_raw_counts: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> dict[str, DataFrame]:
    """DSIR importance weights for a raw-corpus INCREMENT — the
    ingest-path twin of :func:`dsir_logweights`, extending the
    incremental family (m69 exact, m66 near-dup, m73 spans) to
    DISTRIBUTION-valued state: each increment is scored against the
    target distribution and the raw distribution AS OF its arrival
    (the pair/span sinks' arrival-time contract, stated not hidden —
    a later increment shifts q̂ for later docs only), then its own
    bucket deltas extend the standing raw counts.

    ``target_counts`` / ``standing_raw_counts`` are (b, n) frames from
    :func:`dsir_bucket_counts` — possibly many DELTA rows per bucket
    (append segments); both are summed to true counts here, so readers
    never need merged state. ``standing_raw_counts=None`` means a
    first increment scored against an empty raw distribution (every
    q̂[b] at the Laplace floor).

    Returns ``{"weights": (id, n_feats, logweight),
    "new_counts": (b, n) — the increment's deltas to append}``.

    Scale shape: the increment pays one tokenize into a persisted
    (id, bucket, n) frame; the standing tables reduce to B-row sums
    (one bounded agg each, whatever the corpus size); scoring is one
    broadcast join. Nothing standing is ever re-tokenized.
    """
    from novi_pdq_etl_project_prod_spark import cache

    doc_feats = cache.track(
        _dsir_buckets(new_docs, id_col, text_col, n_buckets)
        .groupBy("id", "b")
        .agg(F.count(F.lit(1)).alias("n")),
        eager=True,
    )
    spark = new_docs.sparkSession
    # densify the target side over the FULL bucket universe (B rows):
    # unlike the batch path — where the scored corpus IS the corpus the
    # cr counts came from, so every feature bucket has a row — an
    # increment can carry buckets neither standing table has seen, and
    # the inner score join would silently drop those features. With the
    # universe dense, an unseen bucket scores the Laplace floor
    # ln(1) − ln(1) + ln(Tr+B) − ln(Tt+B), the correct smoothed ratio.
    universe = spark.range(n_buckets).select(F.col("id").alias("b"))
    # the B-bounded count sums are persisted: the bucket guard below
    # executes them for its max(b) probe, and scoring consumes them
    # again — uncached, each pass re-scans every delta segment of the
    # standing tables (round-11 continuation review)
    tgt_sum = cache.track(
        target_counts.groupBy("b").agg(F.sum("n").alias("__ct"))
    )

    def _check_buckets(counts: DataFrame, label: str, count_col: str) -> None:
        # a count table seeded with a DIFFERENT n_buckets would have
        # its >= n_buckets rows silently dropped by the universe join,
        # skewing every weight with no error — B-bounded aggregate, so
        # the guard costs one tiny job (round-11 review). Residual hole
        # (ADVICE r11): this probe is ONE-SIDED — a table built with a
        # SMALLER n_buckets (128 read at 256) passes max(b) < 256 yet
        # buckets every token differently. Frame-level code cannot see
        # provenance; the durable closure lives at the sink/commit
        # layer, where stream_dsir_weights and retract_docs record
        # dsir_n_buckets:<table> in the manifest meta and refuse a
        # mismatched run. The min-count probe rides the SAME aggregate
        # (ADVICE r12 #4): a net-NEGATIVE summed bucket means a
        # retraction subtracted mass that was never added (never-
        # counted doc, or drop text drifted from the counted text) —
        # ln(count+1) of a negative silently NaNs every weight, so
        # fail loudly here instead.
        row = counts.agg(
            F.max("b").alias("m"), F.min(count_col).alias("lo")
        ).first()
        if row.m is not None and row.m >= n_buckets:
            raise ValueError(
                f"{label} bucket ids reach {row.m} but n_buckets={n_buckets}:"
                " the count table was built with a different n_buckets"
            )
        if row.lo is not None and row.lo < 0:
            raise ValueError(
                f"{label} has a net-negative summed bucket count "
                f"({row.lo}): a retraction subtracted mass that was "
                "never added — see the retract_docs contract (dropped "
                "docs must have been counted, with this exact text)"
            )

    _check_buckets(tgt_sum, "target_counts", "__ct")
    tgt_b = universe.join(tgt_sum, "b", "left").select(
        "b", F.coalesce("__ct", F.lit(0)).alias("ct")
    )
    if standing_raw_counts is None:
        raw_b = tgt_b.select("b", F.lit(0).cast("long").alias("cr")).limit(0)
    else:
        raw_b = cache.track(
            standing_raw_counts.groupBy("b").agg(F.sum("n").alias("cr"))
        )
        _check_buckets(raw_b, "standing_raw_counts", "cr")
    weights = _dsir_score(
        doc_feats, _dsir_per_bucket(tgt_b, raw_b, n_buckets)
    )
    new_counts = doc_feats.groupBy("b").agg(F.sum("n").alias("n"))
    return {"weights": weights, "new_counts": new_counts}
