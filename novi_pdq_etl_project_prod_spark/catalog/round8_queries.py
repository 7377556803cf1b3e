"""Round-8 catalog additions.

G3 — declarative MERGE (VERDICT r07 item 5): the Delta-parity
``merge_frames`` entry point (one call covering when-matched-update /
when-matched-delete / when-not-matched-insert, NOT-MATCHED-BY-SOURCE
pass-through) exercised over the fixture star schema and oracled against
an equivalent DuckDB update/delete/insert CTE. The snapshot-committed
variant (``operators.modeling.merge_into`` — CAS pointer + optimistic
retry) is pinned by concurrent-writer pytests in
``tests/test_modeling_advanced.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.operators import text as TX
from novi_pdq_etl_project_prod_spark.session import read_table as _t


# ---------------------------------------------------------------------------
# G3 — MERGE INTO customer: update matched balances from order spend,
# delete heavy customers (n_orders > 25), insert synthetic new customers
# derived from nation — every branch of the MERGE grammar in one query.
# Measures stay exact integers (cents), so the result hashes bit-for-bit.
# ---------------------------------------------------------------------------


def g3_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.modeling import merge_frames

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")

    target = cust.select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("c_acctbal_cents"),
        "c_nationkey",
    )
    spend = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "spend_cents"
        ),
    )
    new_rows = nation.select(
        (F.col("n_nationkey").cast("long") + F.lit(1_000_000)).alias("c_custkey"),
        F.lit(1).cast("long").alias("n_orders"),
        (F.col("n_nationkey").cast("long") * 1000).alias("spend_cents"),
    )
    source = spend.unionByName(new_rows)

    return merge_frames(
        target,
        source,
        on=("c_custkey",),
        when_matched_delete="s.n_orders > 25",
        when_matched_update={
            "c_acctbal_cents": "t.c_acctbal_cents + s.spend_cents",
            "c_name": "concat(t.c_name, ':U')",
        },
        when_not_matched_insert={
            "c_custkey": "s.c_custkey",
            "c_name": "concat('new:', CAST(s.c_custkey AS STRING))",
            "c_acctbal_cents": "s.spend_cents",
            "c_nationkey": "CAST(0 AS INT)",
        },
    ).orderBy("c_custkey")


G3_SQL = """
WITH tgt AS (
  SELECT c_custkey, c_name,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS c_acctbal_cents,
         c_nationkey
  FROM customer
),
src AS (
  SELECT o_custkey AS c_custkey,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS spend_cents
  FROM orders GROUP BY 1
  UNION ALL
  SELECT CAST(n_nationkey AS BIGINT) + 1000000,
         CAST(1 AS BIGINT),
         CAST(n_nationkey AS BIGINT) * 1000
  FROM nation
)
SELECT t.c_custkey,
       t.c_name || ':U' AS c_name,
       t.c_acctbal_cents + s.spend_cents AS c_acctbal_cents,
       t.c_nationkey
FROM tgt t JOIN src s USING (c_custkey)
WHERE s.n_orders <= 25
UNION ALL
SELECT t.c_custkey, t.c_name, t.c_acctbal_cents, t.c_nationkey
FROM tgt t
WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.c_custkey = t.c_custkey)
UNION ALL
SELECT s.c_custkey,
       'new:' || CAST(s.c_custkey AS VARCHAR) AS c_name,
       s.spend_cents AS c_acctbal_cents,
       CAST(0 AS INT) AS c_nationkey
FROM src s
WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE t.c_custkey = s.c_custkey)
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# DQ11 — declarative expectations report: per-rule violation counts over
# a deterministically dirtied lineitem (clean fixture rows are planted
# with violations keyed on l_orderkey residues so every rule fires).
# One row-local tagging pass + one map-side aggregate, rules evaluated
# keep-when-TRUE with NULL counting as violation (the DLT convention).
# ---------------------------------------------------------------------------

#: Expectation rules shared between the Spark query and the DuckDB twin.
DQ11_RULES = {
    "non_negative_qty": "l_quantity >= 0",
    "price_positive": "l_extendedprice > 0",
    "valid_returnflag": "l_returnflag IN ('A', 'N', 'R')",
    "discount_range": "l_discount BETWEEN 0 AND 0.5",
    "shipdate_present": "l_shipdate IS NOT NULL",
}


def dq11_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.expectations import (
        expectation_report,
    )

    li = _t(spark, sf_dir, "lineitem")
    dirty = li.select(
        F.when(F.col("l_orderkey") % 97 == 0, F.lit(-1.0))
        .otherwise(F.col("l_quantity"))
        .alias("l_quantity"),
        F.when(F.col("l_orderkey") % 101 == 0, F.lit(0.0))
        .otherwise(F.col("l_extendedprice"))
        .alias("l_extendedprice"),
        F.when(F.col("l_orderkey") % 103 == 0, F.lit("X"))
        .otherwise(F.col("l_returnflag"))
        .alias("l_returnflag"),
        F.when(F.col("l_orderkey") % 107 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("l_discount"))
        .alias("l_discount"),
        F.when(
            F.col("l_orderkey") % 109 == 0,
            F.lit(None).cast("timestamp_ntz"),
        )
        .otherwise(F.col("l_shipdate"))
        .alias("l_shipdate"),
        "l_orderkey",
    )
    return expectation_report(dirty, DQ11_RULES)


_DQ11_VIOLATIONS = {
    name: f"NOT coalesce({expr}, FALSE)" for name, expr in DQ11_RULES.items()
}
_DQ11_COUNT_COLS = ",\n         ".join(
    f"SUM(CASE WHEN {v} THEN 1 ELSE 0 END) AS {name}"
    for name, v in _DQ11_VIOLATIONS.items()
)
_DQ11_ANY = " OR ".join(f"({v})" for v in _DQ11_VIOLATIONS.values())
_DQ11_ROWS = "\n  UNION ALL\n".join(
    f"  SELECT '{name}' AS rule, {name} AS n_violations, n_rows FROM agg"
    for name in DQ11_RULES
)

DQ11_SQL = f"""
WITH dirty AS (
  SELECT CASE WHEN l_orderkey % 97 = 0 THEN -1.0 ELSE l_quantity END
           AS l_quantity,
         CASE WHEN l_orderkey % 101 = 0 THEN 0.0 ELSE l_extendedprice END
           AS l_extendedprice,
         CASE WHEN l_orderkey % 103 = 0 THEN 'X' ELSE l_returnflag END
           AS l_returnflag,
         CASE WHEN l_orderkey % 107 = 0 THEN NULL ELSE l_discount END
           AS l_discount,
         CASE WHEN l_orderkey % 109 = 0 THEN NULL ELSE l_shipdate END
           AS l_shipdate
  FROM lineitem
),
agg AS (
  SELECT {_DQ11_COUNT_COLS},
         SUM(CASE WHEN {_DQ11_ANY} THEN 1 ELSE 0 END)
           AS _total_rows_failing,
         count(*) AS n_rows
  FROM dirty
)
SELECT rule,
       CAST(n_violations AS BIGINT) AS n_violations,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_violations AS DOUBLE) / CAST(n_rows AS DOUBLE)
         AS violation_rate
FROM (
{_DQ11_ROWS}
  UNION ALL
  SELECT '_total_rows_failing', _total_rows_failing, n_rows FROM agg
)
ORDER BY rule
"""


# ---------------------------------------------------------------------------
# M61 — per-source frequency cap (RefinedWeb "max N docs per domain"):
# deterministic preference order (longest docs first, id tie-break), so
# the kept set is reproducible across engines and retries.
# ---------------------------------------------------------------------------


def m61_domain_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.multimodal import (
        frequency_cap,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        frequency_cap(
            docs.select("doc_id", "source", "n_chars"),
            group_col="source",
            cap=10,
            id_col="doc_id",
            prefer=(F.col("n_chars").desc(),),
        )
        .select("doc_id", "source", "n_chars", F.col("kept_rank").cast("int").alias("kept_rank"))
        .orderBy("doc_id")
    )


M61_SQL = """
SELECT doc_id, source, n_chars, CAST(kept_rank AS INT) AS kept_rank
FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS kept_rank
  FROM documents
)
WHERE kept_rank <= 10
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# M62 — self-trained bigram-LM cross-entropy (the CCNet perplexity
# filter, distributed): add-½-smoothed bigram model over the corpus,
# per-doc mean −log2 p(w2|w1). Counts are exact integers; each bigram's
# term is one identical IEEE expression (the m12 ln surface); the
# per-doc sum rides the m56 fixed-point idiom.
# ---------------------------------------------------------------------------


def m62_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        TX.ngram_lm_scores(docs)
        .select(
            F.col("id").alias("doc_id"), "n_bigrams", "cross_entropy_bits"
        )
        .orderBy("doc_id")
    )


M62_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
  FROM toks WHERE len(t) >= 2
),
big AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM idx),
uni AS (
  SELECT w1, CAST(count(*) AS BIGINT) AS c1
  FROM (SELECT doc_id, unnest(t) AS w1 FROM toks) GROUP BY 1
),
v AS (SELECT CAST(count(*) AS BIGINT) AS vocab FROM uni),
bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM big GROUP BY 1, 2),
terms AS (
  SELECT big.doc_id,
         CAST(floor(
           -(ln(CAST(bg.c2 * 2 + 1 AS DOUBLE))
             - ln(CAST(uni.c1 * 2 + 1 * v.vocab AS DOUBLE)))
           / ln(2.0) * 1e6) AS BIGINT) AS tq
  FROM big
  JOIN bg ON big.w1 = bg.w1 AND big.w2 = bg.w2
  JOIN uni ON big.w1 = uni.w1
  CROSS JOIN v
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(tq) AS DOUBLE) / 1e6 / count(*) AS cross_entropy_bits
FROM terms GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# M63 — integer PageRank over the supplier co-occurrence graph (two
# suppliers are adjacent when they co-serve ≥ 2 orders): the domain/
# document-authority signal crawl pipelines rank hosts with. Exact
# integer arithmetic at every step, so the oracle replays the SAME 10
# rounds as unrolled CTEs — an ITERATIVE op under the bit-exact hash
# gate (float PageRank can't be oracled: per-node float sums are
# addition-order-dependent).
# ---------------------------------------------------------------------------

_M63_ITERS = 10


def m63_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from novi_pdq_etl_project_prod_spark.operators.graphs import (
        pagerank_integer,
    )

    li = _t(spark, sf_dir, "lineitem")
    # Basket-local pair generation (m53's r07 shape, VERDICT r08 item
    # 2): ONE corpus shuffle (groupBy order) replaces the pre-r09
    # distinct + orderkey self-join (two extra corpus shuffles for
    # identical output) — the sorted basket array dedups suppliers and
    # emits each u < v pair exactly once, fan-out bounded by
    # C(basket, 2). Unlike m53, NO frequency pre-prune: the supplier
    # graph is dense (every supplier serves many orders), so the prune
    # removes nothing and its count-distinct shuffle is pure overhead —
    # A/B'd at sf0.1: prune 1.87s vs no-prune 1.22s vs old self-join
    # 1.30s (SCALE.md round 9). The m53 prune pays off only when the
    # entity catalog is order-sparse (many single-order items).
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_suppkey")).alias("ss")
    )
    pair = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ss",
                    lambda x, i: F.transform(
                        F.slice(F.col("ss"), i + 2, F.size("ss")),
                        lambda y: F.struct(x.alias("u"), y.alias("v")),
                    ),
                )
            )
        ).alias("pr")
    )
    edges = (
        pair.select("pr.u", "pr.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= 2)
        .select("u", "v")
    )
    return pagerank_integer(edges, iterations=_M63_ITERS).orderBy("node")


def _m63_rounds(k: int) -> str:
    rounds = []
    prev = "r0"
    for i in range(1, k + 1):
        rounds.append(
            f"""r{i} AS (
  SELECT e.t AS node,
         150000 + SUM((p.r * 17) // (20 * dg.deg)) AS r
  FROM edges e
  JOIN {prev} p ON p.node = e.s
  JOIN deg dg ON dg.s = e.s
  GROUP BY e.t
)"""
        )
        prev = f"r{i}"
    return ",\n".join(rounds)


M63_SQL = f"""
WITH per_order AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
),
und AS (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v
  FROM per_order a
  JOIN per_order b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
edges AS (
  SELECT u AS s, v AS t FROM und
  UNION ALL
  SELECT v AS s, u AS t FROM und
),
deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
r0 AS (SELECT s AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
{_m63_rounds(_M63_ITERS)}
SELECT node, CAST(r AS BIGINT) AS rank_micro
FROM r{_M63_ITERS}
ORDER BY node
"""


# ---------------------------------------------------------------------------
# D40 — CUSUM changepoint per return flag over the monthly revenue
# series: the month maximizing |n·cumsum_i − i·S_n| (the mean-centered
# CUSUM statistic scaled by n to stay in EXACT integers — no float mean
# subtraction crosses the oracle surface). The standard "when did this
# pipeline's distribution shift" monitor next to d35's drift matrix.
# Ties break to the earliest month. Cumulatives ride a per-flag window:
# the grain is MONTHS (bounded ~84 per flag), so the single-window
# shape is scale-correct here, unlike raw-row cumulatives.
# ---------------------------------------------------------------------------


def d40_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    monthly = li.groupBy(
        "l_returnflag",
        (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("yyyymm"),
    ).agg(F.sum(cents).alias("x"))
    w = Window.partitionBy("l_returnflag").orderBy("yyyymm")
    wall = Window.partitionBy("l_returnflag")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cum = monthly.select(
        "l_returnflag",
        "yyyymm",
        F.sum("x").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cs"),
        F.row_number().over(w).alias("i"),
        F.sum("x").over(wall).alias("tot"),
        F.count(F.lit(1)).over(wall).alias("n"),
    ).select(
        "l_returnflag",
        "yyyymm",
        "n",
        F.abs(d(F.col("n")) * d(F.col("cs")) - d(F.col("i")) * d(F.col("tot")))
        .alias("absd"),
    )
    peak = cum.groupBy("l_returnflag").agg(F.max("absd").alias("absd"))
    return (
        cum.join(peak, ["l_returnflag", "absd"])
        .groupBy("l_returnflag")
        .agg(
            F.max("n").cast("long").alias("n_months"),
            F.min("yyyymm").cast("int").alias("cp_month"),
            F.max("absd").cast("double").alias("max_abs_d"),
        )
        .orderBy("l_returnflag")
    )


D40_SQL = """
WITH monthly AS (
  SELECT l_returnflag,
         CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS yyyymm,
         SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS x
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT l_returnflag, yyyymm,
         SUM(x) OVER (PARTITION BY l_returnflag ORDER BY yyyymm
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY yyyymm) AS i,
         SUM(x) OVER (PARTITION BY l_returnflag) AS tot,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM monthly
),
scored AS (
  SELECT l_returnflag, yyyymm, n,
         abs(CAST(n AS HUGEINT) * CAST(cs AS HUGEINT)
             - CAST(i AS HUGEINT) * CAST(tot AS HUGEINT)) AS absd
  FROM cum
),
peak AS (SELECT l_returnflag, MAX(absd) AS absd FROM scored GROUP BY 1)
SELECT s.l_returnflag,
       CAST(MAX(s.n) AS BIGINT) AS n_months,
       CAST(MIN(s.yyyymm) AS INT) AS cp_month,
       CAST(MAX(s.absd) AS DOUBLE) AS max_abs_d
FROM scored s JOIN peak p
  ON s.l_returnflag = p.l_returnflag AND s.absd = p.absd
GROUP BY s.l_returnflag
ORDER BY s.l_returnflag
"""


QUERIES = {
    "g3_merge_into": g3_merge_into,
    "d40_cusum_changepoint": d40_cusum_changepoint,
    "dq11_expectations": dq11_expectations,
    "m61_domain_frequency_cap": m61_domain_frequency_cap,
    "m62_lm_perplexity": m62_lm_perplexity,
    "m63_supplier_pagerank": m63_supplier_pagerank,
}

ORACLES = {
    "g3_merge_into": G3_SQL,
    "d40_cusum_changepoint": D40_SQL,
    "dq11_expectations": DQ11_SQL,
    "m61_domain_frequency_cap": M61_SQL,
    "m62_lm_perplexity": M62_SQL,
    "m63_supplier_pagerank": M63_SQL,
}


# ---------------------------------------------------------------------------
# M64 — distributed BPE merge TRAINING (Sennrich 2016), exactly oracled:
# 5 rounds of argmax-pair + set-wise rewrite at distinct-word grain,
# replayed by the DuckDB twin as unrolled CTE rounds (the m63
# discipline). Same-symbol merges are excluded so occurrences never
# overlap — the greedy-scan ambiguity every engine resolves differently
# is designed out, keeping the hash gate bit-exact.
# ---------------------------------------------------------------------------

_M64_ROUNDS = 5


def m64_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return TX.bpe_train_merges(docs, rounds=_M64_ROUNDS)


def _m64_sql_rounds(k: int) -> str:
    out = []
    for r in range(1, k + 1):
        out.append(
            f"""pairs{r} AS (
  SELECT p[1] AS x, p[2] AS y, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (
    SELECT freq,
           unnest(list_zip(list_slice(syms, 1, len(syms) - 1),
                           list_slice(syms, 2, len(syms)))) AS p
    FROM seq{r} WHERE len(syms) >= 2
  )
  WHERE p[1] <> p[2]
  GROUP BY 1, 2
),
best{r} AS (SELECT x, y, cnt FROM pairs{r} ORDER BY cnt DESC, x, y LIMIT 1)"""
        )
        if r < k:
            out.append(
                f"""seq{r + 1} AS (
  SELECT w, freq,
    list_filter(
      list_transform(
        list_zip(
          list_zip(s.syms,
                   list_transform(
                     list_zip(s.syms,
                              list_concat(list_slice(s.syms, 2, len(s.syms)),
                                          [''])),
                     p -> p[1] = b.x AND p[2] = b.y)),
          list_concat([false],
                      list_slice(
                        list_transform(
                          list_zip(s.syms,
                                   list_concat(list_slice(s.syms, 2,
                                                          len(s.syms)),
                                               [''])),
                          p -> p[1] = b.x AND p[2] = b.y),
                        1, len(s.syms) - 1))),
        e -> CASE WHEN e[1][2] THEN e[1][1] || b.y
                  WHEN e[2] THEN NULL
                  ELSE e[1][1] END),
      v -> v IS NOT NULL) AS syms
  FROM seq{r} s CROSS JOIN best{r} b
)"""
            )
    return ",\n".join(out)


_M64_FINAL = "\nUNION ALL\n".join(
    f"SELECT {r} AS round, x, y, x || y AS merged, cnt AS pair_count "
    f"FROM best{r}"
    for r in range(1, _M64_ROUNDS + 1)
)

M64_SQL = f"""
WITH words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq
  FROM (
    SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                              x -> x <> '')) AS w
    FROM documents
  ) GROUP BY 1
),
seq1 AS (SELECT w, freq, regexp_extract_all(w, '.') AS syms FROM words),
{_m64_sql_rounds(_M64_ROUNDS)}
SELECT CAST(round AS INT) AS round, x, y, merged, pair_count
FROM ({_M64_FINAL})
ORDER BY round
"""

QUERIES["m64_bpe_train"] = m64_bpe_train
ORACLES["m64_bpe_train"] = M64_SQL


# ---------------------------------------------------------------------------
# D41 — Theil–Sen robust trend per return flag over the monthly revenue
# series: the (lower-)median of all pairwise slopes — insensitive to up
# to ~29% outlier months, the robust companion to d34's OLS lines. The
# pair space is MONTH-cell-bounded (≤ ~84 months per flag → ≤ 3.5k
# pairs), the same bounded-quadratic contract as d33's cell grid — never
# raw rows. Slopes are exact-integer ratios divided once in double
# (identical IEEE both engines); the median is the deterministic
# nearest-rank LOWER median with a (slope, i, j) tie-break, so no
# interpolation convention can split engines.
# ---------------------------------------------------------------------------


def d41_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    monthly = li.groupBy(
        "l_returnflag",
        (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("yyyymm"),
    ).agg(F.sum(cents).alias("x"))
    w = Window.partitionBy("l_returnflag").orderBy("yyyymm")
    idx = monthly.select(
        "l_returnflag", "x", F.row_number().over(w).alias("i")
    )
    a = idx.alias("a")
    b = idx.alias("b")
    slopes = a.join(
        b,
        (F.col("a.l_returnflag") == F.col("b.l_returnflag"))
        & (F.col("a.i") < F.col("b.i")),
    ).select(
        F.col("a.l_returnflag").alias("l_returnflag"),
        (
            (F.col("b.x") - F.col("a.x")).cast("double")
            / (F.col("b.i") - F.col("a.i")).cast("double")
        ).alias("slope"),
        F.col("a.i").alias("i"),
        F.col("b.i").alias("j"),
    )
    ws = Window.partitionBy("l_returnflag").orderBy("slope", "i", "j")
    ranked = slopes.select(
        "l_returnflag",
        "slope",
        F.row_number().over(ws).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("l_returnflag")).alias("np"),
    )
    return (
        ranked.where(F.col("rk") == F.expr("(np + 1) div 2"))
        .select(
            "l_returnflag",
            F.col("np").cast("long").alias("n_pairs"),
            F.col("slope").alias("theil_sen_slope_cents"),
        )
        .orderBy("l_returnflag")
    )


D41_SQL = """
WITH monthly AS (
  SELECT l_returnflag,
         CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS yyyymm,
         SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS x
  FROM lineitem GROUP BY 1, 2
),
idx AS (
  SELECT l_returnflag, x,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY yyyymm) AS i
  FROM monthly
),
slopes AS (
  SELECT a.l_returnflag,
         CAST(b.x - a.x AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS slope,
         a.i AS i, b.i AS j
  FROM idx a JOIN idx b
    ON a.l_returnflag = b.l_returnflag AND a.i < b.i
),
ranked AS (
  SELECT l_returnflag, slope,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY slope, i, j) AS rk,
         count(*) OVER (PARTITION BY l_returnflag) AS np
  FROM slopes
)
SELECT l_returnflag,
       CAST(np AS BIGINT) AS n_pairs,
       slope AS theil_sen_slope_cents
FROM ranked
WHERE rk = (np + 1) // 2
ORDER BY l_returnflag
"""

QUERIES["d41_theil_sen_trend"] = d41_theil_sen_trend
ORACLES["d41_theil_sen_trend"] = D41_SQL
