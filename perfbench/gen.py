"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical files. The program under test sees only these files.

- :class:`MonthlyFeed` writes one small ``}``-DSV pair per month (operator
  cycle + lease cycle), holding only that month, as when a new RRC cycle
  is published. It plants the reference's dirty shapes and returns the
  counts the pipeline must report for the month.
- :func:`write_star` writes the star tables the catalog queries read
  (region, nation, customer, orders, lineitem) in the canonical fixture
  schemas.
- :func:`write_documents` writes the ``documents`` table the curation
  queries read, with planted near-duplicates and boilerplate spans.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The reference's null-token set; every token must land as SQL null.
NULL_TOKENS = ("", "NULL", "null", "NaN", "nan")

OPERATOR_HEADER = [
    "OPERATOR_NO", "OPERATOR_NAME", "CYCLE_YEAR", "CYCLE_MONTH",
    "CYCLE_YEAR_MONTH", "OPER_OIL_PROD_VOL", "OPER_GAS_PROD_VOL",
    "OPER_COND_PROD_VOL", "OPER_CSGD_PROD_VOL",
]
LEASE_HEADER = [
    "OPERATOR_NO", "DISTRICT_NO", "FIELD_NO", "LEASE_NO", "LEASE_NAME",
    "CYCLE_YEAR", "CYCLE_MONTH", "CYCLE_YEAR_MONTH",
    # variant 1: present in the file, ignored by the transform
    "OIL_PROD_VOL", "GAS_PROD_VOL", "COND_PROD_VOL", "CSGD_PROD_VOL",
    # variant 2: the volumes the transform sums
    "LEASE_OIL_PROD_VOL", "LEASE_GAS_PROD_VOL", "LEASE_COND_PROD_VOL",
    "LEASE_CSGD_PROD_VOL",
]
N_MEASURES = 4


@dataclass
class MonthExpectation:
    """What ``run_monthly_pipeline`` must return for one landed month."""

    yyyymm: int
    staging_operator_rows: int
    staging_lease_rows: int
    rollup_mismatches: int
    dims: dict
    dsv_rows: int = field(default=0, compare=False)

    def matches(self, result) -> bool:
        return (
            result.yyyymm == self.yyyymm
            and result.staging_operator_rows == self.staging_operator_rows
            and result.staging_lease_rows == self.staging_lease_rows
            and result.fact_operator_rows == self.staging_operator_rows
            and result.fact_lease_rows == self.staging_lease_rows
            and result.rollup_mismatches == self.rollup_mismatches
            and result.dims == self.dims
        )


def _cents(c: int) -> str:
    return f"{c // 100}.{c % 100:02d}"


def _next_yyyymm(yyyymm: int) -> int:
    y, m = divmod(yyyymm, 100)
    return y * 100 + m + 1 if m < 12 else (y + 1) * 100 + 1


class MonthlyFeed:
    """Monthly operator/lease DSV pairs with lease and operator churn.

    Each call to :meth:`write_next` lands the next month's pair in
    ``out_dir`` and returns its paths and :class:`MonthExpectation`. The
    dims grow every month: a share of leases retire and new ones appear,
    some under brand-new operators.

    Planted shapes (FIXTURES §A): whitespace-padded headers and values,
    null tokens in measures and in ``OPERATOR_NO`` (the operator-0
    sentinel), blank ``CYCLE_YEAR_MONTH`` (year*100+month fallback),
    pre-2000 rows and rows with no derivable month (both dropped),
    zero-padded ``"08"`` districts, lease numbers shared across
    districts, duplicate lease grain rows split across two lines, both
    volume-name variants, and a known number of operators whose totals
    disagree with their lease rollup by more than the 0.5 tolerance.
    """

    #: share of leases retired (and replaced, plus a quarter more) each month
    CHURN = 0.04
    FIRST_MONTH = 201901

    def __init__(self, seed: int, out_dir: str, leases: int = 1500):
        self.rng = random.Random(seed)
        self.out_dir = out_dir
        self.yyyymm = self.FIRST_MONTH
        self.next_operator = 101
        self.operators: list[int] = []
        self.leases: dict[tuple[int, int], tuple[int, int, str]] = {}
        self.seen = {"dim_operator": set(), "dim_district": set(),
                     "dim_field": set(), "dim_lease": set()}
        os.makedirs(out_dir, exist_ok=True)
        for _ in range(leases // 12):
            self._new_operator()
        for _ in range(leases):
            self._new_lease()

    def _new_operator(self) -> int:
        self.operators.append(self.next_operator)
        self.next_operator += self.rng.randint(1, 3)
        return self.operators[-1]

    def _new_lease(self, operator: int | None = None) -> None:
        rng = self.rng
        district = rng.randint(1, 14)
        if self.leases and rng.random() < 0.1:
            # reuse a lease number from another district: lease_key must
            # keep them apart
            lease_no = rng.choice(sorted(self.leases))[1]
        else:
            lease_no = rng.randint(100, 999_999)
        if (district, lease_no) in self.leases:
            return
        if operator is None:
            operator = 0 if rng.random() < 0.02 else rng.choice(self.operators)
        field_no = rng.randint(1000, 1600)
        self.leases[(district, lease_no)] = (
            operator, field_no, f"Lease {lease_no} Unit {rng.randint(1, 40)}"
        )

    def _churn(self) -> None:
        rng = self.rng
        n = max(1, int(len(self.leases) * self.CHURN))
        for key in rng.sample(sorted(self.leases), n):
            del self.leases[key]
        fresh = self._new_operator()
        for i in range(n + n // 4):
            self._new_lease(fresh if i < 4 else None)

    def _pad(self, s: str) -> str:
        r = self.rng.random()
        return f" {s}" if r < 0.05 else f"{s}  " if r < 0.1 else s

    def _period(self, yyyymm: int) -> list[str]:
        """CYCLE_YEAR, CYCLE_MONTH, CYCLE_YEAR_MONTH; one row in eight
        leaves the combined column blank and relies on the fallback."""
        y, m = divmod(yyyymm, 100)
        month = f"{m:02d}" if self.rng.random() < 0.5 else str(m)
        if self.rng.random() < 0.125:
            return [str(y), month, self.rng.choice(NULL_TOKENS)]
        return [str(y), month, str(yyyymm)]

    def _volume(self, cents: int) -> str:
        """A zero volume is written as a null token half the time."""
        if cents == 0 and self.rng.random() < 0.5:
            return self.rng.choice(NULL_TOKENS)
        return self._pad(_cents(cents))

    def _operator_no(self, operator: int) -> str:
        return self.rng.choice(NULL_TOKENS) if operator == 0 else self._pad(str(operator))

    def write_next(self) -> tuple[str, str, MonthExpectation]:
        rng = self.rng
        if self.seen["dim_lease"]:
            self._churn()
        yyyymm = self.yyyymm
        self.yyyymm = _next_yyyymm(yyyymm)

        lease_lines, op_cents = [], {}
        for (district, lease_no), (operator, field_no, name) in sorted(self.leases.items()):
            vols = [0 if rng.random() < 0.08 else rng.randint(1, 500_000)
                    for _ in range(N_MEASURES)]
            tot = op_cents.setdefault(operator, [0] * N_MEASURES)
            for i, v in enumerate(vols):
                tot[i] += v
            # a duplicate grain row splits the month's volumes in two
            parts = [vols]
            if rng.random() < 0.05:
                first = [rng.randint(0, v) for v in vols]
                parts = [first, [v - f for v, f in zip(vols, first)]]
            for part in parts:
                dist = f"{district:02d}" if rng.random() < 0.3 else str(district)
                junk = [_cents(rng.randint(0, 99_999)) for _ in range(N_MEASURES)]
                lease_lines.append(
                    [self._operator_no(operator), self._pad(dist), str(field_no),
                     str(lease_no), self._pad(name), *self._period(yyyymm), *junk,
                     *[self._volume(v) for v in part]]
                )
            self.seen["dim_district"].add(district)
            self.seen["dim_field"].add(field_no)
            self.seen["dim_lease"].add(f"{district}-{lease_no}")

        mismatched = set(rng.sample(sorted(o for o in op_cents if o != 0),
                                    rng.randint(2, 5)))
        op_lines = []
        for operator in sorted(op_cents):
            tot = list(op_cents[operator])
            if operator in mismatched:
                tot[rng.randrange(N_MEASURES)] += rng.randint(100, 50_000)
            op_lines.append(
                [self._operator_no(operator), self._pad(f"Operator {operator} LLC"),
                 *self._period(yyyymm), *[self._volume(v) for v in tot]]
            )
            self.seen["dim_operator"].add(operator)

        # rows every month must drop: pre-2000 cycles and rows with no
        # derivable month
        for _ in range(3):
            old = 199000 + rng.randint(1, 12) + 100 * rng.randint(0, 9)
            op_lines.append(["77", "Old Operator", str(old // 100), str(old % 100),
                             str(old), "1.00", "1.00", "1.00", "1.00"])
            lease_lines.append(["77", "3", "1001", "42", "Old Lease", str(old // 100),
                                str(old % 100), str(old), *["1.00"] * 8])
        op_lines.append(["78", "No Period", "", "", "NULL", "1.00", "", "", ""])
        lease_lines.append(["78", "4", "1002", "43", "No Period", "", "", "", *[""] * 8])

        rng.shuffle(op_lines)
        rng.shuffle(lease_lines)
        op_path = os.path.join(self.out_dir, f"operator_{yyyymm}.dsv")
        lease_path = os.path.join(self.out_dir, f"lease_{yyyymm}.dsv")
        _write_dsv(op_path, OPERATOR_HEADER, op_lines)
        _write_dsv(lease_path, LEASE_HEADER, lease_lines)
        expect = MonthExpectation(
            yyyymm=yyyymm,
            staging_operator_rows=len(op_cents),
            staging_lease_rows=len(self.leases),
            rollup_mismatches=len(mismatched),
            dims={k: len(v) for k, v in self.seen.items()},
            dsv_rows=len(op_lines) + len(lease_lines),
        )
        return op_path, lease_path, expect


def _write_dsv(path: str, header: list[str], rows: list[list[str]]) -> None:
    # padded header names: the reader must trim them
    head = "}".join(f" {h} " if i % 3 == 0 else h for i, h in enumerate(header))
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write(head + "\n")
        for r in rows:
            fh.write("}".join(r) + "\n")


def _ts(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi, n).astype("datetime64[D]")


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_star(out_dir: str, seed: int, orders: int) -> dict[str, int]:
    """TPC-H-shaped star tables in the canonical fixture schemas; returns
    row counts per table (lineitem averages four lines per order)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    customers = max(10, orders // 10)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions}), out_dir, "region")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           out_dir, "nation")
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, customers), 2),
        "c_mktsegment": segments[rng.integers(0, 5, customers)],
    }), out_dir, "customer")

    odate = _ts(rng, "1995-01-01", "2001-08-01", orders)
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, customers, orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, orders), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": priorities[rng.integers(0, 5, orders)],
    }), out_dir, "orders")

    per_order = rng.integers(1, 8, orders)
    okey = np.repeat(np.arange(orders), per_order)
    n = len(okey)
    starts = np.cumsum(per_order) - per_order
    linenumber = np.arange(n) - np.repeat(starts, per_order) + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = np.repeat(odate, per_order) + rng.integers(1, 122, n).astype("timedelta64[D]")
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    }), out_dir, "lineitem")
    return {"region": 5, "nation": 25, "customer": customers,
            "orders": orders, "lineitem": n}


VOCAB = (
    "a the data table row column key value part hash scan sort merge join "
    "agg group window filter query stream batch spark vector order line "
    "customer small big fast slow"
).split()


def write_documents(out_dir: str, seed: int, docs: int) -> int:
    """Random-vocabulary documents in the canonical ``documents`` schema.

    One document in twenty-five is a near-copy of an earlier one (one or
    two words replaced), for the SimHash near-duplicate pass; one in five
    carries one of a few 12-word boilerplate spans, for the span-excision
    passes. Returns the row count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    spans = [" ".join(rng.choice(VOCAB) for _ in range(12)) for _ in range(6)]
    texts: list[str] = []
    for i in range(docs):
        if texts and rng.random() < 0.04:
            words = rng.choice(texts).split()
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(12, 90))]
            if rng.random() < 0.2:
                at = rng.randrange(len(words))
                words[at:at] = rng.choice(spans).split()
        texts.append(" ".join(words))
    _write(pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(["en", "de", "es", "fr", "zh"]) for _ in range(docs)],
        "source": [f"src{rng.randrange(20)}" for _ in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), out_dir, "documents")
    return docs
