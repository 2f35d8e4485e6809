"""Seeded TPC-H-shaped tables and the signed delta batches that churn them.

The benchmark owns the "world": the true contents of every base table after
each committed batch.  The engine only ever sees the generated parquet files;
the world is what the correctness gate recomputes the views over.

Row counts follow TPC-H ratios (lineitem 6M x sf, orders 1.5M x sf,
customer 150k x sf, 25 nations).  Only customers whose key is not a multiple
of 3 place orders, as in TPC-H, so a customer-preserving outer join has
NULL-padded rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

MULT_COL = "_duckdb_ivm_multiplicity"

RETURNFLAGS = np.array(["A", "N", "R"], dtype=object)
LINESTATUS = np.array(["F", "O"], dtype=object)
SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"], dtype=object)
ORDERSTATUS = np.array(["F", "O", "P"], dtype=object)
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object
)
NATIONS = np.array(
    [
        "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
        "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
        "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
        "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
    ],
    dtype=object,
)
_NATION_REGION = np.array(
    [0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3, 4, 2, 3, 3, 1]
)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


class Table:
    """Column arrays of one base table plus a liveness mask.  Deleted rows
    stay in the arrays (masked), inserted rows are appended."""

    def __init__(self, name: str, cols: dict[str, np.ndarray]) -> None:
        self.name = name
        self.cols = cols
        self.live = np.ones(len(next(iter(cols.values()))), dtype=bool)

    def live_idx(self) -> np.ndarray:
        return np.flatnonzero(self.live)

    def rows(self, idx: np.ndarray) -> dict[str, np.ndarray]:
        return {c: a[idx] for c, a in self.cols.items()}

    def to_arrow(self) -> pa.Table:
        """The live rows."""
        return to_arrow(self.rows(self.live_idx()))

    def delete(self, idx: np.ndarray) -> None:
        if not self.live[idx].all() or len(np.unique(idx)) != len(idx):
            raise ValueError(f"{self.name}: delete of a row that is not live")
        self.live[idx] = False

    def append(self, rows: dict[str, np.ndarray]) -> None:
        n = len(next(iter(rows.values())))
        self.cols = {c: np.concatenate([a, rows[c]]) for c, a in self.cols.items()}
        self.live = np.concatenate([self.live, np.ones(n, dtype=bool)])


def to_arrow(cols: dict[str, np.ndarray], mult: bool | None = None) -> pa.Table:
    arrays = {}
    for c, a in cols.items():
        arrays[c] = pa.array(a.tolist() if a.dtype == object else a)
    if mult is not None:
        arrays[MULT_COL] = pa.array(np.full(len(next(iter(cols.values()))), mult))
    return pa.table(arrays)


def signed_delta(deleted: dict[str, np.ndarray], inserted: dict[str, np.ndarray]) -> pa.Table:
    """One delta relation: base columns + the BOOLEAN multiplicity column
    (false = delete, true = insert), deletes first."""
    return pa.concat_tables([to_arrow(deleted, False), to_arrow(inserted, True)])


class World:
    """The TPC-H-shaped base tables at scale factor ``sf``, built from
    ``seed``.  ``rng`` keeps drawing the delta batches, so one seed fixes
    the whole run's inputs."""

    def __init__(self, sf: float, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        rng = self.rng
        n_cust = max(30, int(150_000 * sf))
        n_orders = max(30, int(1_500_000 * sf))
        n_line = max(120, int(6_000_000 * sf))
        self.n_supp = max(10, int(10_000 * sf))
        self.next_orderkey = n_orders + 1
        self.next_custkey = n_cust + 1
        self._untouched: np.ndarray | None = None

        custkeys = np.arange(1, n_cust + 1, dtype=np.int64)
        self.customer = Table(
            "customer",
            {
                "c_custkey": custkeys,
                "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int64),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
            },
        )
        buyers = custkeys[custkeys % 3 != 0]
        self.buyers = buyers
        self.orders = Table("orders", self._new_orders(np.arange(1, n_orders + 1)))
        self.nation = Table(
            "nation",
            {
                "n_nationkey": np.arange(25, dtype=np.int64),
                "n_name": NATIONS.copy(),
                "n_regionkey": _NATION_REGION.astype(np.int64),
            },
        )
        self.lineitem = Table("lineitem", self._new_lines(n_line, n_orders))

    # -- row factories -------------------------------------------------------

    def _new_orders(self, keys: np.ndarray) -> dict[str, np.ndarray]:
        rng, n = self.rng, len(keys)
        return {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.choice(self.buyers, n),
            "o_orderstatus": ORDERSTATUS[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 850.0, 560_000.0, n),
        }

    def _new_lines(self, n: int, n_orders: int) -> dict[str, np.ndarray]:
        rng = self.rng
        qty = rng.integers(1, 51, n, dtype=np.int64)
        return {
            "l_orderkey": rng.integers(1, n_orders + 1, n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int64),
            "l_suppkey": rng.integers(1, self.n_supp + 1, n, dtype=np.int64),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(9.0, 2100.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_returnflag": RETURNFLAGS[rng.integers(0, 3, n)],
            "l_linestatus": LINESTATUS[rng.integers(0, 2, n)],
            "l_shipmode": SHIPMODES[rng.integers(0, 7, n)],
        }

    def tables(self) -> dict[str, Table]:
        return {
            "lineitem": self.lineitem,
            "orders": self.orders,
            "customer": self.customer,
            "nation": self.nation,
        }

    # -- delta batches -------------------------------------------------------
    #
    # Each method draws one batch, applies it to the world and returns the
    # signed delta.  A batch that the engine then fails to maintain leaves
    # the world ahead of the engine; the correctness gate reports that as a
    # mismatch, which is the intent: a failure is never silently absorbed.

    def lineitem_churn(self, size: int) -> pa.Table:
        """About ``size`` signed rows: deletes, inserts and updates (a delete
        plus a changed re-insert) in equal numbers, so the live row count
        stays constant.  Deletes hit live rows only."""
        rng, t = self.rng, self.lineitem
        k = max(1, size // 4)
        victims = rng.choice(t.live_idx(), 2 * k, replace=False)
        dels, upds = victims[:k], victims[k:]
        old = t.rows(victims)
        changed = t.rows(upds)
        n = len(upds)
        changed["l_quantity"] = rng.integers(1, 51, n, dtype=np.int64)
        changed["l_extendedprice"] = np.round(
            changed["l_quantity"] * rng.uniform(9.0, 2100.0, n), 2
        )
        changed["l_discount"] = rng.integers(0, 11, n) / 100.0
        changed["l_returnflag"] = RETURNFLAGS[rng.integers(0, 3, n)]
        fresh = self._new_lines(len(dels), self.next_orderkey - 1)
        inserted = {c: np.concatenate([changed[c], fresh[c]]) for c in changed}
        t.delete(victims)
        t.append(inserted)
        return signed_delta(old, inserted)

    def orders_churn(self, size: int, base_rows_only: bool = False) -> pa.Table:
        """About ``size`` signed order rows: deletes, inserts with fresh keys
        and updates of price and customer, in equal numbers.

        ``base_rows_only`` lets deletes and updates touch only rows that were
        live at the first such call and that no batch has touched since.  A
        stream may fold several delta files into one micro-batch, and this
        keeps a row from being inserted and deleted inside one batch."""
        rng, t = self.rng, self.orders
        k = max(1, size // 4)
        if base_rows_only:
            if self._untouched is None:
                self._untouched = t.live_idx()
            pick = rng.choice(len(self._untouched), 2 * k, replace=False)
            victims = self._untouched[pick]
            self._untouched = np.delete(self._untouched, pick)
        else:
            victims = rng.choice(t.live_idx(), 2 * k, replace=False)
        old = t.rows(victims)
        changed = t.rows(victims[k:])
        n = len(victims) - k
        changed["o_totalprice"] = _money(rng, 850.0, 560_000.0, n)
        changed["o_custkey"] = rng.choice(self.buyers, n)
        keys = np.arange(self.next_orderkey, self.next_orderkey + k, dtype=np.int64)
        self.next_orderkey += k
        fresh = self._new_orders(keys)
        inserted = {c: np.concatenate([changed[c], fresh[c]]) for c in changed}
        t.delete(victims)
        t.append(inserted)
        return signed_delta(old, inserted)

    def customer_churn(self, size: int) -> pa.Table:
        """``size`` balance/segment updates, plus on about half the batches
        one new customer and one deleted customer."""
        rng, t = self.rng, self.customer
        churn = bool(rng.integers(0, 2))
        victims = rng.choice(t.live_idx(), size + churn, replace=False)
        old = t.rows(victims)
        changed = t.rows(victims[:size])
        changed["c_acctbal"] = _money(rng, -999.99, 9999.99, size)
        changed["c_mktsegment"] = SEGMENTS[rng.integers(0, 5, size)]
        if churn:
            new = {
                "c_custkey": np.array([self.next_custkey], dtype=np.int64),
                "c_nationkey": rng.integers(0, 25, 1, dtype=np.int64),
                "c_acctbal": _money(rng, -999.99, 9999.99, 1),
                "c_mktsegment": SEGMENTS[rng.integers(0, 5, 1)],
            }
            self.next_custkey += 1
            changed = {c: np.concatenate([changed[c], new[c]]) for c in changed}
        t.delete(victims)
        t.append(changed)
        return signed_delta(old, changed)
