"""Seeded inputs and the independent pandas model the outputs are checked
against.

Everything here is plain NumPy/pandas: the library under test never sees
the seed, only the frames generated from it, and the expected results are
computed without it.

The keyed rows are TPC-H ``lineitem``-shaped: ``(l_orderkey,
l_linenumber)`` is the primary key, each order has 1-7 lines, and
``l_shipdate`` advances with the order key so that time-ordered ingest
gives each appended batch its own ship-date window (what manifest
min/max skipping relies on).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

KEYS = ["l_orderkey", "l_linenumber"]
DAY0 = pd.Timestamp("1992-01-01", tz="UTC")
# orders per ship day: keeps every batch inside its own date window
ORDERS_PER_DAY = 40
# the columns a checksum covers; all are integer-valued, so sums are exact
# in both pandas and Spark whatever the summation order
CHECK_COLS = ["l_quantity", "l_suppkey", "l_partkey"]
N_PARTS = 20_000
N_SUPPS = 1_000


def lineitem(rng: np.random.Generator, first_order: int, n_orders: int) -> pd.DataFrame:
    """Orders ``first_order .. first_order + n_orders - 1`` with 1-7 lines each."""
    lines = rng.integers(1, 8, n_orders)
    ok = np.repeat(np.arange(first_order, first_order + n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    ln = (np.arange(len(ok)) - starts + 1).astype(np.int32)
    n = len(ok)
    days = (ok // ORDERS_PER_DAY).astype("int64")
    return pd.DataFrame(
        {
            "l_orderkey": ok,
            "l_linenumber": ln,
            "l_partkey": rng.integers(1, N_PARTS, n),
            "l_suppkey": rng.integers(1, N_SUPPS, n),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": rng.uniform(900.0, 100_000.0, n).round(2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n),
            "l_shipdate": DAY0 + pd.to_timedelta(days, unit="D"),
        }
    )


def revise(rng: np.random.Generator, rows: pd.DataFrame) -> pd.DataFrame:
    """The same keys with changed values (what an upsert or MERGE brings)."""
    out = rows.copy()
    n = len(out)
    out["l_quantity"] = rng.integers(1, 51, n).astype(np.float64)
    out["l_suppkey"] = rng.integers(1, N_SUPPS, n)
    out["l_discount"] = rng.integers(0, 11, n) / 100.0
    out["l_extendedprice"] = rng.uniform(900.0, 100_000.0, n).round(2)
    return out


def ship_window(first_order: int, last_order: int) -> tuple:
    """Inclusive ship-date bounds covering orders ``first..last``, as naive
    UTC datetimes (the session time zone is UTC). Time-zone-aware bounds
    are not used: ``read_table(stats_bounds=...)`` compares them with the
    manifest's naive min/max and skips leaves that match."""
    lo = DAY0 + pd.Timedelta(days=first_order // ORDERS_PER_DAY)
    hi = DAY0 + pd.Timedelta(days=last_order // ORDERS_PER_DAY)
    return lo.tz_localize(None).to_pydatetime(), hi.tz_localize(None).to_pydatetime()


def summary(rows: pd.DataFrame) -> tuple:
    """(row count, *column sums) — the checksum a read is compared on."""
    return (len(rows), *(int(rows[c].sum()) for c in CHECK_COLS))


class KeyedModel:
    """The keyed table's expected contents under append/upsert/MERGE."""

    def __init__(self, rows: pd.DataFrame):
        self.rows = rows.set_index(KEYS, drop=False).sort_index()

    def append(self, batch: pd.DataFrame) -> None:
        idx = pd.MultiIndex.from_frame(batch[KEYS])
        if self.rows.index.isin(idx).any():
            raise ValueError("append batch repeats existing keys")
        self._put(batch)

    def upsert(self, batch: pd.DataFrame) -> None:
        self._put(batch)

    def merge(self, source: pd.DataFrame, delete_above_qty: float) -> None:
        """MERGE: matched rows are deleted when the source row's quantity
        exceeds ``delete_above_qty`` and replaced otherwise; unmatched
        source rows are inserted."""
        idx = pd.MultiIndex.from_frame(source[KEYS])
        matched = idx.isin(self.rows.index)
        dropping = matched & (source["l_quantity"].to_numpy() > delete_above_qty)
        self.rows = self.rows[~self.rows.index.isin(idx[dropping])]
        self._put(source[~dropping])

    def _put(self, batch: pd.DataFrame) -> None:
        new = batch.set_index(KEYS, drop=False)
        keep = self.rows[~self.rows.index.isin(new.index)]
        self.rows = pd.concat([keep, new]).sort_index()

    def orders(self) -> np.ndarray:
        return np.unique(self.rows["l_orderkey"].to_numpy())

    def range_rows(self, lo: int, hi: int) -> pd.DataFrame:
        ok = self.rows["l_orderkey"]
        return self.rows[(ok >= lo) & (ok <= hi)]

    def snapshot(self) -> pd.DataFrame:
        return self.rows.copy()


def unit_vectors(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    """``n`` unit vectors scattered around ``centers`` (clustered, as real
    embeddings are, with unit-variance spread around each centre); unit
    norm makes cosine and L2 rankings agree."""
    lab = rng.integers(0, len(centers), n)
    x = centers[lab] + rng.standard_normal((n, centers.shape[1]))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def exact_topk(corpus: np.ndarray, ids: np.ndarray, queries: np.ndarray, k: int) -> list:
    """Brute-force cosine top-k ids per query (the recall ground truth)."""
    sims = queries.astype(np.float64) @ corpus.astype(np.float64).T
    order = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return [set(ids[row].tolist()) for row in order]
