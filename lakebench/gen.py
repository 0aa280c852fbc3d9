"""Deterministic inputs for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed
gives byte-identical Parquet files, a different seed gives different
values. The engine only ever sees the files these functions write.

Two families, shaped like the repository's fixtures (FIXTURES.md):

- the star schema plus the stream and text/vector tables that the
  registered queries read (``write_star``);
- reference-shaped tick files, ``DateTime``/``Bid``/``Ask``, arriving in
  rounds under one folder per symbol (``TickFeed``).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "en", "fr", "es", "de", "zh"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_EPOCH_US = {
    y: int(dt.datetime(int(y), 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    for y in ("1995", "2024")
}
_DAY_US = 86_400_000_000


def _ts_us(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The star schema and the event/text/vector tables at scale ``sf``
    (sf 1 = 1.5M orders, as in TPC-H)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 500)
    n_ev = max(int(1_000_000 * sf), 1000)
    n_doc = max(int(50_000 * sf), 100)
    n_vec = max(int(20_000 * sf), 100)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    sizes = rng.choice(["small", "medium", "large"], n_part)
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{s} {w}" for s, w in zip(sizes, rng.choice(_VOCAB, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 50, n_part)],
            "p_type": np.char.upper(sizes.astype(str)),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + rng.integers(0, 1200, n_part),
        }
    )
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts_us(_EPOCH_US["1995"] + order_day * _DAY_US),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_day = np.repeat(order_day, lines) + rng.integers(1, 122, n_li)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": linenumber.astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["N", "A", "R"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": _ts_us(_EPOCH_US["1995"] + ship_day * _DAY_US),
        }
    )
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + _EPOCH_US["2024"]
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts_us(ev_ts),
            "user_id": rng.integers(0, max(int(15_000 * sf), 20), n_ev).astype(
                np.int64
            ),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": _money(rng, 0.0, 100.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 101)))))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    label = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[label] + rng.normal(0, 1.5, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )
    return out


def write_star(directory: str, seed: int, sf: float) -> None:
    """Write every star table as ``<directory>/<name>.parquet``, one row
    group each, like the fixtures."""
    os.makedirs(directory, exist_ok=True)
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))


class TickFeed:
    """Tick files for one symbol, arriving one per round.

    File ``r`` holds ``2 * half`` consecutive one-second ticks starting at
    tick ``r * half``, so each file overlaps the previous one by 50% and
    adds ``half`` new ``DateTime`` values. ``float32`` symbols store
    Bid/Ask as float32, which the engine widens to double.
    """

    def __init__(self, seed: int, symbol: str, index: int, half: int, float32: bool):
        self.symbol = symbol
        self.half = half
        self.float32 = float32
        self._rng_key = [seed, 2, index]
        rng = np.random.default_rng(self._rng_key)
        self.base_us = _EPOCH_US["2024"] + int(rng.integers(0, 300)) * _DAY_US
        self.price0 = float(rng.uniform(0.5, 150.0))

    def _prices(self, start: int, n: int) -> tuple[np.ndarray, np.ndarray]:
        # a price is a pure function of its tick index, so overlapping
        # files agree on the rows they share
        idx = np.arange(start, start + n)
        phase = np.random.default_rng(self._rng_key + [1]).uniform(0, 6.28, 3)
        mid = self.price0 * (
            1.0
            + 0.01 * np.sin(idx / 5000.0 + phase[0])
            + 0.002 * np.sin(idx / 37.0 + phase[1])
        )
        spread = self.price0 * 1e-4 * (1.5 + np.sin(idx / 11.0 + phase[2]))
        dtype = np.float32 if self.float32 else np.float64
        return mid.astype(dtype), (mid + spread).astype(dtype)

    def ticks(self, r: int) -> tuple[int, int]:
        """Tick-index range ``[lo, hi)`` covered by file ``r``."""
        return r * self.half, r * self.half + 2 * self.half

    def table(self, r: int) -> pa.Table:
        lo, hi = self.ticks(r)
        bid, ask = self._prices(lo, hi - lo)
        return pa.table(
            {
                "DateTime": _ts_us(self.base_us + np.arange(lo, hi) * 1_000_000),
                "Bid": pa.array(bid),
                "Ask": pa.array(ask),
            }
        )

    def bad_table(self, r: int) -> pa.Table:
        """A file that fails the quality gate: non-positive prices in
        rows whose keys lie past anything this feed has written."""
        lo = (r + 1000) * self.half
        t = self.table(r)
        bid = np.array(t.column("Bid").to_numpy(), copy=True)
        bid[:: max(len(bid) // 50, 1)] = 0.0
        return pa.table(
            {
                "DateTime": _ts_us(
                    self.base_us + np.arange(lo, lo + len(bid)) * 1_000_000
                ),
                "Bid": pa.array(bid),
                "Ask": t.column("Ask"),
            }
        )
