"""Seeded input generator for the benchmark.

Everything the program reads is produced here, from numbers, by this
file: the ``.bson`` segments are written by the minimal BSON writer below
(never by the program's own encoder), and the parquet tables by pyarrow.

Two populations exist:

* ``Orders(POP_ORDERS)`` -- sf0.1-shaped orders (150k) with their line
  items embedded as a ``lines`` array of sub-documents.  Contents come
  from a fixed internal seed; the benchmark ``--seed`` only chooses which
  orders form the subset and in which order they land across segments.
* ``pipeline_tables()`` -- the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` at sf0.01 shape, also from a fixed
  seed, so the registered queries' row counts are fixed numbers that can
  be recorded once and checked on every run.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pyarrow as pa

POP_SEED = 20240601
POP_ORDERS = 150_000                 # sf0.1 orders
DAY_MS = 86_400_000
EPOCH_1995_MS = 788_918_400_000      # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
RETURNFLAGS = np.array(["A", "N", "R"])
LINESTATUSES = np.array(["F", "O"])


# ---------------------------------------------------------------------------
# Minimal BSON writer: int32/int64, double, string, UTC datetime, document,
# array -- the only types the generator emits.
# ---------------------------------------------------------------------------

class Date(int):
    """Milliseconds since the epoch, written as a BSON UTC datetime."""


_I32 = struct.Struct("<i")
_Q64 = struct.Struct("<q")
_F64 = struct.Struct("<d")


def _element(key: bytes, v) -> bytes:
    if isinstance(v, Date):
        return b"\x09" + key + _Q64.pack(v)
    if isinstance(v, int):
        if -(2**31) <= v < 2**31:
            return b"\x10" + key + _I32.pack(v)
        return b"\x12" + key + _Q64.pack(v)
    if isinstance(v, float):
        return b"\x01" + key + _F64.pack(v)
    if isinstance(v, str):
        b = v.encode() + b"\x00"
        return b"\x02" + key + _I32.pack(len(b)) + b
    if isinstance(v, dict):
        return b"\x03" + key + bson(v)
    if isinstance(v, list):
        return b"\x04" + key + bson({str(i): x for i, x in enumerate(v)})
    raise TypeError(f"generator emits no {type(v).__name__}")


def bson(doc: dict) -> bytes:
    body = b"".join(_element(k.encode() + b"\x00", v) for k, v in doc.items())
    return _I32.pack(len(body) + 5) + body + b"\x00"


# ---------------------------------------------------------------------------
# Orders with embedded lines (the scan/write document shape)
# ---------------------------------------------------------------------------

class Orders:
    """Column arrays of an orders population; ``lines_*`` are flat arrays
    indexed through ``offsets`` (order i owns lines offsets[i]:offsets[i+1])."""

    def __init__(self, n: int, seed: int = POP_SEED):
        rng = np.random.default_rng(seed)
        self.n = n
        self.key = np.arange(n, dtype=np.int64)
        self.custkey = rng.integers(0, max(1, n // 10), n).astype(np.int64)
        self.status = STATUSES[rng.integers(0, 3, n)]
        self.orderdate_ms = EPOCH_1995_MS + rng.integers(0, 2404, n) * DAY_MS
        self.priority = PRIORITIES[rng.integers(0, 5, n)]
        nlines = rng.integers(1, 8, n)
        self.offsets = np.concatenate([[0], np.cumsum(nlines)]).astype(np.int64)
        m = int(self.offsets[-1])
        self.l_order = np.repeat(self.key, nlines)
        self.l_linenumber = (np.arange(m) - np.repeat(self.offsets[:-1], nlines) + 1).astype(np.int32)
        self.l_partkey = rng.integers(0, max(1, n * 2 // 15), m).astype(np.int64)
        self.l_suppkey = rng.integers(0, max(1, n // 150), m).astype(np.int64)
        self.l_quantity = rng.integers(1, 51, m).astype(np.float64)
        price = 900.0 + rng.integers(0, 1000, m) / 10.0
        self.l_extendedprice = np.round(self.l_quantity * price, 2)
        self.l_discount = rng.integers(0, 11, m) / 100.0
        self.l_tax = rng.integers(0, 9, m) / 100.0
        self.l_returnflag = RETURNFLAGS[rng.integers(0, 3, m)]
        self.l_linestatus = LINESTATUSES[rng.integers(0, 2, m)]
        self.l_shipdate_ms = (np.repeat(self.orderdate_ms, nlines)
                              + rng.integers(1, 122, m) * DAY_MS)
        charge = self.l_extendedprice * (1 + self.l_tax) * (1 - self.l_discount)
        self.total = np.round(np.add.reduceat(charge, self.offsets[:-1]), 2)
        self._lists = None

    def docs(self, idx):
        """Documents for the given order indices, in that order."""
        if self._lists is None:   # Python scalars, converted once
            self._lists = {k: v.tolist() for k, v in vars(self).items()
                           if isinstance(v, np.ndarray)}
        c = self._lists
        off = c["offsets"]
        for i in idx:
            i = int(i)
            lines = [
                {
                    "linenumber": c["l_linenumber"][j],
                    "partkey": c["l_partkey"][j],
                    "suppkey": c["l_suppkey"][j],
                    "quantity": c["l_quantity"][j],
                    "extendedprice": c["l_extendedprice"][j],
                    "discount": c["l_discount"][j],
                    "tax": c["l_tax"][j],
                    "returnflag": c["l_returnflag"][j],
                    "linestatus": c["l_linestatus"][j],
                    "shipdate": Date(c["l_shipdate_ms"][j]),
                }
                for j in range(off[i], off[i + 1])
            ]
            yield {
                "_id": c["key"][i],
                "custkey": c["custkey"][i],
                "status": c["status"][i],
                "total": c["total"][i],
                "orderdate": Date(c["orderdate_ms"][i]),
                "priority": c["priority"][i],
                "lines": lines,
            }

    def table(self, idx) -> pa.Table:
        """The same documents as an Arrow table (nested ``lines``)."""
        idx = np.asarray(idx, dtype=np.int64)
        starts, ends = self.offsets[idx], self.offsets[idx + 1]
        lens = ends - starts
        sel = np.concatenate([np.arange(s, e) for s, e in zip(starts, ends)])
        ms = pa.timestamp("ms", tz="UTC")
        lines = pa.StructArray.from_arrays(
            [pa.array(self.l_linenumber[sel]), pa.array(self.l_partkey[sel]),
             pa.array(self.l_suppkey[sel]), pa.array(self.l_quantity[sel]),
             pa.array(self.l_extendedprice[sel]), pa.array(self.l_discount[sel]),
             pa.array(self.l_tax[sel]), pa.array(self.l_returnflag[sel]),
             pa.array(self.l_linestatus[sel]),
             pa.array(self.l_shipdate_ms[sel], type=ms)],
            names=["linenumber", "partkey", "suppkey", "quantity",
                   "extendedprice", "discount", "tax", "returnflag",
                   "linestatus", "shipdate"])
        offsets = pa.array(np.concatenate([[0], np.cumsum(lens)]).astype(np.int32))
        return pa.table({
            "_id": self.key[idx], "custkey": self.custkey[idx],
            "status": self.status[idx], "total": self.total[idx],
            "orderdate": pa.array(self.orderdate_ms[idx], type=ms),
            "priority": self.priority[idx],
            "lines": pa.ListArray.from_arrays(offsets, lines),
        })


def order_subset(pop: Orders, n_docs: int, seed: int) -> np.ndarray:
    """Seeded choice of ``n_docs`` orders, in the order they are written."""
    return np.random.default_rng(seed).choice(pop.n, size=n_docs, replace=False)


def segments(pop: Orders, idx, n_segments: int) -> list[bytes]:
    """The subset as ``n_segments`` .bson segment images."""
    return [b"".join(bson(d) for d in pop.docs(part))
            for part in np.array_split(np.asarray(idx), n_segments)]


def digest(blobs) -> str:
    h = hashlib.sha256()
    for b in blobs:
        h.update(hashlib.sha256(b).digest())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Sensor documents and keyed mutations (the upsert shape)
# ---------------------------------------------------------------------------

def sensor_docs(n: int) -> list[dict]:
    rng = np.random.default_rng(POP_SEED + 1)
    docs = []
    for i in range(n):
        readings = [int(x) for x in rng.integers(0, 1000, 3)]
        docs.append({"_id": f"s{i:07d}", "site": f"site{i % 17}",
                     "n": 3, "sum": sum(readings), "last": readings[-1],
                     "readings": readings})
    return docs


def mutations(n_docs: int, n_mut: int, seed: int) -> list[tuple[str, int]]:
    """``n_mut`` distinct (key, value) pairs: half hit existing sensors,
    half are new keys (upserts); the seed picks the keys and values."""
    rng = np.random.default_rng(seed)
    hits = rng.choice(n_docs, size=n_mut // 2, replace=False)
    misses = n_docs + rng.choice(n_docs, size=n_mut - n_mut // 2, replace=False)
    keys = np.concatenate([hits, misses])
    rng.shuffle(keys)
    vals = rng.integers(1, 1000, n_mut)
    return [(f"s{int(k):07d}", int(v)) for k, v in zip(keys, vals)]


# ---------------------------------------------------------------------------
# Pipeline tables (sf0.01 shape, fixed seed)
# ---------------------------------------------------------------------------

_VOCAB = ("the a data row column table key value hash join merge sort scan "
          "filter group agg window stream batch spark query vector order "
          "customer part line big small fast slow").split()
_LANGS = np.array(["en", "zh", "de", "fr", "es"])


def pipeline_tables(sf: float = 0.01) -> dict[str, pa.Table]:
    rng = np.random.default_rng(POP_SEED + 2)
    us = pa.timestamp("us")
    n_orders = int(1_500_000 * sf)
    o = Orders(n_orders, POP_SEED + 3)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    m = int(o.offsets[-1])

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, n_cust)]}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                np.array(["blue", "hot", "small", "old", "red", "new", "cold"])[rng.integers(0, 7, n_part)],
                np.array(["bolt", "gear", "anvil", "ring", "widget", "rod", "plate"])[rng.integers(0, 7, n_part)])],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                                "PROMO"])[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0}),
        "orders": pa.table({
            "o_orderkey": o.key,
            "o_custkey": o.custkey % n_cust,
            "o_orderstatus": o.status,
            "o_totalprice": o.total,
            "o_orderdate": pa.array(o.orderdate_ms * 1000, us),
            "o_orderpriority": o.priority}),
        "lineitem": pa.table({
            "l_orderkey": o.l_order,
            "l_partkey": o.l_partkey % n_part,
            "l_suppkey": o.l_suppkey % n_supp,
            "l_linenumber": o.l_linenumber,
            "l_quantity": o.l_quantity,
            "l_extendedprice": o.l_extendedprice,
            "l_discount": o.l_discount,
            "l_tax": o.l_tax,
            "l_returnflag": o.l_returnflag,
            "l_linestatus": o.l_linestatus,
            "l_shipdate": pa.array(o.l_shipdate_ms * 1000, us)}),
    }
    assert tables["lineitem"].num_rows == m

    n_ev = int(1_000_000 * sf)
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(EPOCH_2024_US + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)), us),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": np.array(["click", "signup", "error", "view",
                                "purchase"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    n_docs = int(50_000 * sf)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    n_vec, dim = int(50_000 * sf), 64
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return tables
