"""``scan`` workload: the read path (MongoRecordReader / BSON splits).

op_a = full scan: ``spark.read.format("mongodoc").load()`` (schema
inferred from a sample) of every field -> noop sink.
op_b = projected scan: ``fields`` = two top-level scalars and a static
``query`` that keeps about half the documents -> noop sink.

Every timed pass carries an Observation (row count, sum of ``total``,
and count/sum per ``status``); after the timer stops it is compared with
the same numbers computed by pyarrow from the generated columns.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow.compute as pc

import gen
from common import maybe_span

N_SEGMENTS = {"full": 8, "tiny": 2}
N_DOCS = {"full": 20_000, "tiny": 1_000}
FIELDS = {"_id": 0, "status": 1, "total": 1}
PROJ_SCHEMA = "status string, total double"
REL_TOL = 1e-9


def _stats(table) -> dict:
    out = {"n": table.num_rows, "sum": pc.sum(table["total"]).as_py() or 0.0}
    for st in gen.STATUSES:
        sub = table.filter(pc.equal(table["status"], st))
        out[f"n_{st}"] = sub.num_rows
        out[f"sum_{st}"] = pc.sum(sub["total"]).as_py() or 0.0
    return out


def _aggs():
    import pyspark.sql.functions as F

    cols = [F.count(F.lit(1)).alias("n"), F.sum("total").alias("sum")]
    for st in gen.STATUSES:
        hit = F.col("status") == F.lit(str(st))
        cols.append(F.sum(F.when(hit, 1).otherwise(0)).alias(f"n_{st}"))
        cols.append(F.sum(F.when(hit, F.col("total")).otherwise(0.0)).alias(f"sum_{st}"))
    return cols


def stats_match(got: dict, want: dict) -> bool:
    for k, w in want.items():
        g = got.get(k)
        if g is None:
            g = 0
        if k.startswith("n"):
            if int(g) != int(w):
                return False
        elif abs(float(g) - float(w)) > REL_TOL * max(1.0, abs(float(w))):
            return False
    return True


class Scan:
    name = "scan"
    meaning = {"op_a_s": "full_scan_s", "op_b_s": "projected_scan_s"}

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_docs = N_DOCS[ctx.scale]
        pop = ctx.population()
        self.threshold = float(np.median(pop.total))
        self.query = {"total": {"$gte": self.threshold}}
        self.idx = gen.order_subset(pop, self.n_docs, ctx.seed)
        self.segments = gen.segments(pop, self.idx, N_SEGMENTS[ctx.scale])
        self.table = pop.table(self.idx)
        self.want_full = _stats(self.table)
        self.want_proj = _stats(self.table.filter(
            pc.greater_equal(self.table["total"], self.threshold)))
        self.digest = gen.digest(self.segments)
        self.store = None

    # --- set-up --------------------------------------------------------------

    def materialize(self, root: str) -> None:
        self.store = os.path.join(root, "store")
        coll = os.path.join(self.store, "orders")
        os.makedirs(coll)
        for i, seg in enumerate(self.segments):
            if self.ctx.corrupt and i == 0:
                seg = _corrupt_status(seg)
            with open(os.path.join(coll, f"seg-{i:03d}.bson"), "wb") as f:
                f.write(seg)

    def prime(self, spark) -> None:
        """First touch: the data source resolves and infers its schema."""
        self.full_df(spark)

    # --- timed jobs ------------------------------------------------------------

    def _reader(self, spark):
        return (spark.read.format("mongodoc").option("path", self.store)
                .option("collection", "orders"))

    def full_df(self, spark):
        return self._reader(spark).load()

    def projected_df(self, spark):
        return (self._reader(spark).schema(PROJ_SCHEMA)
                .option("fields", json.dumps(FIELDS))
                .option("query", json.dumps(self.query)).load())

    def _timed(self, make_df, want, label):
        from pyspark.sql import Observation

        def job(rep: int) -> dict:
            spark = self.ctx.spark
            obs = Observation()
            tracer = self.ctx.tracer
            t0 = time.perf_counter()
            with maybe_span(tracer, f"scan.{label}", rep):
                with maybe_span(tracer, f"scan.{label}.load", rep):
                    df = make_df(spark)
                with maybe_span(tracer, f"scan.{label}.action", rep):
                    (df.observe(obs, *_aggs()).write.format("noop")
                     .mode("overwrite").save())
            elapsed = time.perf_counter() - t0
            self.ctx.check(stats_match(obs.get, want),
                           f"scan.{label} rep {rep}: {obs.get} != {want}")
            return {label: elapsed}

        return job

    def jobs(self) -> dict:
        return {"op_a": self._timed(self.full_df, self.want_full, "full"),
                "op_b": self._timed(self.projected_df, self.want_proj, "projected")}


def _corrupt_status(seg: bytes) -> bytes:
    """Flip the first document's ``status`` to a value no order has."""
    key = b"\x02status\x00\x02\x00\x00\x00"
    at = seg.index(key) + len(key)
    return seg[:at] + b"X" + seg[at + 1:]
