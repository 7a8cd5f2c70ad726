"""Inputs of the write-side layer probes (see probes.writer): orders as a
cached Spark DataFrame, and a sensors collection with keyed mutations
(``$inc``/``$set``/``$push``, ``upsert=True``; half the keys hit, half
miss), whose expected result is computed here in Python.

The write path has no timed end-to-end job of its own; its layers are
measured in every traced run.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

import gen

N_DOCS = {"full": 8_000, "tiny": 1_000}
N_SENSORS = {"full": 2_000, "tiny": 200}
N_MUTATIONS = {"full": 200, "tiny": 40}
UPDATE = {"$inc": {"n": 1, "sum": "$v"}, "$set": {"last": "$v"},
          "$push": {"readings": "$v"}}


class WriteInputs:
    name = "write"

    def __init__(self, ctx):
        pop = ctx.population()
        idx = gen.order_subset(pop, N_DOCS[ctx.scale], ctx.seed)
        self.table = pop.table(idx)
        self.sensors = gen.sensor_docs(N_SENSORS[ctx.scale])
        self.base_segment = b"".join(gen.bson(d) for d in self.sensors)
        self.mutations = gen.mutations(len(self.sensors), N_MUTATIONS[ctx.scale], ctx.seed)
        self.want_upsert = self._expected_sensors()
        self.store = self.source = self.df = None

    def _expected_sensors(self) -> dict:
        want = {d["_id"]: dict(d, readings=list(d["readings"])) for d in self.sensors}
        for k, v in self.mutations:
            d = want.get(k)
            if d is None:
                want[k] = {"_id": k, "n": 1, "sum": v, "last": v, "readings": [v]}
            else:
                d.update(n=d["n"] + 1, sum=d["sum"] + v, last=v,
                         readings=d["readings"] + [v])
        return want

    def materialize(self, root: str) -> None:
        self.store = os.path.join(root, "store")
        os.makedirs(self.store)
        self.source = os.path.join(root, "orders.parquet")
        pq.write_table(self.table, self.source)
        self.reset_sensors()

    def reset_sensors(self) -> None:
        from mongo_hadoop_spark.store import DocumentStore

        store = DocumentStore(self.store)
        if store.collection("sensors").exists():
            store.drop("sensors")
        coll = os.path.join(self.store, "sensors")
        os.makedirs(coll)
        with open(os.path.join(coll, "seg-000.bson"), "wb") as f:
            f.write(self.base_segment)

    def prime(self, spark) -> None:
        """Source rows cached in Spark memory, in two partitions."""
        self.df = spark.read.parquet(self.source).repartition(2).cache()
        self.df.count()
