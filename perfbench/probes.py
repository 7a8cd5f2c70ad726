"""Per-layer probes for the traced run: the program's public functions
called one at a time, in this process, on the workloads' generated
inputs.  Each call is a span; counts are taken at the same boundaries.
Outputs are checked like the workloads' (a mismatch is a failed
operation)."""

from __future__ import annotations

import contextlib
import json
import math
import time

from common import maybe_span
from wl_scan import FIELDS, PROJ_SCHEMA


@contextlib.contextmanager
def _patched(obj, attr: str, wrap):
    orig = getattr(obj, attr)
    setattr(obj, attr, wrap(orig))
    try:
        yield
    finally:
        setattr(obj, attr, orig)


@contextlib.contextmanager
def _timed(tracer, name: str):
    """Span ``name``; the yielded dict's "s" is the elapsed seconds."""
    out = {}
    t0 = time.perf_counter()
    with maybe_span(tracer, name):
        yield out
    out["s"] = time.perf_counter() - t0


def connector(ctx, scan, full_scan_s: float | None) -> dict:
    """Read-side layers over the scan workload's store."""
    from mongo_hadoop_spark import bsonio
    from mongo_hadoop_spark.plans import filters
    from mongo_hadoop_spark.sources import mongo_datasource as mds
    from mongo_hadoop_spark.sources import schema_infer
    from mongo_hadoop_spark.store import DocumentStore

    tr = ctx.tracer
    m: dict = {}
    coll = DocumentStore(scan.store).collection("orders")
    with maybe_span(tr, "layers.connector"):
        docs = []
        with _timed(tr, "bsonio.decode_file_iter") as t:
            for seg in coll.segments():
                with open(seg, "rb") as f:
                    docs.extend(bsonio.decode_file_iter(f))
        n = len(docs)
        ctx.check(n == scan.n_docs, f"decoded {n} docs != {scan.n_docs}")
        m["bsonio.docs_decoded"] = (n, "count")
        m["bsonio.decode_docs_per_s"] = (n / t["s"], "docs/s")

        with _timed(tr, "filters.match") as t:
            matched = [d for d in docs if filters.match(d, scan.query)]
        ctx.check(len(matched) == scan.want_proj["n"],
                  f"matched {len(matched)} != {scan.want_proj['n']}")
        m["filters.docs_matched"] = (len(matched), "count")
        m["filters.match_docs_per_s"] = (n / t["s"], "docs/s")
        m["filters.match_selectivity"] = (len(matched) / n, "ratio")
        with _timed(tr, "filters.project") as t:
            for d in matched:
                filters.project(d, FIELDS)
        m["filters.project_docs_per_s"] = (len(matched) / t["s"], "docs/s")

        options = {"path": scan.store, "collection": "orders"}
        with _timed(tr, "mongo_datasource.DocumentDataSource.schema") as t:
            schema = mds.DocumentDataSource(dict(options)).schema()
        m["schema_infer.infer_s"] = (t["s"], "s")
        with _timed(tr, "schema_infer.doc_to_row") as t:
            for d in docs:
                schema_infer.doc_to_row(d, schema)
        m["schema_infer.convert_docs_per_s"] = (n / t["s"], "docs/s")

        reader = mds.DocumentReader(dict(options), schema)
        with _timed(tr, "mongo_datasource.DocumentReader.partitions") as t:
            parts = reader.partitions()
        m["splitters.plan_s"] = (t["s"], "s")
        m["splitters.partitions"] = (len(parts), "count")
        with _timed(tr, "mongo_datasource.DocumentReader.read.full") as t:
            rows = sum(1 for p in parts for _ in reader.read(p))
        read_full_s = t["s"]
        ctx.check(rows == n, f"in-driver full read {rows} rows != {n}")
        m["mongo_datasource.read_full_docs_per_s"] = (n / read_full_s, "docs/s")

        from pyspark.sql.types import StructType

        popts = dict(options, fields=json.dumps(FIELDS),
                     query=json.dumps(scan.query))
        preader = mds.DocumentReader(popts, StructType.fromDDL(PROJ_SCHEMA))
        with _timed(tr, "mongo_datasource.DocumentReader.read.projected") as t:
            prows = sum(1 for p in preader.partitions() for _ in preader.read(p))
        ctx.check(prows == scan.want_proj["n"],
                  f"in-driver projected read {prows} rows != {scan.want_proj['n']}")
        m["mongo_datasource.read_projected_docs_per_s"] = (n / t["s"], "docs/s")

        if full_scan_s is None:   # not the scan workload: measure it here
            job = scan.jobs()["op_a"]
            full_scan_s = min(job(r)["full"] for r in range(2))
        m["mongo_datasource.spark_overhead_share"] = (
            1.0 - (read_full_s / 2) / full_scan_s, "ratio")

        with _timed(tr, "bsonio.encode") as t:
            for d in docs:
                bsonio.encode(d)
        m["bsonio.encode_docs_per_s"] = (n / t["s"], "docs/s")
    return m


def writer(ctx, write) -> dict:
    """Write-side layers over the write inputs (write_inputs.py)."""
    from mongo_hadoop_spark.plans import filters
    from mongo_hadoop_spark.sinks import writers
    from mongo_hadoop_spark.store import DocumentCollection, DocumentStore

    tr = ctx.tracer
    m: dict = {}
    store = DocumentStore(write.store)
    with maybe_span(tr, "layers.writer"):
        rows = write.df.collect()
        with _timed(tr, "writers.row_to_doc") as t:
            docs = [writers.row_to_doc(r) for r in rows]
        m["writers.row_to_doc_rows_per_s"] = (len(rows) / t["s"], "rows/s")

        with _timed(tr, "store.insert_many") as t:
            n = store.collection("probe_insert").insert_many(docs)
        ctx.check(n == len(docs), f"insert_many wrote {n} != {len(docs)}")
        m["store.insert_many_docs_per_s"] = (n / t["s"], "docs/s")
        store.drop("probe_insert")

        best = math.inf
        for rep in range(2):
            name = f"probe_wd{rep}"
            with _timed(tr, "writers.write_documents.insert") as t:
                writers.write_documents(write.df, write.store, name, mode="insert")
            best = min(best, t["s"])
            got = store.collection(name).count()
            ctx.check(got == len(docs), f"write_documents inserted {got} != {len(docs)}")
            store.drop(name)
        m["writers.insert_docs_s"] = (best, "s")

        # replay on a pre-journaled mutation set
        write.reset_sensors()
        journal = [{"q": {"_id": k}, "u": _fill(v), "upsert": True, "multi": False,
                    "replace": False, "af": None} for k, v in write.mutations]
        store.collection("sensors.updates").insert_many(journal)
        calls = [0]

        def counting(fn):
            def wrapped(*a, **kw):
                calls[0] += 1
                return fn(*a, **kw)
            return wrapped

        def spanned(fn):
            def wrapped(*a, **kw):
                with maybe_span(tr, "store.DocumentCollection.rewrite"):
                    t0 = time.perf_counter()
                    out = fn(*a, **kw)
                    rewrite_s.append(time.perf_counter() - t0)
                return out
            return wrapped

        rewrite_s: list[float] = []
        with _patched(filters, "match", counting), \
                _patched(DocumentCollection, "rewrite", spanned), \
                _timed(tr, "writers.apply_pending_updates") as t:
            stats = writers.apply_pending_updates(write.store, "sensors")
        got = {d["_id"]: d for d in store.collection("sensors").find()}
        ctx.check(got == write.want_upsert, "replay result differs from expected sensors")
        m["writers.replay_s"] = (t["s"], "s")
        m["writers.replay_match_calls"] = (calls[0], "count")
        m["writers.replay_matched"] = (stats["matched"], "count")
        m["writers.replay_upserted"] = (stats["upserted"], "count")
        m["store.rewrite_s"] = (sum(rewrite_s), "s")
        write.reset_sensors()
    return m


def _fill(v: int) -> dict:
    from write_inputs import UPDATE

    def sub(node):
        if isinstance(node, dict):
            return {k: sub(x) for k, x in node.items()}
        return v if node == "$v" else node
    return sub(UPDATE)
