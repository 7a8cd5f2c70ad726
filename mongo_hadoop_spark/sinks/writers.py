"""Document-store writers: insert / update / replace / upsert.

Reference semantics reproduced (SURVEY §2.10):
- W1/W2 — tasks spool typed records to temp files; commit replays them as
  bulk batches (default 1000, ordered)
  (core/.../output/MongoRecordWriter.java:41-130,
   MongoOutputCommitter.java:91-186, MongoConfigUtil.java:635-647).
- W3 — row→document assembly.
- W6/W8 — insert storage and per-row update storage: each output row can
  be a *mutation* (query, modifiers, upsert, multi, replace) — the
  MongoUpdateWritable 5-tuple (core/.../io/MongoUpdateWritable.java:43-47).
- W7/W10 — ensure-index on store (pig/.../MongoStorage.java:237-238).

Execution model: every file-store write is one Spark job through the
``mongodoc`` ``DocumentWriter`` (``_run_job``): tasks stage segments,
the driver publishes them at job commit (``DocumentCollection.publish``
states the crash window).  Update modes journal one mutation per row
this way (``journal_updates``); ``apply_pending_updates`` (the committer
step) replays the journal in one merge pass, rewrites the collection,
then drops the journal, so a crash between the two re-applies $inc/$push
on re-run (reference mongo-defaults.xml:9-16).  On a live MongoDB the
replay is ``sinks.live.commit_updates_live``.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, DateType, MapType, StructType,
                               TimestampType)

_UTC = _dt.timezone.utc


@dataclass
class UpdateSpec:
    """MongoUpdateWritable analog (+ arrayFilters for $[ident] paths)."""
    query: dict
    update: dict
    upsert: bool = True
    multi: bool = False
    replace: bool = False
    array_filters: list | None = None


def _to_bson_value(v):
    if hasattr(v, "asDict"):
        return {k: _to_bson_value(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {k: _to_bson_value(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_to_bson_value(x) for x in v]
    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        return _dt.datetime(v.year, v.month, v.day, tzinfo=_dt.timezone.utc)
    return v


def row_to_doc(row) -> dict:
    """A pyspark Row as a document: the reference :func:`compile_docs`
    is tested against."""
    return {k: _to_bson_value(v) for k, v in row.asDict().items()}


def _compile_column(t):
    """``conv(array) -> [value, ...]``: the document values of an Arrow
    array of Spark type ``t``, nested types built from their converted
    child columns (twice as fast as ``to_pylist``).  A date becomes UTC
    midnight; a timestamp keeps its instant (cast to UTC, pyarrow's
    fastest zone)."""
    if isinstance(t, StructType):
        names, convs = t.names, [_compile_column(f.dataType) for f in t.fields]

        def struct(arr):
            cols = [conv(a) for conv, a in zip(convs, arr.flatten())]
            docs = ([dict(zip(names, v)) for v in zip(*cols)] if cols
                    else [{} for _ in range(len(arr))])
            return _with_nulls(arr, docs)
        return struct
    if isinstance(t, ArrayType):
        conv = _compile_column(t.elementType)
        return lambda arr: _runs(arr, lambda lo, n: conv(arr.values.slice(lo, n)))
    if isinstance(t, MapType):
        kconv, vconv = _compile_column(t.keyType), _compile_column(t.valueType)
        return lambda arr: _runs(arr, lambda lo, n: list(zip(
            kconv(arr.keys.slice(lo, n)), vconv(arr.items.slice(lo, n)))), dict)
    if isinstance(t, DateType):
        return lambda arr: [None if v is None else _dt.datetime(
            v.year, v.month, v.day, tzinfo=_UTC) for v in arr.to_pylist()]
    if isinstance(t, TimestampType):
        return lambda arr: arr.cast(pa.timestamp("us", tz="UTC")).to_pylist()
    return lambda arr: arr.to_pylist()


def _with_nulls(arr, values: list) -> list:
    if arr.null_count:
        return [v if ok else None
                for v, ok in zip(values, arr.is_valid().to_pylist())]
    return values


def _runs(arr, children, make=None) -> list:
    """Cut the converted children of list or map array ``arr`` (offsets
    into its unsliced child arrays) into one run per slot."""
    offs = arr.offsets.to_pylist()
    lo = offs[0]
    vals = children(lo, offs[-1] - lo)
    runs = [vals[a - lo:b - lo] for a, b in zip(offs, offs[1:])]
    return _with_nulls(arr, runs if make is None else [make(r) for r in runs])


def compile_docs(schema: StructType):
    """Compile ``schema`` once into ``docs(batch) -> [document, ...]`` for
    Arrow batches of that schema: :func:`row_to_doc`'s documents over
    pyspark's own Rows, except that a ``TimestampType`` value keeps its
    instant (a Row holds naive local time, which the encoder would read
    as UTC)."""
    struct = _compile_column(schema)
    return lambda batch: struct(batch.to_struct_array())


def check_replacement(update, replace: bool) -> None:
    """Server parity: a replacement (``replace=True``) must be a plain
    document, neither a pipeline nor one holding $-operators."""
    if replace and (isinstance(update, list)
                    or any(k.startswith("$") for k in update)):
        raise ValueError("replace=True update document must not contain "
                         f"$-operators or be a pipeline: {update!r}")


def write_documents(
    df: DataFrame,
    store_path: str,
    collection: str,
    mode: str = "insert",
    key_cols: list[str] | None = None,
    update_builder: Callable[[dict], UpdateSpec] | None = None,
    ensure_indexes: list[tuple[list[tuple[str, int]], dict]] | None = None,
) -> dict | None:
    """Write a DataFrame to a collection.  Update modes return
    :func:`apply_pending_updates`' ``{"matched", "upserted", "applied"}``
    stats; insert mode returns None.

    - ``insert``: every row becomes a document (one segment per task,
      all published at job commit).
    - ``update``/``upsert``/``replace``: every row becomes a mutation —
      either via ``update_builder(doc) -> UpdateSpec`` or derived from
      ``key_cols`` (query = key columns; update = $set of the rest, or the
      whole doc for replace; upsert per mode) — journaled by
      :func:`journal_updates`, then replayed by
      :func:`apply_pending_updates`.
    """
    from mongo_hadoop_spark.store import DocumentStore

    for keys, opts in ensure_indexes or []:
        DocumentStore(store_path).collection(collection).create_index(
            keys, **opts)
    if mode == "insert":
        _run_job(df, store_path, collection)
        return None

    if mode not in ("update", "upsert", "replace"):
        raise ValueError(f"unknown write mode {mode!r}")
    if update_builder is None:
        if not key_cols:
            raise ValueError("update modes need key_cols or update_builder")
        update_builder = _default_builder(mode, key_cols)
    journal_updates(df, store_path, collection, update_builder)
    return apply_pending_updates(store_path, collection)


def journal_updates(df: DataFrame, store_path: str, collection: str,
                    builder: Callable[[dict], UpdateSpec]) -> None:
    """Journal one mutation per row of ``df`` into ``<collection>.updates``
    in one job, as an insert is written: ``builder(document)`` as the
    MongoUpdateWritable 5-tuple ``{"q", "u", "upsert", "multi", "replace",
    "af"}``.  An invalid replacement document fails the job before
    anything is journaled.  :func:`apply_pending_updates` (file store) or
    ``sinks.live.commit_updates_live`` replays the journal."""
    def mutation(doc: dict) -> dict:
        spec = builder(doc)
        check_replacement(spec.update, spec.replace)
        return {"q": spec.query, "u": spec.update, "upsert": spec.upsert,
                "multi": spec.multi, "replace": spec.replace,
                "af": spec.array_filters}

    _run_job(df, store_path, f"{collection}.updates", transform=mutation)


def _run_job(df: DataFrame, store_path: str, collection: str,
             transform=None) -> None:
    """Append ``df`` through a ``DocumentWriter`` as one job: each task
    stages its rows and returns a commit message, and the driver commits
    the messages Spark accepted (one per partition, so a retried or
    speculative task attempt publishes nothing).  A failed job discards
    what its tasks staged."""
    import pickle

    from mongo_hadoop_spark.sources.mongo_datasource import DocumentWriter

    writer = DocumentWriter({"path": store_path, "collection": collection},
                            df.schema, overwrite=False, transform=transform)

    def task(batches):
        import pyarrow as pa

        message = pickle.dumps(writer.write(batches))
        yield pa.RecordBatch.from_arrays([pa.array([message], pa.binary())],
                                         names=["message"])

    try:
        messages = [pickle.loads(r.message) for r in
                    df.mapInArrow(task, "message binary").collect()]
        writer.commit(messages)
    except BaseException:
        writer.abort(None)
        raise


def template_update_builder(
    query_template: dict,
    update_template: dict,
    upsert: bool = True,
    multi: bool = False,
    replace: bool = False,
) -> Callable[[dict], UpdateSpec]:
    """Update-template substitution DSL (U10): ``$name`` placeholders in
    query/update templates are filled from row fields, recursing into
    nested documents and arrays.

    Reference: pig/.../JSONPigReplace.java:47-251 (`substitute` 93-130,
    `replaceAll` 199-223) — e.g. MongoUpdateStorage('{"_id": "$device_id"}',
    '{"$inc": {"logs_count": "$cnt"}}').  Placeholders must be whole string
    values; unresolved placeholders raise.
    """

    def fill(node, doc):
        if isinstance(node, dict):
            return {k: fill(v, doc) for k, v in node.items()}
        if isinstance(node, list):
            return [fill(v, doc) for v in node]
        if isinstance(node, str) and node.startswith("$") and not node.startswith("$$"):
            field = node[1:]
            if field not in doc:
                raise KeyError(f"update template placeholder ${field} "
                               f"missing from row fields {sorted(doc)}")
            return doc[field]
        if isinstance(node, str) and node.startswith("$$"):
            return node[1:]  # escaped literal "$..."
        return node

    def build(doc: dict) -> UpdateSpec:
        return UpdateSpec(
            fill(query_template, doc), fill(update_template, doc),
            upsert=upsert, multi=multi, replace=replace,
        )

    return build


def _default_builder(mode: str, key_cols: list[str]) -> Callable[[dict], UpdateSpec]:
    def build(doc: dict) -> UpdateSpec:
        query = {k: doc[k] for k in key_cols}
        rest = {k: v for k, v in doc.items() if k not in key_cols}
        if mode == "replace":
            return UpdateSpec(query, dict(doc), upsert=True, replace=True)
        return UpdateSpec(query, {"$set": rest}, upsert=(mode == "upsert"))

    return build


def apply_pending_updates(store_path: str, collection: str) -> dict:
    """Committer step: replay journaled mutations against the collection
    in one merge pass, rewrite it, then drop the journal.

    Returns {"matched": n, "upserted": n, "applied": n}.
    """
    from mongo_hadoop_spark.plans.filters import match
    from mongo_hadoop_spark.plans.updates import apply_update, init_upsert_doc
    from mongo_hadoop_spark.store import DocumentStore

    store = DocumentStore(store_path)
    journal = store.collection(f"{collection}.updates")
    mutations = list(journal.find())
    if not mutations:
        return {"matched": 0, "upserted": 0, "applied": 0}
    for m in mutations:  # a journal not written by journal_updates
        check_replacement(m["u"], m.get("replace"))
    coll = store.collection(collection)
    docs = list(coll.find())
    matched = upserted = applied = 0
    for m in mutations:
        hit = False
        for d in docs:
            if match(d, m["q"]):
                hit = True
                matched += 1
                apply_update(d, m["u"], m.get("af"))
                applied += 1
                if not m.get("multi"):
                    break
        if not hit and m.get("upsert"):
            docs.append(init_upsert_doc(m["q"], m["u"]))
            upserted += 1
            applied += 1
    coll.rewrite(docs)
    store.drop(f"{collection}.updates")
    return {"matched": matched, "upserted": upserted, "applied": applied}
