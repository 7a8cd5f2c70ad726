"""Live-backend committer: replay spooled output through a pymongo-protocol
client.

The write path is two-phase, mirroring the reference's
MongoRecordWriter/MongoOutputCommitter split
(core/src/main/java/com/mongodb/hadoop/output/MongoRecordWriter.java:41-130,
core/.../output/MongoOutputCommitter.java:91-186): Spark tasks spool typed
records into committed file-store segments in parallel (speculative
duplicates never commit), then the driver-side committer replays them
against the destination collection as **ordered bulk batches of 1000**
(mongo.output.batch.size, core/.../util/MongoConfigUtil.java:635-647).

This module is the commit half for a *live* destination: anything that
speaks pymongo's ``Collection`` protocol — a real
``pymongo.MongoClient()[db][coll]``, ``mongomock``, or the in-process
fake server used by the test suite.  The operation objects are imported
from pymongo when available and substituted with structurally-identical
fallbacks otherwise, so the module works (and is fully testable) in an
environment with no driver package installed.

The file store remains the default backend; these functions are the seam
a deployment points at a real cluster:

    commit_inserts_live(store_path, "out", client["db"]["out"])
    commit_updates_live(store_path, "out", client["db"]["out"])
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Iterable, Iterator

DEFAULT_BATCH_SIZE = 1000  # mongo.output.batch.size (MongoConfigUtil.java:635)

try:  # pragma: no cover - exercised only where pymongo is installed
    from pymongo import InsertOne, ReplaceOne, UpdateMany, UpdateOne

    HAVE_PYMONGO = True
except ImportError:
    HAVE_PYMONGO = False

    @dataclass
    class InsertOne:  # noqa: D101 - structural stand-in for pymongo's
        _doc: dict

    @dataclass
    class UpdateOne:  # noqa: D101
        _filter: dict
        _doc: dict
        _upsert: bool = False
        _array_filters: list | None = None

        def __init__(self, filter: dict, update: dict, upsert: bool = False,
                     array_filters: list | None = None):
            self._filter, self._doc = filter, update
            self._upsert, self._array_filters = upsert, array_filters

    # Plain subclass on purpose: re-applying @dataclass would regenerate
    # __init__ from the field list (positional ``_filter``/``_doc``) and
    # shadow UpdateOne's keyword signature, breaking ``upsert=`` callers.
    class UpdateMany(UpdateOne):  # noqa: D101
        pass

    @dataclass
    class ReplaceOne:  # noqa: D101
        _filter: dict
        _doc: dict
        _upsert: bool = False

        def __init__(self, filter: dict, replacement: dict,
                     upsert: bool = False):
            self._filter, self._doc, self._upsert = filter, replacement, upsert


def mutation_to_op(m: dict):
    """Journaled mutation document → pymongo bulk operation.

    The journal schema is the MongoUpdateWritable 5-tuple
    (core/.../io/MongoUpdateWritable.java:43-47) as written by
    ``sinks.writers.journal_updates``:
    ``{"q": query, "u": update, "upsert": bool, "multi": bool,
    "replace": bool}``.
    """
    from mongo_hadoop_spark.sinks.writers import check_replacement

    check_replacement(m["u"], m.get("replace"))
    if m.get("replace"):
        return ReplaceOne(m["q"], m["u"], upsert=bool(m.get("upsert")))
    cls = UpdateMany if m.get("multi") else UpdateOne
    return cls(m["q"], m["u"], upsert=bool(m.get("upsert")),
               array_filters=m.get("af"))


def _batches(items: Iterable[Any], size: int) -> Iterator[list]:
    batch: list = []
    for it in items:
        batch.append(it)
        if len(batch) >= size:
            yield batch
            batch = []
    if batch:
        yield batch


def commit_inserts_live(
    store_path: str,
    collection: str,
    target,
    batch_size: int = DEFAULT_BATCH_SIZE,
    ordered: bool = True,
) -> dict:
    """Replay task-spooled documents into a live collection.

    ``target`` is any pymongo-protocol collection (``insert_many``).
    Returns ``{"inserted": n, "batches": n}``.
    """
    from mongo_hadoop_spark.store import DocumentStore

    staged = DocumentStore(store_path).collection(collection)
    inserted = batches = 0
    for batch in _batches(staged.find(), batch_size):
        target.insert_many(batch, ordered=ordered)
        inserted += len(batch)
        batches += 1
    return {"inserted": inserted, "batches": batches}


def commit_updates_live(
    store_path: str,
    collection: str,
    target,
    batch_size: int = DEFAULT_BATCH_SIZE,
    ordered: bool = True,
    drop_journal: bool = True,
) -> dict:
    """Replay the journaled mutation stream through ``target.bulk_write``.

    This is the live-backend twin of ``sinks.writers.apply_pending_updates``
    — same journal, same batch/ordered semantics
    (MongoOutputCommitter.java:91-186), but the mutations execute on the
    server instead of in a local merge pass.  The journal is dropped only
    after every batch succeeded (commit-on-success; a failed batch leaves
    the journal for retry, matching the reference's task-retry contract).

    Returns ``{"matched": n, "modified": n, "upserted": n, "batches": n}``.
    """
    from mongo_hadoop_spark.store import DocumentStore

    store = DocumentStore(store_path)
    journal = store.collection(f"{collection}.updates")
    matched = modified = upserted = batches = 0
    for batch in _batches(journal.find(), batch_size):
        result = target.bulk_write([mutation_to_op(m) for m in batch],
                                   ordered=ordered)
        matched += result.matched_count
        modified += result.modified_count
        upserted += result.upserted_count
        batches += 1
    if drop_journal:
        store.drop(f"{collection}.updates")
    return {"matched": matched, "modified": modified,
            "upserted": upserted, "batches": batches}


def target_from_uri(uri: str, client_factory=None):
    """Resolve a pymongo-protocol collection from a connection string.

    The URI must carry a ``db.collection`` namespace (the output-URI
    contract, MongoConfigUtil.getOutputURI).  ``client_factory`` maps the
    normalized URI string to a client object exposing ``client[db][coll]``
    — defaults to ``pymongo.MongoClient`` where pymongo is installed, and
    lets tests (or mongomock users) inject an in-process server.
    """
    from mongo_hadoop_spark.sources.uri import InvalidMongoURI, MongoURI

    parsed = MongoURI.parse(uri)
    if not (parsed.database and parsed.collection):
        raise InvalidMongoURI(
            f"output URI needs a db.collection namespace: {uri!r}")
    if client_factory is None:  # pragma: no cover - needs pymongo
        from pymongo import MongoClient
        client_factory = MongoClient
    client = client_factory(parsed.build())
    return client[parsed.database][parsed.collection]
