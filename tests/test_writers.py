"""Writer modes: insert / update / upsert / replace with the journaled
commit protocol (reference W1/W2/W6/W8 semantics, sensors/treasury jobs)."""

from __future__ import annotations

import pytest

from mongo_hadoop_spark.sinks import UpdateSpec, write_documents
from mongo_hadoop_spark.store import DocumentStore


@pytest.fixture()
def target(tmp_path):
    store = DocumentStore(str(tmp_path / "db"))
    store.collection("devices").insert_many(
        [{"device_id": i, "logs_count": 0, "name": f"d{i}"} for i in range(5)]
    )
    return store


def read_all(store, coll):
    return {d["device_id"]: d for d in store.collection(coll).find()}


def test_insert_mode(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "db2"))
    df = spark.createDataFrame([(i, f"v{i}") for i in range(30)], "k long, s string")
    write_documents(df, store.path, "raw", mode="insert")
    assert store.collection("raw").count() == 30


def test_update_mode_set(spark, target):
    df = spark.createDataFrame([(1, "renamed")], "device_id long, name string")
    write_documents(df, target.path, "devices", mode="update", key_cols=["device_id"])
    docs = read_all(target, "devices")
    assert docs[1]["name"] == "renamed"
    assert docs[1]["logs_count"] == 0          # untouched field survives
    assert docs[2]["name"] == "d2"             # other docs untouched
    assert len(docs) == 5                      # update (no upsert) adds nothing


def test_update_mode_misses_do_not_upsert(spark, target):
    df = spark.createDataFrame([(99, "ghost")], "device_id long, name string")
    write_documents(df, target.path, "devices", mode="update", key_cols=["device_id"])
    assert 99 not in read_all(target, "devices")


def test_upsert_mode(spark, target):
    df = spark.createDataFrame([(4, "upd"), (77, "new")],
                               "device_id long, name string")
    write_documents(df, target.path, "devices", mode="upsert", key_cols=["device_id"])
    docs = read_all(target, "devices")
    assert docs[4]["name"] == "upd" and docs[4]["logs_count"] == 0
    assert docs[77] == {"device_id": 77, "name": "new"}


def test_replace_mode_drops_other_fields(spark, target):
    df = spark.createDataFrame([(3, "fresh")], "device_id long, name string")
    write_documents(df, target.path, "devices", mode="replace", key_cols=["device_id"])
    assert read_all(target, "devices")[3] == {"device_id": 3, "name": "fresh"}


def test_inc_update_builder_sensors_rollup(spark, target):
    # sensors job (A4): per-device counts emitted as $inc upserts
    df = spark.createDataFrame([(0, 7), (1, 3), (88, 2)],
                               "device_id long, cnt long")

    def build(doc):
        return UpdateSpec({"device_id": doc["device_id"]},
                          {"$inc": {"logs_count": doc["cnt"]}}, upsert=True)

    write_documents(df, target.path, "devices", mode="update", update_builder=build)
    docs = read_all(target, "devices")
    assert docs[0]["logs_count"] == 7
    assert docs[1]["logs_count"] == 3
    assert docs[88]["logs_count"] == 2 and "name" not in docs[88]


def test_ensure_indexes(spark, target):
    df = spark.createDataFrame([(1, "x")], "device_id long, name string")
    write_documents(df, target.path, "devices", mode="update",
                    key_cols=["device_id"],
                    ensure_indexes=[([("device_id", 1)], {"unique": True})])
    assert "device_id_1" in target.collection("devices").requested_indexes()


def test_journal_cleared_after_apply(spark, target):
    df = spark.createDataFrame([(1, "z")], "device_id long, name string")
    write_documents(df, target.path, "devices", mode="update", key_cols=["device_id"])
    assert "devices.updates" not in target.list_collections()


def test_template_update_builder_dsl(spark, target):
    """U10 (JSONPigReplace): $name placeholders filled from row fields,
    recursing into nested docs; $$x escapes to a literal $x string."""
    from mongo_hadoop_spark.sinks import template_update_builder

    df = spark.createDataFrame([(2, 5), (99, 7)], "device_id long, cnt long")
    build = template_update_builder(
        {"device_id": "$device_id"},
        {"$inc": {"logs_count": "$cnt"},
         "$set": {"meta": {"src": "$$literal", "from_row": "$cnt"}}},
    )
    write_documents(df, target.path, "devices", mode="update", update_builder=build)
    docs = read_all(target, "devices")
    assert docs[2]["logs_count"] == 5
    assert docs[2]["meta"] == {"src": "$literal", "from_row": 5}
    assert docs[99]["logs_count"] == 7  # upserted by template default

    import pytest as _pytest

    bad = template_update_builder({"device_id": "$nope"}, {"$set": {"x": 1}})
    with _pytest.raises(Exception):
        write_documents(df, target.path, "devices", mode="update", update_builder=bad)


# ---------------------------------------------------------------------------
# Live-backend committer seam (sinks.live) driven end-to-end through an
# in-process pymongo-protocol fake server (tests/fake_mongo.py) — the spool
# → ordered-bulk-replay protocol of MongoOutputCommitter.java:91-186.
# ---------------------------------------------------------------------------

from mongo_hadoop_spark.sinks.live import (commit_inserts_live,
                                           commit_updates_live)
from fake_mongo import FakeBulkWriteError, FakeCollection


def _journal_updates(spark, store, mode, rows, schema, key_cols):
    """Journal mutations WITHOUT applying them (the task half only)."""
    from mongo_hadoop_spark.sinks.writers import (_default_builder,
                                                  journal_updates)

    df = spark.createDataFrame(rows, schema)
    journal_updates(df, store.path, "devices",
                    _default_builder(mode, key_cols))


def test_live_update_matches_file_store_commit(spark, target, tmp_path):
    """Same journal, two committers: bulk_write replay on the fake server
    must land on the identical final state as the file-store merge pass."""
    from mongo_hadoop_spark.sinks.writers import apply_pending_updates

    rows = [(1, "renamed"), (2, "other"), (9, "new-device")]
    schema = "device_id long, name string"
    _journal_updates(spark, target, "upsert", rows, schema, ["device_id"])

    # live path: seed the fake server with the same initial docs
    fake = FakeCollection("devices")
    fake.docs = target.collection("devices").find()
    stats = commit_updates_live(target.path, "devices", fake,
                                drop_journal=False)
    assert stats == {"matched": 2, "modified": 2, "upserted": 1, "batches": 1}

    # file-store path on the identical journal
    apply_pending_updates(target.path, "devices")
    file_state = {d["device_id"]: d for d in target.collection("devices").find()}
    live_state = {d["device_id"]: d for d in fake.find()}
    assert live_state == file_state
    assert live_state[9]["name"] == "new-device"


def test_live_replay_batches_of_1000_ordered(spark, tmp_path):
    """2500 mutations → 3 ordered bulk_write batches (1000/1000/500)."""
    from mongo_hadoop_spark.store import DocumentStore

    store = DocumentStore(str(tmp_path / "db3"))
    _journal_updates(spark, store, "upsert",
                     [(i, f"n{i}") for i in range(2500)],
                     "device_id long, name string", ["device_id"])
    fake = FakeCollection("devices")
    stats = commit_updates_live(store.path, "devices", fake)
    assert stats["upserted"] == 2500 and stats["batches"] == 3
    assert [c[1] for c in fake.calls] == [1000, 1000, 500]
    assert all(ordered for _, _, ordered in fake.calls)
    assert fake.count_documents() == 2500
    # journal dropped after a fully-successful commit
    assert store.collection("devices.updates").count() == 0


def test_live_insert_commit_batches(spark, tmp_path):
    from mongo_hadoop_spark.store import DocumentStore

    store = DocumentStore(str(tmp_path / "db4"))
    df = spark.createDataFrame([(i, f"v{i}") for i in range(1500)],
                               "k long, s string")
    write_documents(df, store.path, "staged", mode="insert")
    fake = FakeCollection("out")
    stats = commit_inserts_live(store.path, "staged", fake, batch_size=400)
    assert stats == {"inserted": 1500, "batches": 4}
    assert fake.count_documents() == 1500
    assert {d["k"] for d in fake.find()} == set(range(1500))


def test_live_failed_batch_leaves_journal_for_retry(spark, tmp_path):
    """Commit-on-success: a server error mid-replay must NOT drop the
    journal (task-retry contract of the reference committer)."""
    import pytest as _pt

    from mongo_hadoop_spark.store import DocumentStore

    store = DocumentStore(str(tmp_path / "db5"))
    _journal_updates(spark, store, "upsert",
                     [(i, f"n{i}") for i in range(1200)],
                     "device_id long, name string", ["device_id"])
    fake = FakeCollection("devices")
    fake.fail_on_call = 2
    with _pt.raises(FakeBulkWriteError):
        commit_updates_live(store.path, "devices", fake)
    assert store.collection("devices.updates").count() == 1200  # intact
    # retry against a healthy server succeeds and then drops the journal
    fake2 = FakeCollection("devices")
    stats = commit_updates_live(store.path, "devices", fake2)
    assert stats["upserted"] == 1200
    assert store.collection("devices.updates").count() == 0


def test_live_multi_update_builds_updatemany(spark, target):
    """multi=True journals must replay as UpdateMany (regression: the
    no-pymongo UpdateMany fallback once regenerated __init__ via @dataclass
    and rejected the upsert= keyword)."""
    from mongo_hadoop_spark.sinks.live import UpdateMany, mutation_to_op

    op = mutation_to_op({"q": {"name": "other"}, "u": {"$set": {"flag": 1}},
                         "upsert": True, "multi": True, "replace": False})
    assert isinstance(op, UpdateMany)

    fake = FakeCollection("devices")
    fake.docs = [{"device_id": 1, "name": "other"},
                 {"device_id": 2, "name": "other"},
                 {"device_id": 3, "name": "third"}]
    result = fake.bulk_write([op], ordered=True)
    assert result.matched_count == 2 and result.modified_count == 2
    assert all(d.get("flag") == 1 for d in fake.find()
               if d["name"] == "other")
    assert "flag" not in {d["device_id"]: d for d in fake.find()}[3]


def test_live_replace_rejects_dollar_operators(spark, target):
    from mongo_hadoop_spark.sinks.live import mutation_to_op

    with pytest.raises(ValueError, match=r"\$-operators"):
        mutation_to_op({"q": {"device_id": 1}, "u": {"$set": {"a": 1}},
                        "upsert": False, "multi": False, "replace": True})


def test_target_from_uri_resolves_namespace(spark, tmp_path):
    """URI → live collection resolution + commit through the fake server."""
    from mongo_hadoop_spark.sinks.live import target_from_uri
    from mongo_hadoop_spark.sources.uri import InvalidMongoURI
    from mongo_hadoop_spark.store import DocumentStore

    server = {"outdb": {"outcoll": FakeCollection("outcoll")}}

    class FakeClient(dict):
        def __init__(self, uri):
            super().__init__(server)
            self.uri = uri

    coll = target_from_uri(
        "mongodb://u:p@h1:27017/outdb.outcoll?replicaSet=rs0",
        client_factory=FakeClient)
    assert coll is server["outdb"]["outcoll"]

    store = DocumentStore(str(tmp_path / "db6"))
    df = spark.createDataFrame([(i,) for i in range(10)], "k long")
    write_documents(df, store.path, "staged", mode="insert")
    commit_inserts_live(store.path, "staged", coll)
    assert coll.count_documents() == 10

    with pytest.raises(InvalidMongoURI, match="namespace"):
        target_from_uri("mongodb://h1:27017/outdb", client_factory=FakeClient)


_SINK: dict = {}


def _arrow_batches(rows, schema, rows_per_batch=2):
    """``rows`` as the Arrow batches a Spark write hands a DataSource
    writer (pyspark's own local-data conversion)."""
    from pyspark.sql.conversion import LocalDataToArrowConversion

    table = LocalDataToArrowConversion.convert(rows, schema, False)
    return table.to_batches(max_chunksize=rows_per_batch)


def _sink_client(uri):
    """client_factory for the live mongodoc writer: one fake collection."""
    return {"outdb": {"c": _SINK["coll"]}}


def test_mongodoc_writers_build_documents_with_row_to_doc(tmp_path):
    """Both mongodoc DataSource writers turn each row into the document
    ``writers.row_to_doc`` builds: nested rows, arrays of rows, maps and
    dates."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql.types import StructType

    from mongo_hadoop_spark import bsonio
    from mongo_hadoop_spark.sinks.writers import row_to_doc
    from mongo_hadoop_spark.sources.mongo_datasource import (
        DocumentWriter, LiveDocumentWriter,
    )

    utc = dt.timezone.utc
    rows = [Row(_id=i, day=dt.date(2024, 1, i + 1),
                cust=Row(name=f"c{i}", tags=["a", "b"]),
                lines=[Row(sku="s", qty=j) for j in range(i)], attrs={"k": i})
            for i in range(3)]
    want = [{"_id": i, "day": dt.datetime(2024, 1, i + 1, tzinfo=utc),
             "cust": {"name": f"c{i}", "tags": ["a", "b"]},
             "lines": [{"sku": "s", "qty": j} for j in range(i)],
             "attrs": {"k": i}}
            for i in range(3)]
    assert [row_to_doc(r) for r in rows] == want

    schema = StructType.fromDDL(
        "_id long, day date, cust struct<name string, tags array<string>>, "
        "lines array<struct<sku string, qty long>>, attrs map<string, long>")
    batches = _arrow_batches(rows, schema)
    writer = DocumentWriter({"path": str(tmp_path), "collection": "c"},
                            schema, overwrite=False)
    msg = writer.write(iter(batches))
    writer.commit([msg])
    with open(msg.segments[0].final_path, "rb") as f:
        assert list(bsonio.decode_file_iter(f)) == want

    _SINK["coll"] = FakeCollection("c")
    live = LiveDocumentWriter({"uri": "mongodb://localhost/outdb.c",
                               "client_factory": "test_writers:_sink_client",
                               "batch_size": "2"}, schema)
    assert live.write(iter(batches)).batches == 2
    assert _SINK["coll"].docs == want
