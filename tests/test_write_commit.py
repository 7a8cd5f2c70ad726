"""The file-store write path: one commit protocol for every segment
(stage → publish → retire), one job commit for every Spark write, and one
Arrow-batch → document converter at the Spark boundary."""

from __future__ import annotations

import datetime as dt
import os
import subprocess
import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.conversion import (ArrowTableToRowsConversion,
                                    LocalDataToArrowConversion)
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, ByteType, DateType, DoubleType,
    FloatType, IntegerType, LongType, MapType, ShortType, StringType,
    StructField, StructType, TimestampNTZType,
)

from mongo_hadoop_spark import bsonio, store as store_mod
from mongo_hadoop_spark.sinks.writers import compile_docs, row_to_doc
from mongo_hadoop_spark.sources.mongo_datasource import DocumentWriter
from mongo_hadoop_spark.store import DocumentStore

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
UTC = dt.timezone.utc


def _files(coll_dir):
    return sorted(os.listdir(coll_dir)) if os.path.isdir(coll_dir) else []


def _batches(rows, schema):
    table = LocalDataToArrowConversion.convert(rows, schema, False)
    return table.to_batches(max_chunksize=2)


# ---------------------------------------------------------------------------
# Spark writes: overwrite, sidecars, one job commit
# ---------------------------------------------------------------------------

def test_overwrite_retires_sidecars_so_drop_and_out_work(spark, tmp_path):
    from mongo_hadoop_spark.plans.aggpipe import aggregate
    from mongo_hadoop_spark.sinks.writers import write_documents
    from mongo_hadoop_spark.sources import register

    register(spark)
    root = str(tmp_path / "db")
    write_documents(spark.range(1000).withColumnRenamed("id", "_id"),
                    root, "c", mode="insert")
    (spark.range(10).withColumnRenamed("id", "_id").write.format("mongodoc")
     .option("path", root).option("collection", "c")
     .mode("overwrite").save())
    coll = DocumentStore(root).collection("c")
    assert sorted(d["_id"] for d in coll.find()) == list(range(10))
    for f in _files(coll.path):  # nothing of the old segments is left
        seg = f[:-len(store_mod.META_SUFFIX)] if f.endswith(
            store_mod.META_SUFFIX) else f
        assert os.path.join(coll.path, seg) in coll.segments(), f

    aggregate(spark.range(3).withColumnRenamed("id", "_id"), [{"$out": "c"}],
              store_path=root)
    assert sorted(d["_id"] for d in coll.find()) == [0, 1, 2]
    DocumentStore(root).drop("c")
    assert not os.path.exists(coll.path)


def test_spark_written_segments_answer_count_and_prune_from_meta(
        spark, tmp_path, monkeypatch):
    from mongo_hadoop_spark.sources import register

    register(spark)
    root = str(tmp_path / "db")
    # two partitions of contiguous k: 0..49 and 50..99
    (spark.createDataFrame([(i, f"k{i}") for i in range(100)],
                           "k long, s string")
     .repartitionByRange(2, "k").sortWithinPartitions("k")
     .write.format("mongodoc").option("path", root).option("collection", "c")
     .mode("append").save())
    coll = DocumentStore(root).collection("c")
    segs = coll.segments()
    assert len(segs) == 2
    assert all(os.path.exists(s + store_mod.META_SUFFIX) for s in segs)

    opened = []
    real_open = bsonio.open_bson

    def tracking_open(path, *a, **kw):
        opened.append(path)
        return real_open(path, *a, **kw)

    def no_decode(*a, **kw):
        raise AssertionError("count() decoded a segment")

    monkeypatch.setattr(bsonio, "decode_file_iter", no_decode)
    assert coll.count() == 100
    assert coll.stats()["count"] == 100
    monkeypatch.undo()

    monkeypatch.setattr(bsonio, "open_bson", tracking_open)
    assert sorted(d["k"] for d in coll.find({"k": {"$gte": 90}})) == list(
        range(90, 100))
    assert len(opened) == 1  # the other segment's bounds prove no match


def test_failed_job_leaves_nothing_in_the_collection(spark, tmp_path):
    import pyspark.sql.functions as F

    from mongo_hadoop_spark.sinks.writers import write_documents

    @F.udf("long")
    def boom(i):
        if i == 150:
            import time

            time.sleep(1)  # let the other task stage its segment first
            raise RuntimeError("task failed")
        return i

    root = str(tmp_path / "db")
    df = spark.range(0, 200, numPartitions=2).select(boom("id").alias("x"))
    with pytest.raises(Exception, match="task failed"):
        write_documents(df, root, "c", mode="insert")
    assert _files(os.path.join(root, "c")) == []


def test_retried_task_attempt_publishes_nothing(tmp_path):
    """Two attempts of one partition's task stage two segments; the job
    commit publishes only the message Spark accepted."""
    schema = StructType.fromDDL("_id long, s string")
    rows = [(i, f"s{i}") for i in range(5)]
    writer = DocumentWriter({"path": str(tmp_path), "collection": "c"},
                            schema, overwrite=False)
    writer.write(iter(_batches(rows, schema)))  # first attempt, lost
    accepted = writer.write(iter(_batches(rows, schema)))
    writer.commit([accepted])
    coll = DocumentStore(str(tmp_path)).collection("c")
    assert sorted(d["_id"] for d in coll.find()) == list(range(5))
    assert not [f for f in _files(coll.path) if f.startswith("_tmp_")]


# ---------------------------------------------------------------------------
# The store's segment protocol
# ---------------------------------------------------------------------------

def test_drop_removes_a_late_attempts_temp_files_and_orphaned_sidecars(
        tmp_path):
    """A task attempt that stages after the job was aborted, and a
    ``.meta.json`` whose segment is gone (left by an earlier overwrite),
    do not stop ``drop``."""
    schema = StructType.fromDDL("_id long")
    writer = DocumentWriter({"path": str(tmp_path), "collection": "c"},
                            schema, overwrite=False)
    writer.abort([writer.write(iter(_batches([(1,), (2,)], schema)))])
    writer.write(iter(_batches([(3,)], schema)))  # late attempt
    coll = DocumentStore(str(tmp_path)).collection("c")
    (tmp_path / "c" / ("gone.bson" + store_mod.META_SUFFIX)).write_text("{}")
    assert coll.find() == [] and _files(coll.path)
    DocumentStore(str(tmp_path)).drop("c")
    assert not os.path.exists(coll.path)


def test_rewrite_publishes_before_it_retires(tmp_path, monkeypatch):
    coll = DocumentStore(str(tmp_path)).collection("c")
    coll.insert_many({"_id": i, "v": "old"} for i in range(3))
    coll.insert_many({"_id": i, "v": "old"} for i in range(3, 6))
    real_remove = store_mod._remove_segment

    def crash_after_first(seg):
        real_remove(seg)
        raise OSError("crash while retiring old segments")

    monkeypatch.setattr(store_mod, "_remove_segment", crash_after_first)
    with pytest.raises(OSError, match="crash"):
        coll.rewrite({"_id": i, "v": "new"} for i in range(6))
    new = [d["_id"] for d in coll.find({"v": "new"})]
    assert sorted(new) == list(range(6))


# ---------------------------------------------------------------------------
# TimestampType keeps its instant whatever the worker's local time zone
# ---------------------------------------------------------------------------

_TZ_JOB = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from mongo_hadoop_spark.sinks.writers import write_documents
from mongo_hadoop_spark.sources import register
from mongo_hadoop_spark.streaming.sink import BucketedDocumentSink

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
register(spark)
df = spark.sql("select 1L as _id, timestamp'2024-01-01 00:00:00Z' as t, "
               "timestamp_ntz'2024-01-01 00:00:00' as n, "
               "array(named_struct('t', timestamp'2024-01-01 00:00:00Z')) as a")
root = {root!r}
(df.write.format("mongodoc").option("path", root).option("collection", "ds")
 .mode("append").save())
write_documents(df, root, "wd", mode="insert")
BucketedDocumentSink(root, "sink")(df, 0)
(df.write.format("mongodoc").option("backend", "live")
 .option("uri", "mongodb://localhost/outdb.live")
 .option("client_factory", "tz_live_client:client").mode("append").save())
spark.stop()
"""

_TZ_CLIENT = """
from mongo_hadoop_spark.store import DocumentStore


class _Coll:
    def insert_many(self, docs, ordered=True):
        DocumentStore({root!r}).collection("live").insert_many(docs)


def client(uri):
    return {{"outdb": {{"live": _Coll()}}}}
"""


def test_timestamp_keeps_its_instant_under_new_york_time(tmp_path):
    root = str(tmp_path / "db")
    (tmp_path / "tz_live_client.py").write_text(_TZ_CLIENT.format(root=root))
    env = dict(os.environ, TZ="America/New_York",
               PYTHONPATH=os.pathsep.join([str(tmp_path), REPO,
                                           os.environ.get("PYTHONPATH", "")]))
    res = subprocess.run([sys.executable, "-c",
                          _TZ_JOB.format(repo=REPO, root=root)],
                         env=env, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    want = dt.datetime(2024, 1, 1, tzinfo=UTC)
    for name in ("ds", "wd", "live", "sink"):
        (doc,) = DocumentStore(root).collection(name).find()
        assert (doc["t"], doc["n"], doc["a"]) == (want, want, [{"t": want}]), \
            name


# ---------------------------------------------------------------------------
# Property: the converter builds row_to_doc's documents, byte for byte
# ---------------------------------------------------------------------------

_LEAVES = {
    StringType(): st.text(max_size=4),
    LongType(): st.integers(-(2**63), 2**63 - 1),
    IntegerType(): st.integers(-(2**31), 2**31 - 1),
    ShortType(): st.integers(-(2**15), 2**15 - 1),
    ByteType(): st.integers(-128, 127),
    DoubleType(): st.floats(width=64),
    FloatType(): st.floats(width=32),
    BooleanType(): st.booleans(),
    BinaryType(): st.binary(max_size=4),
    DateType(): st.dates(dt.date(1, 1, 1), dt.date(9999, 12, 31)),
    TimestampNTZType(): st.datetimes(dt.datetime(1900, 1, 1),
                                     dt.datetime(2200, 1, 1)),
}
_NAMES = ["a", "b", "c"]

_types = st.recursive(
    st.sampled_from(list(_LEAVES)),
    lambda children: st.one_of(
        st.builds(ArrayType, children),
        st.builds(MapType, st.just(StringType()), children),
        st.lists(st.tuples(st.sampled_from(_NAMES), children), min_size=1,
                 max_size=3, unique_by=lambda f: f[0]).map(
            lambda fs: StructType([StructField(n, t) for n, t in fs])),
    ),
    max_leaves=5,
)
_schemas = st.lists(st.tuples(st.sampled_from(_NAMES), _types), min_size=1,
                    max_size=3, unique_by=lambda f: f[0]).map(
    lambda fs: StructType([StructField(n, t) for n, t in fs]))


def _values(t):
    if isinstance(t, ArrayType):
        v = st.lists(_values(t.elementType), max_size=3)
    elif isinstance(t, MapType):
        # a BSON key is a C string: a NUL in it cannot be encoded by either
        # path, so keys are drawn without one
        keys = st.text(max_size=2).filter(lambda k: "\x00" not in k)
        v = st.dictionaries(keys, _values(t.valueType), max_size=3)
    elif isinstance(t, StructType):
        v = st.tuples(*[_values(f.dataType) for f in t.fields])
    else:
        v = _LEAVES[t]
    return st.none() | v


@given(data=st.data())
@settings(max_examples=150, deadline=None)
def test_converter_documents_equal_row_to_doc(data):
    """``compile_docs`` over Arrow batches builds the documents
    ``row_to_doc`` builds over pyspark's own Row conversion of the same
    batches (the Row writer path), down to the encoded bytes."""
    schema = data.draw(_schemas)
    row = st.tuples(*[_values(f.dataType) for f in schema.fields])
    rows = data.draw(st.lists(row, min_size=1, max_size=4))
    table = LocalDataToArrowConversion.convert(rows, schema, False)
    got = [d for b in table.to_batches(max_chunksize=2)
           for d in compile_docs(schema)(b)]
    want = [row_to_doc(r) for r in
            ArrowTableToRowsConversion.convert(table, schema)]
    assert [bsonio.encode(d) for d in got] == [bsonio.encode(d) for d in want]


# ---------------------------------------------------------------------------
# One replace-document check, before anything is journaled
# ---------------------------------------------------------------------------

def test_bad_replacement_is_refused_before_journaling(spark, tmp_path):
    from mongo_hadoop_spark.sinks.writers import UpdateSpec, write_documents

    root = str(tmp_path / "db")
    df = spark.createDataFrame([(1, 2)], "_id long, x long")
    with pytest.raises(Exception, match="must not contain"):
        write_documents(df, root, "t", mode="upsert", update_builder=lambda d:
                        UpdateSpec({"_id": d["_id"]}, {"$set": {"x": 1}},
                                   upsert=True, replace=True))
    store = DocumentStore(root)
    assert store.collection("t").find() == []
    assert store.collection("t.updates").segments() == []


def test_live_replacement_pipeline_raises_value_error():
    from mongo_hadoop_spark.sinks.live import mutation_to_op

    with pytest.raises(ValueError, match="pipeline"):
        mutation_to_op({"q": {"_id": 1}, "u": [{"$set": {"a": 1}}],
                        "upsert": False, "multi": False, "replace": True})
