"""Narrowed ``mongodoc`` scans: field-skipping BSON decode and packing of
small byte-range splits into fewer partitions.

The reader decodes only the top-level fields its rows, query and sort
read; every row must equal what a full decode followed by match/project
gives.  Consecutive byte-range splits share a partition up to
``split_size`` bytes, without changing rows, their order, or per-split
cursor options.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import struct
import tempfile
from unittest import mock

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql.types import StructType

from mongo_hadoop_spark import bsonio
from mongo_hadoop_spark.bsonio import (
    Binary, BsonTimestamp, MaxKey, MinKey, ObjectId, Regex,
)
from mongo_hadoop_spark.plans.filters import query_roots
from mongo_hadoop_spark.sources import mongo_datasource as mds
from mongo_hadoop_spark.sources.schema_infer import infer_schema

UTC = dt.timezone.utc
KEYS = ["a", "b", "c", "d", "e", "f"]

# ---------------------------------------------------------------------------
# Document strategy: every tag the codec decodes
# ---------------------------------------------------------------------------

scalars = st.one_of(
    st.booleans(),
    st.integers(min_value=-3, max_value=3),
    st.integers(min_value=-(2**62), max_value=2**62),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.sampled_from(["x", "y", "zz", ""]),
    st.text(max_size=12),
    st.binary(max_size=8),
    st.builds(Binary, st.binary(max_size=8), st.integers(1, 255)),
    st.none(),
    st.datetimes(min_value=dt.datetime(1960, 1, 1),
                 max_value=dt.datetime(2100, 1, 1)).map(
        lambda d: d.replace(microsecond=(d.microsecond // 1000) * 1000,
                            tzinfo=UTC)),
    st.binary(min_size=12, max_size=12).map(ObjectId),
    st.builds(Regex, st.sampled_from(["^x", "a+b", ""]),
              st.sampled_from(["", "i", "ms"])),
    st.builds(BsonTimestamp, st.integers(0, 2**31), st.integers(0, 2**31)),
    st.builds(MinKey),
    st.builds(MaxKey),
)

values = st.recursive(
    scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.sampled_from(KEYS), children, max_size=4),
    ),
    max_leaves=12,
)

documents = st.lists(st.dictionaries(st.sampled_from(KEYS), values, max_size=6),
                     min_size=1, max_size=12)

# ---------------------------------------------------------------------------
# Query strategy: field conditions, dotted paths, $exists, $and/$or/$nor
# ---------------------------------------------------------------------------

paths = st.one_of(st.sampled_from(KEYS),
                  st.tuples(st.sampled_from(KEYS), st.sampled_from(KEYS + ["0", "1"]))
                  .map(".".join))
operands = st.one_of(st.integers(-3, 3), st.sampled_from(["x", "y", "zz"]), st.none())
conditions = st.one_of(
    operands,
    st.builds(lambda op, v: {op: v},
              st.sampled_from(["$eq", "$ne", "$gt", "$gte", "$lt", "$lte"]), operands),
    st.builds(lambda v: {"$in": v}, st.lists(operands, max_size=3)),
    st.builds(lambda v: {"$exists": v}, st.booleans()),
)
field_queries = st.dictionaries(paths, conditions, max_size=2)
queries = st.recursive(
    field_queries,
    lambda q: st.one_of(
        st.builds(lambda op, qs: {op: qs},
                  st.sampled_from(["$and", "$or", "$nor"]),
                  st.lists(q, min_size=1, max_size=3)),
        st.builds(lambda f, qs: {**f, "$and": qs}, field_queries,
                  st.lists(q, min_size=1, max_size=2)),
    ),
    max_leaves=6,
)
projections = st.one_of(
    st.none(),
    st.dictionaries(st.sampled_from(KEYS + ["_id"]), st.just(1), min_size=1, max_size=3),
    st.dictionaries(st.sampled_from(KEYS), st.just(0), min_size=1, max_size=2),
)
cursor_options = st.one_of(
    st.just({}),
    st.fixed_dictionaries({"limit": st.integers(0, 5).map(str)}),
    st.fixed_dictionaries({"skip": st.integers(0, 3).map(str),
                           "sort": st.sampled_from(KEYS).map(
                               lambda k: json.dumps({k: -1}))}),
)


def _outcome(fn):
    """Rows, or the exception type a read raised (both paths must agree)."""
    try:
        return fn()
    except Exception as e:  # noqa: BLE001 - compared, not swallowed
        return type(e)


def _rows(reader):
    return [row for part in reader.partitions() for row in reader.read(part)]


def _write_store(root, docs, n_segments=2, name="c"):
    coll = os.path.join(root, name)
    os.makedirs(coll)
    step = max(1, -(-len(docs) // n_segments))
    for i in range(0, len(docs), step):
        bsonio.write_bson_file(os.path.join(coll, f"seg{i:04d}.bson"),
                               docs[i:i + step])
    return root


@given(docs=documents, data=st.data())
@settings(max_examples=150, deadline=None)
def test_narrowed_reader_rows_equal_full_decode(docs, data):
    schema = infer_schema(docs)
    names = data.draw(st.lists(st.sampled_from([f.name for f in schema.fields]),
                               unique=True) if schema.fields else st.just([]))
    schema = StructType([f for f in schema.fields if f.name in names])
    query = data.draw(queries)
    options = {"query": json.dumps(query),
               "split_size": data.draw(st.sampled_from(["64", "100000"])),
               **data.draw(cursor_options)}
    fields = data.draw(projections)
    if fields is not None:
        options["fields"] = json.dumps(fields)
    with tempfile.TemporaryDirectory() as root:
        options.update(path=_write_store(root, docs), collection="c")
        reader = mds.DocumentReader(options, schema)
        narrowed = _outcome(lambda: _rows(reader))
        with mock.patch.object(mds, "_decode_fields", lambda spec, row: None):
            full = _outcome(lambda: _rows(reader))
    assert narrowed == full


def test_decode_set_covers_rows_query_and_sort():
    spec = mds.SplitSpec(
        collection="c",
        query={"a.b": 1, "$comment": "x",
               "$or": [{"c": {"$exists": True}}, {"$nor": [{"d.0": 2}]}]},
        sort=(("e.f", 1),))
    assert mds._decode_fields(spec, {"g"}) == {"a", "c", "d", "e", "g"}
    assert mds._decode_fields(spec, None) is None
    # operators match rejects keep the full decode, so match still raises
    assert query_roots({"$where": "this.a > 1"}) is None
    assert query_roots({"$and": [{"a": 1}, {"$expr": {}}]}) is None
    assert query_roots(None) == set()


def test_row_fields_modes():
    schema = StructType.fromJson({"type": "struct", "fields": [
        {"name": "city", "type": "string", "nullable": True, "metadata": {}},
        {"name": "a.b", "type": "string", "nullable": True, "metadata": {}}]})
    assert mds.DocumentReader({}, schema)._row_fields() == {"city", "a.b"}
    mapped = mds.DocumentReader(
        {"columns_mapping": '{"city": "addr.city"}'}, schema)
    assert mapped._row_fields() == {"addr", "a"}
    schemaless = mds.DocumentReader({"schemaless": "true"}, schema)
    assert schemaless._row_fields() is None


# ---------------------------------------------------------------------------
# Field-skipping decoder
# ---------------------------------------------------------------------------

def test_decode_fields_returns_only_wanted_keys():
    doc = {"a": 1, "s": "text", "n": {"x": [1, {"y": 2}]}, "r": Regex("p", "i"),
           "b": Binary(b"\x01", 4), "t": BsonTimestamp(5, 6), "lo": MinKey(),
           "o": ObjectId(b"\x01" * 12), "z": 2.5}
    data = bsonio.encode(doc)
    assert bsonio.decode(data, fields={"a", "z"}) == {"a": 1, "z": 2.5}
    assert bsonio.decode(data, fields={"n", "missing"}) == {"n": doc["n"]}
    assert bsonio.decode(data, fields=set()) == {}


def _element_bytes(doc: dict, key: str) -> tuple[bytes, int]:
    data = bsonio.encode(doc)
    return data, data.index(key.encode() + b"\x00") + len(key) + 1


@pytest.mark.parametrize("value", ["some text", {"k": "v"}, [1, 2, 3], b"bin"])
def test_skipped_length_past_document_raises(value):
    data, at = _element_bytes({"big": value, "a": 1}, "big")
    bad = data[:at] + struct.pack("<i", 1000) + data[at + 4:]
    with pytest.raises(ValueError):
        bsonio.decode(bad, fields={"a"})
    with pytest.raises(ValueError):
        bsonio.decode(bad)


def test_skipped_negative_length_raises():
    data, at = _element_bytes({"s": "abc", "a": 1}, "s")
    bad = data[:at] + struct.pack("<i", -7) + data[at + 4:]
    with pytest.raises(ValueError):
        bsonio.decode(bad, fields={"a"})


def test_unknown_tag_raises_whether_or_not_wanted():
    data, at = _element_bytes({"q": 1.5, "a": 1}, "q")
    tag_at = data.index(b"q\x00") - 1
    bad = data[:tag_at] + b"\x13" + data[tag_at + 1:]  # decimal128: unsupported
    for fields in ({"a"}, {"q"}, None):
        with pytest.raises(ValueError, match="unsupported BSON tag 0x13"):
            bsonio.decode(bad, fields=fields)


def test_truncated_split_raises_on_skip_path(tmp_path):
    p = str(tmp_path / "bad.bson")
    good = bsonio.encode({"a": 1, "pad": "x" * 20})
    with open(p, "wb") as f:
        f.write(good + good[: len(good) // 2])
    with open(p, "rb") as f:
        it = bsonio.decode_file_iter(f, fields={"a"})
        assert next(it) == {"a": 1}
        with pytest.raises(ValueError):
            next(it)


# ---------------------------------------------------------------------------
# Packing byte-range splits up to split_size
# ---------------------------------------------------------------------------

def _orders(n):
    return [{"_id": i, "k": i % 5, "pad": "p" * (i % 7)} for i in range(n)]


@pytest.fixture()
def small_segments(tmp_path):
    return _write_store(str(tmp_path), _orders(240), n_segments=12, name="o")


def _unpacked_rows(reader):
    """Each split read as its own partition: the pre-packing plan."""
    return [row for part in reader.partitions() for spec in part.specs
            for row in reader.read(mds._DocPartition((spec,)))]


def _schema(*names):
    return StructType.fromJson({"type": "struct", "fields": [
        {"name": n, "type": "long", "nullable": True, "metadata": {}}
        for n in names]})


def test_small_splits_pack_up_to_split_size(small_segments):
    split_size = 1500
    reader = mds.DocumentReader(
        {"path": small_segments, "collection": "o",
         "split_size": str(split_size)}, _schema("_id", "k"))
    parts = reader.partitions()
    n_splits = sum(len(p.specs) for p in parts)
    assert n_splits >= 12 and 1 < len(parts) < n_splits
    for p in parts:
        size = sum(s.byte_length for s in p.specs)
        assert len(p.specs) == 1 or size <= split_size
    rows = _rows(reader)
    assert rows == _unpacked_rows(reader)
    assert [r[0] for r in rows] == list(range(240))


def test_default_split_size_reads_small_collection_as_one_task(small_segments):
    reader = mds.DocumentReader({"path": small_segments, "collection": "o"},
                                _schema("_id"))
    (part,) = reader.partitions()
    assert len(part.specs) == 12


def test_per_split_cursor_options_unchanged_by_packing(small_segments):
    opts = {"path": small_segments, "collection": "o",
            "sort": '{"k": -1, "_id": 1}', "skip": "1", "limit": "5"}
    reader = mds.DocumentReader(opts, _schema("_id", "k"))
    (part,) = reader.partitions()
    rows = _rows(reader)
    assert len(rows) == 5 * len(part.specs) == 60
    assert rows == _unpacked_rows(reader)
    first = sorted(_orders(20), key=lambda d: (-d["k"], d["_id"]))[1:6]
    assert rows[:5] == [(d["_id"], d["k"]) for d in first]
    # the sort key is decoded even when no row column reads it
    by_k = mds.DocumentReader(opts, _schema("_id"))
    assert _rows(by_k) == [r[:1] for r in rows]


def test_compressed_segments_stay_one_per_partition(tmp_path):
    coll = tmp_path / "z"
    coll.mkdir()
    docs = _orders(30)
    for i in range(3):
        bsonio.write_bson_file(str(coll / f"g{i}.bson.gz"), docs[i * 5:i * 5 + 5])
    for i in range(3):
        bsonio.write_bson_file(str(coll / f"p{i}.bson"), docs[15 + i * 5:20 + i * 5])
    reader = mds.DocumentReader({"path": str(tmp_path), "collection": "z"},
                                _schema("_id"))
    parts = reader.partitions()
    assert [len(p.specs) for p in parts] == [1, 1, 1, 3]
    assert all(p.spec.byte_length is None for p in parts[:3])
    assert [r[0] for r in _rows(reader)] == list(range(30))


def test_packed_scan_through_spark(spark, small_segments):
    from mongo_hadoop_spark.sources import register

    register(spark)
    df = (spark.read.format("mongodoc").option("path", small_segments)
          .option("collection", "o").option("split_size", "1500")
          .option("fields", '{"_id": 1}').option("query", '{"k": {"$lt": 2}}')
          .schema("_id long, k long").load())
    assert 1 < df.rdd.getNumPartitions() < 12
    rows = df.collect()
    assert [r["_id"] for r in rows] == [i for i in range(240) if i % 5 < 2]
    assert all(r["k"] is None for r in rows)  # projected out, as before
