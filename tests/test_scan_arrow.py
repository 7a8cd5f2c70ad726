"""Arrow batches from the ``mongodoc`` readers.

The readers Spark gets yield ``pyarrow.RecordBatch``es, built column-wise
by a converter compiled once per schema.  The oracle is what Spark built
before: the per-value ladder (``schema_infer.convert_value``) makes one
tuple per row and pyspark's own ``records_to_arrow_batches`` converts the
tuples.  Every batch must equal that conversion, and where the oracle
raises (a None in a non-nullable field), the reader must raise too.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import tempfile
import time

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.errors import PySparkValueError
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DateType, DoubleType, IntegerType,
    LongType, MapType, StringType, StructField, StructType, TimestampType,
)
from pyspark.sql.worker.plan_data_source_read import records_to_arrow_batches

from mongo_hadoop_spark import bsonio
from mongo_hadoop_spark.bsonio import Binary, BsonTimestamp, ObjectId, Regex
from mongo_hadoop_spark.plans.paths import get_path
from mongo_hadoop_spark.sources import extjson
from mongo_hadoop_spark.sources import mongo_datasource as mds
from mongo_hadoop_spark.sources.schema_infer import convert_value, infer_schema

UTC = dt.timezone.utc
KEYS = ["a", "b", "c", "d"]


# ---------------------------------------------------------------------------
# Oracle: the ladder's row tuples through pyspark's own Arrow conversion
# ---------------------------------------------------------------------------

def _ladder_row(doc, schema, options):
    if str(options.get("schemaless", "false")).lower() == "true":
        return (extjson.dumps(doc),)
    mapping = json.loads(options.get("columns_mapping") or "{}")
    out = []
    for f in schema.fields:
        src = mapping.get(f.name, f.name)
        out.append(convert_value(
            get_path(doc, src) if "." in src else doc.get(src), f.dataType))
    return tuple(out)


def _oracle(docs, schema, options):
    rows = [_ladder_row(d, schema, options) for d in docs]
    # pyspark checks nullability below the top level only; a top-level
    # None in a non-nullable column reached the JVM and failed the task
    # with a NullPointerException there.  The batches raise for it instead.
    for row in rows:
        for v, f in zip(row, schema.fields):
            if v is None and not f.nullable:
                raise PySparkValueError(f"input for {f.dataType} must not be None")
    batches = records_to_arrow_batches(iter(rows), mds.BATCH_ROWS, schema,
                                       mds.DocumentDataSource)
    return pa.Table.from_batches(list(batches), schema=to_arrow_schema(schema))


def _batches(reader, parts):
    out = [b for p in parts for b in reader.read(p)]
    assert all(isinstance(b, pa.RecordBatch) for b in out)
    assert all(b.num_rows <= mds.BATCH_ROWS for b in out)
    return out


def _docs(reader, parts):
    return [d for p in parts for d in reader._docs(p)]


def _outcome(fn):
    """A table, or the exception type a conversion raised."""
    try:
        return fn()
    except Exception as e:  # noqa: BLE001 - compared, not swallowed
        return type(e)


def _assert_same(got, want):
    """Equal tables, or both raised.  With two faults in one batch the
    oracle (row by row) and the reader (column by column) can meet a
    different one first, so the exception types may differ."""
    if isinstance(want, pa.Table) and isinstance(got, pa.Table):
        assert got.schema == want.schema
        assert got.equals(want), (got.to_pylist(), want.to_pylist())
    else:
        assert isinstance(want, type) and isinstance(got, type), (got, want)


def _check_reader(reader, parts, options):
    """The reader's batches against the oracle over the same documents."""
    schema = reader.schema_
    want = _outcome(lambda: _oracle(_docs(reader, parts), schema, options))
    got = _outcome(lambda: pa.Table.from_batches(
        _batches(reader, parts), schema=to_arrow_schema(schema)))
    _assert_same(got, want)
    return got


def _write_store(root, docs, name="c", n_segments=2):
    coll = os.path.join(root, name)
    os.makedirs(coll)
    step = max(1, -(-len(docs) // n_segments))
    for i in range(0, len(docs), step):
        bsonio.write_bson_file(os.path.join(coll, f"seg{i:06d}.bson"),
                               docs[i:i + step])
    return root


# ---------------------------------------------------------------------------
# Strategies: documents with every decoded tag, schemas that mismatch them
# ---------------------------------------------------------------------------

scalars = st.one_of(
    st.booleans(),
    st.integers(min_value=-3, max_value=3),
    st.integers(min_value=-(2**62), max_value=2**62),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.sampled_from(["x", "y", ""]),
    st.text(max_size=8),
    st.binary(max_size=6),
    st.builds(Binary, st.binary(max_size=6), st.integers(1, 255)),
    st.none(),
    st.datetimes(min_value=dt.datetime(1960, 1, 1),
                 max_value=dt.datetime(2100, 1, 1)).map(
        lambda d: d.replace(microsecond=(d.microsecond // 1000) * 1000,
                            tzinfo=UTC)),
    st.binary(min_size=12, max_size=12).map(ObjectId),
    st.builds(Regex, st.sampled_from(["^x", "a+b"]), st.sampled_from(["", "i"])),
    st.builds(BsonTimestamp, st.integers(0, 2**31), st.integers(0, 2**31)),
)
values = st.recursive(
    scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.sampled_from(KEYS), children, max_size=4),
    ),
    max_leaves=10,
)
documents = st.lists(st.dictionaries(st.sampled_from(KEYS), values, max_size=4),
                     min_size=1, max_size=10)

# non-nullable fields are rare, or nearly every example would raise
nullable = st.sampled_from([True] * 5 + [False])
# the bridged types, then three a user schema may name that take pyspark's
# own converter
leaf_types = st.sampled_from([StringType(), LongType(), DoubleType(),
                              BooleanType(), BinaryType(), TimestampType(),
                              IntegerType(), DateType(),
                              MapType(StringType(), LongType())])


def _struct(fields):
    return StructType([StructField(n, t, nb) for n, t, nb in fields])


types = st.recursive(
    leaf_types,
    lambda children: st.one_of(
        st.builds(ArrayType, children, nullable),
        st.lists(st.tuples(st.sampled_from(KEYS), children, nullable),
                 max_size=3, unique_by=lambda f: f[0]).map(_struct),
    ),
    max_leaves=6,
)
random_schemas = st.lists(st.tuples(st.sampled_from(KEYS), types, nullable),
                          min_size=1, max_size=4,
                          unique_by=lambda f: f[0]).map(_struct)


@given(docs=documents, data=st.data())
@settings(max_examples=150, deadline=None)
def test_batches_equal_pyspark_conversion_of_ladder_rows(docs, data):
    schema = data.draw(st.one_of(st.just(infer_schema(docs)), random_schemas))
    options = {}
    if schema.fields and data.draw(st.booleans()):
        sources = st.one_of(st.sampled_from(KEYS),
                            st.tuples(st.sampled_from(KEYS),
                                      st.sampled_from(KEYS + ["0"])).map(".".join))
        options["columns_mapping"] = json.dumps(data.draw(st.dictionaries(
            st.sampled_from(schema.fieldNames()), sources, max_size=3)))
    with tempfile.TemporaryDirectory() as root:
        options.update(path=_write_store(root, docs), collection="c")
        reader = mds.DocumentReader(options, schema, arrow=True)
        _check_reader(reader, reader.partitions(), options)


# ---------------------------------------------------------------------------
# Examples: mapping, schemaless, empty partitions, batch size, row path
# ---------------------------------------------------------------------------

ORDERS = [
    {"_id": i, "status": "AB"[i % 2], "total": i * 1.5,
     "when": dt.datetime(2024, 1, 1, tzinfo=UTC) + dt.timedelta(hours=i),
     "cust": {"name": f"c{i % 3}", "geo": {"city": f"x{i % 4}"}},
     "lines": [{"sku": f"s{j}", "qty": j} for j in range(i % 3)]}
    for i in range(50)
]
ORDERS_SCHEMA = infer_schema(ORDERS)


@pytest.fixture()
def orders(tmp_path):
    return _write_store(str(tmp_path), ORDERS, name="orders")


def test_columns_mapping_with_dotted_paths(orders):
    options = {"path": orders, "collection": "orders",
               "columns_mapping": json.dumps({"city": "cust.geo.city",
                                              "first_sku": "lines.0.sku",
                                              "who": "cust"})}
    schema = StructType([StructField("city", StringType()),
                         StructField("first_sku", StringType()),
                         StructField("who", StringType()),
                         StructField("total", DoubleType())])
    reader = mds.DocumentReader(options, schema, arrow=True)
    table = _check_reader(reader, reader.partitions(), options)
    assert table.column("city").to_pylist()[:2] == ["x0", "x1"]


def test_schemaless_whole_document_as_extended_json(orders):
    options = {"path": orders, "collection": "orders", "schemaless": "true"}
    schema = mds.DocumentDataSource(options).schema()
    reader = mds.DocumentDataSource(options).reader(schema)
    table = _check_reader(reader, reader.partitions(), options)
    assert table.num_rows == len(ORDERS)


def test_empty_partitions_yield_no_batch(orders):
    reader = mds.DocumentReader(
        {"path": orders, "collection": "orders", "query": '{"_id": -1}'},
        ORDERS_SCHEMA, arrow=True)
    assert list(reader.read(None)) == []
    assert [b for p in reader.partitions() for b in reader.read(p)] == []


def test_more_than_batch_rows_split_into_batches(tmp_path):
    n = 2 * mds.BATCH_ROWS + 123
    docs = [{"_id": i, "k": f"k{i % 7}"} for i in range(n)]
    root = _write_store(str(tmp_path), docs, n_segments=1)
    options = {"path": root, "collection": "c"}
    reader = mds.DocumentReader(options, infer_schema(docs[:10]), arrow=True)
    parts = reader.partitions()
    assert [b.num_rows for b in _batches(reader, parts)] == [
        mds.BATCH_ROWS, mds.BATCH_ROWS, 123]
    _check_reader(reader, parts, options)


def test_direct_read_yields_one_tuple_per_row(orders):
    reader = mds.DocumentReader({"path": orders, "collection": "orders"},
                                ORDERS_SCHEMA)
    rows = [r for p in reader.partitions() for r in reader.read(p)]
    assert len(rows) == len(ORDERS)
    assert all(type(r) is tuple and len(r) == len(ORDERS_SCHEMA.fields)
               for r in rows)
    by_name = dict(zip(ORDERS_SCHEMA.fieldNames(), rows[4]))
    assert by_name["_id"] == 4 and by_name["status"] == "A"
    assert by_name["cust"] == {"name": "c1", "geo": {"city": "x0"}}
    assert by_name["lines"] == [{"sku": "s0", "qty": 0}]
    # a zero-column schema still yields one (empty) tuple per document
    empty = mds.DocumentReader({"path": orders, "collection": "orders"},
                               StructType([]))
    assert [r for p in empty.partitions() for r in empty.read(p)] == [()] * 50


# ---------------------------------------------------------------------------
# Every reader type Spark gets: file, pushdown, stream, live
# ---------------------------------------------------------------------------

def test_file_and_pushdown_readers_hand_spark_batches(orders):
    from pyspark.sql.datasource import EqualTo

    options = {"path": orders, "collection": "orders"}
    reader = mds.DocumentDataSource(dict(options)).reader(ORDERS_SCHEMA)
    assert type(reader) is mds.DocumentReader
    _check_reader(reader, reader.partitions(), options)

    pushed = dict(options, pushdown="true")
    reader = mds.DocumentDataSource(pushed).reader(ORDERS_SCHEMA)
    assert isinstance(reader, mds.PushdownDocumentReader)
    assert list(reader.pushFilters([EqualTo(("status",), "A")])) == []
    table = _check_reader(reader, reader.partitions(), pushed)
    assert set(table.column("status").to_pylist()) == {"A"}


def test_stream_reader_hands_spark_batches(orders):
    options = {"path": orders, "collection": "orders"}
    stream = mds.DocumentDataSource(dict(options)).streamReader(ORDERS_SCHEMA)
    parts = stream.partitions(stream.initialOffset(), stream.latestOffset())
    assert len(parts) == 2
    want = _oracle(_docs(stream._delegate, parts), ORDERS_SCHEMA, options)
    got = pa.Table.from_batches(
        [b for p in parts for b in stream.read(p)],
        schema=to_arrow_schema(ORDERS_SCHEMA))
    assert got.equals(want)


_FAKE: dict = {}


def fake_client(uri):
    """client_factory: a pymongo-protocol client over ``_FAKE``'s docs."""
    from fake_mongo import FakeCollection

    coll = FakeCollection("orders")
    coll.docs = list(_FAKE["docs"])
    return {"testdb": {"orders": coll}}


def _live(docs, schema, **extra):
    _FAKE["docs"] = docs
    options = {"backend": "live", "uri": "mongodb://localhost/testdb.orders",
               "client_factory": "test_scan_arrow:fake_client", **extra}
    reader = mds.DocumentDataSource(dict(options)).reader(schema)
    return reader, options


def test_live_readers_hand_spark_batches():
    reader, options = _live(ORDERS, ORDERS_SCHEMA)
    assert type(reader) is mds.LiveDocumentReader
    _check_reader(reader, reader.partitions(), options)
    reader, options = _live(ORDERS, ORDERS_SCHEMA, pushdown="true")
    assert isinstance(reader, mds.LivePushdownDocumentReader)
    _check_reader(reader, reader.partitions(), options)


def test_naive_datetime_reads_as_local_time(monkeypatch):
    """pymongo hands back naive datetimes; Spark reads a naive datetime as
    local time, and so must the batches."""
    naive = dt.datetime(2024, 7, 1, 12, 30, 15, 250000)
    docs = [{"_id": 1, "t": naive, "n": {"t": naive}, "ts": [naive, None]}]
    schema = StructType([
        StructField("_id", LongType()), StructField("t", TimestampType()),
        StructField("n", StructType([StructField("t", TimestampType())])),
        StructField("ts", ArrayType(TimestampType()))])
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        reader, options = _live(docs, schema)
        table = _check_reader(reader, reader.partitions(), options)
    finally:
        monkeypatch.undo()
        time.tzset()
    instant = dt.datetime(2024, 7, 1, 16, 30, 15, 250000, tzinfo=UTC)
    (row,) = table.to_pylist()
    assert row["t"] == row["n"]["t"] == row["ts"][0] == instant


# ---------------------------------------------------------------------------
# Non-nullable fields: a None raises, at any depth
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("field", [
    StructField("k", LongType(), False),
    StructField("k", StructType([StructField("x", StringType(), False)])),
    StructField("k", ArrayType(DoubleType(), containsNull=False)),
    StructField("k", ArrayType(StructType([StructField("x", LongType(), False)]))),
])
@pytest.mark.parametrize("value", [None, "mismatch", {"y": 1}, [None], [{"y": 1}]])
def test_none_in_non_nullable_field_raises(field, value):
    docs = [{"_id": 1, "k": value}]
    schema = StructType([StructField("_id", LongType()), field])
    reader, options = _live(docs, schema)
    parts = reader.partitions()
    want = _outcome(lambda: _oracle(_docs(reader, parts), schema, options))
    got = _outcome(lambda: _batches(reader, parts))
    if want is PySparkValueError:
        assert got is PySparkValueError
    else:  # this value fills the field: both convert it
        _check_reader(reader, parts, options)


def test_non_nullable_top_level_none_raises():
    schema = StructType([StructField("_id", LongType(), False)])
    reader, _ = _live([{"_id": 1}, {"other": 2}], schema)
    with pytest.raises(PySparkValueError, match="must not be None"):
        _batches(reader, reader.partitions())


# ---------------------------------------------------------------------------
# Partition planning: one parser for the collection list
# ---------------------------------------------------------------------------

def test_trailing_comma_plans_no_phantom_collection(orders):
    # a segment directly under the store root must not be read as the
    # collection "" that an empty name would resolve to
    bsonio.write_bson_file(os.path.join(orders, "stray.bson"), [{"_id": -1}])
    plain = mds.DocumentReader({"path": orders, "collection": "orders"},
                               ORDERS_SCHEMA)
    trailing = mds.DocumentReader(
        {"path": orders, "collection": " orders, ,"}, ORDERS_SCHEMA)
    assert trailing.partitions() == plain.partitions()
    ids = [r[0] for p in trailing.partitions() for r in trailing.read(p)]
    assert sorted(ids) == list(range(50))
