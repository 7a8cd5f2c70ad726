"""Sample-based schema inference + BSON→Spark row conversion (SURVEY §1.3
mode 3 and the §1.2 type-bridge table).

The reference always defers inference to the host engine (Hive DDL, Pig
schema strings, Java bean reflection); a Spark-native source must infer:
sample N documents, map BSON types to Spark SQL types, and *merge* across
documents (heterogeneous fields widen: int+float→double, anything+string→
string, struct⊕struct→field-union struct — the tolerance BSONSerDe's
numeric-cast tests encode, hive/.../BSONSerDeTest.java:85-335).

Bridging rules (SURVEY §1.2): ObjectId→StringType(24-hex),
datetime→TimestampType, Binary/bytes→BinaryType, BsonTimestamp→
TimestampType, Regex→StringType, embedded doc→StructType, array→ArrayType.
"""

from __future__ import annotations

import datetime as _dt
import functools

from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DataType, DoubleType, LongType,
    NullType, StringType, StructField, StructType, TimestampType,
)

from mongo_hadoop_spark.bsonio import Binary, BsonTimestamp, ObjectId, Regex

_UTC = _dt.timezone.utc


def infer_value_type(v) -> DataType:
    if v is None:
        return NullType()
    if isinstance(v, bool):
        return BooleanType()
    if isinstance(v, int):
        return LongType()
    if isinstance(v, float):
        return DoubleType()
    if isinstance(v, str):
        return StringType()
    if isinstance(v, (bytes, bytearray, Binary)):
        return BinaryType()
    if isinstance(v, ObjectId):
        return StringType()
    if isinstance(v, (_dt.datetime, BsonTimestamp)):
        return TimestampType()
    if isinstance(v, Regex):
        return StringType()
    if isinstance(v, dict):
        return StructType([
            StructField(k, infer_value_type(x), True) for k, x in v.items()
        ])
    if isinstance(v, (list, tuple)):
        elem: DataType = NullType()
        for x in v:
            elem = merge_types(elem, infer_value_type(x))
        return ArrayType(elem, True)
    return StringType()


def merge_types(a: DataType, b: DataType) -> DataType:
    if isinstance(a, NullType):
        return b
    if isinstance(b, NullType):
        return a
    if a == b:
        return a
    num = (LongType, DoubleType)
    if isinstance(a, num) and isinstance(b, num):
        return DoubleType()
    if isinstance(a, StructType) and isinstance(b, StructType):
        fields: dict[str, DataType] = {f.name: f.dataType for f in a.fields}
        order = [f.name for f in a.fields]
        for f in b.fields:
            if f.name in fields:
                fields[f.name] = merge_types(fields[f.name], f.dataType)
            else:
                fields[f.name] = f.dataType
                order.append(f.name)
        return StructType([StructField(n, fields[n], True) for n in order])
    if isinstance(a, ArrayType) and isinstance(b, ArrayType):
        return ArrayType(merge_types(a.elementType, b.elementType), True)
    # heterogeneous fallback: widen to string (JSON rendering for complex)
    return StringType()


def infer_schema(docs) -> StructType:
    merged: DataType = NullType()
    for doc in docs:
        merged = merge_types(merged, infer_value_type(doc))
    if isinstance(merged, NullType):
        return StructType([])
    if not isinstance(merged, StructType):
        raise ValueError("top-level BSON value is not a document")
    # untyped (all-null) fields fall back to string
    return StructType([
        StructField(
            f.name,
            StringType() if isinstance(f.dataType, NullType) else _denull(f.dataType),
            True,
        )
        for f in merged.fields
    ])


def _denull(t: DataType) -> DataType:
    if isinstance(t, ArrayType):
        return ArrayType(_denull(t.elementType) if not isinstance(t.elementType, NullType)
                         else StringType(), True)
    if isinstance(t, StructType):
        return StructType([
            StructField(f.name,
                        StringType() if isinstance(f.dataType, NullType) else _denull(f.dataType),
                        True)
            for f in t.fields
        ])
    return t


def convert_value(v, t: DataType):
    """BSON value → Spark external type per the target schema."""
    if v is None:
        return None
    if isinstance(t, StringType):
        if isinstance(v, ObjectId):
            return v.hex
        if isinstance(v, Regex):
            return f"/{v.pattern}/{v.flags}"
        if isinstance(v, (dict, list)):
            from mongo_hadoop_spark.sources import extjson
            return extjson.dumps(v)
        return str(v) if not isinstance(v, str) else v
    if isinstance(t, BooleanType):
        return bool(v) if isinstance(v, bool) else None
    if isinstance(t, LongType):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            return None
        return int(v)
    if isinstance(t, DoubleType):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            return None
        return float(v)
    if isinstance(t, BinaryType):
        if isinstance(v, Binary):
            return v.data
        return bytes(v) if isinstance(v, (bytes, bytearray)) else None
    if isinstance(t, TimestampType):
        if isinstance(v, BsonTimestamp):
            return _dt.datetime.fromtimestamp(v.time, tz=_UTC)
        return v if isinstance(v, _dt.datetime) else None
    if isinstance(t, StructType):
        if not isinstance(v, dict):
            return None
        return tuple(convert_value(v.get(f.name), f.dataType) for f in t.fields)
    if isinstance(t, ArrayType):
        if not isinstance(v, (list, tuple)):
            return None
        return [convert_value(x, t.elementType) for x in v]
    return v


def doc_to_row(doc: dict, schema: StructType) -> tuple:
    return tuple(convert_value(doc.get(f.name), f.dataType) for f in schema.fields)


# ---------------------------------------------------------------------------
# Schema-compiled converters (the scan's type bridge)
# ---------------------------------------------------------------------------
#
# ``convert_value`` dispatches on the target type for every value.  A scan
# converts millions of values against one schema, so the dispatch is done
# once: each DataType compiles into a closure, and a value of the exact
# type its column expects (the common case) passes an inline
# ``type(v) is T`` test with no call; anything else falls to
# ``convert_value``, so every leaf equals its result.  Two differences,
# both the shape Spark's own Python→Arrow conversion gives: struct values
# become dicts, and timestamps are UTC-aware (a naive datetime is read as
# local time, ``value.astimezone(utc)``, exactly as pyspark reads one).  A
# None in a non-nullable field, array element or nested field raises, as
# pyspark's converter does (Arrow itself accepts nulls there).

# the value type that needs no conversion, per bridged Spark type; other
# types map to None, which ``type(v)`` never is
_EXACT = {StringType: str, LongType: int, DoubleType: float,
          BooleanType: bool, BinaryType: bytes}


def _not_none(conv, t: DataType):
    from pyspark.errors import PySparkValueError

    def checked(v):
        out = conv(v)
        if out is None:
            raise PySparkValueError(f"input for {t} must not be None")
        return out

    return checked


def _timestamp(v):
    if type(v) is not _dt.datetime:
        v = convert_value(v, TimestampType())
        if v is None:
            return None
    return v if v.tzinfo is _UTC else v.astimezone(_UTC)


def compile_value(t: DataType, nullable: bool = True):
    """Compile ``t`` into ``conv(bson_value) -> value`` for one value.
    Types outside the BSON bridge (int, date, decimal, map, ...), which
    ``convert_value`` passes through, take pyspark's own converter, which
    shapes them for Arrow."""
    if type(t) in _EXACT:
        conv = functools.partial(convert_value, t=t)
    elif isinstance(t, TimestampType):
        conv = _timestamp
    elif isinstance(t, StructType):
        fields = [(f.name, _EXACT.get(type(f.dataType)),
                   compile_value(f.dataType, f.nullable))
                  for f in t.fields]

        def conv(v):
            if not isinstance(v, dict):
                return None
            return {name: x if type(x := v.get(name)) is exact else c(x)
                    for name, exact, c in fields}
    elif isinstance(t, ArrayType):
        build = compile_column(t.elementType, t.containsNull)

        def conv(v):
            return build(v) if isinstance(v, (list, tuple)) else None
    else:
        from pyspark.sql.conversion import LocalDataToArrowConversion

        return LocalDataToArrowConversion._create_converter(t, nullable)
    return conv if nullable else _not_none(conv, t)


def compile_column(t: DataType, nullable: bool = True):
    """Compile ``t`` into ``build(values) -> list``: a whole column (or
    one array's elements) converted in one comprehension."""
    conv = compile_value(t, nullable)
    exact = _EXACT.get(type(t))

    def build(values):
        return [v if type(v) is exact else conv(v) for v in values]

    return build
