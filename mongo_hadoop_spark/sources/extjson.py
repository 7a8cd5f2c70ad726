"""MongoDB extended-JSON bridging (U9, SURVEY §2.9).

The reference parses all config-level query/projection/sort documents from
JSON (com.mongodb.util.JSON.parse, MongoConfigUtil.java:674-702).  Here the
same role: option strings → query dicts, honoring the common extended-JSON
wrappers ($oid, $date, $regex, $binary, $numberLong, $timestamp, $minKey,
$maxKey).
"""

from __future__ import annotations

import base64
import datetime as _dt
import json

from mongo_hadoop_spark.bsonio import (Binary, BsonTimestamp, MaxKey, MinKey,
                                      ObjectId, Regex)

_UTC = _dt.timezone.utc


def _revive(obj):
    if isinstance(obj, list):
        return [_revive(x) for x in obj]
    if not isinstance(obj, dict):
        return obj
    if len(obj) == 1 or (len(obj) == 2 and "$options" in obj):
        if "$oid" in obj:
            return ObjectId(obj["$oid"])
        if "$date" in obj:
            v = obj["$date"]
            if isinstance(v, (int, float)):
                return _dt.datetime.fromtimestamp(v / 1000.0, tz=_UTC)
            return _dt.datetime.fromisoformat(str(v).replace("Z", "+00:00"))
        if "$regex" in obj and not isinstance(obj["$regex"], dict):
            return Regex(obj["$regex"], obj.get("$options", ""))
        if "$numberLong" in obj:
            return int(obj["$numberLong"])
        if "$timestamp" in obj and isinstance(obj["$timestamp"], dict):
            return BsonTimestamp(int(obj["$timestamp"]["t"]),
                                 int(obj["$timestamp"]["i"]))
        if "$minKey" in obj:
            return MinKey()
        if "$maxKey" in obj:
            return MaxKey()
        if "$binary" in obj:
            b = obj["$binary"]
            if isinstance(b, dict):
                return Binary(base64.b64decode(b["base64"]), int(b.get("subType", "0"), 16))
            return Binary(base64.b64decode(b), 0)
    return {k: _revive(v) for k, v in obj.items()}


def parse_query(text: str | None) -> dict:
    if not text:
        return {}
    return _revive(json.loads(text))


def to_extjson_value(v):
    if isinstance(v, ObjectId):
        return {"$oid": v.hex}
    if isinstance(v, _dt.datetime):
        # exact integer millis via timedelta — float .timestamp()*1000 can
        # truncate a millisecond (same arithmetic as bsonio._encode_value)
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        delta = v - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        millis = (delta.days * 86_400_000 + delta.seconds * 1000
                  + delta.microseconds // 1000)
        return {"$date": millis}
    if isinstance(v, Regex):
        return {"$regex": v.pattern, "$options": v.flags}
    if isinstance(v, Binary):
        return {"$binary": {"base64": base64.b64encode(v.data).decode(), "subType": f"{v.subtype:02x}"}}
    if isinstance(v, (bytes, bytearray)):
        return {"$binary": {"base64": base64.b64encode(v).decode(), "subType": "00"}}
    if isinstance(v, BsonTimestamp):
        return {"$timestamp": {"t": v.time, "i": v.inc}}
    if isinstance(v, MinKey):
        return {"$minKey": 1}
    if isinstance(v, MaxKey):
        return {"$maxKey": 1}
    if isinstance(v, dict):
        return {k: to_extjson_value(x) for k, x in v.items()}
    if isinstance(v, list):
        return [to_extjson_value(x) for x in v]
    return v


def dumps(doc) -> str:
    return json.dumps(to_extjson_value(doc))


# ---------------------------------------------------------------------------
# mongoexport / mongoimport interchange: one extended-JSON doc per line
# ---------------------------------------------------------------------------

def read_extjson_lines(spark, path: str, schema=None, sample_size: int = 200):
    """Read a mongoexport-style file (one extended-JSON document per line)
    as a DataFrame.

    Spark-first shape: the file is distributed as raw text lines (normal
    splittable text scan — at 100 TB each executor parses its own byte
    range); parsing + $-wrapper revival happens Arrow-batched inside
    ``mapInPandas``.  Only schema inference reads driver-side, bounded to
    ``sample_size`` lines.
    """
    import json as _json

    from mongo_hadoop_spark.sources.schema_infer import doc_to_row, infer_schema

    lines = spark.read.text(path)
    if schema is None:
        sample = [
            _revive(_json.loads(r.value))
            for r in lines.limit(sample_size).collect() if r.value.strip()
        ]
        schema = infer_schema(sample)

    def parse(batches):
        import pandas as pd

        cols = [f.name for f in schema.fields]
        for pdf in batches:
            rows = [
                doc_to_row(_revive(_json.loads(line)), schema)
                for line in pdf["value"] if line.strip()
            ]
            yield pd.DataFrame(rows, columns=cols)

    return lines.mapInPandas(parse, schema)


def write_extjson_lines(df, path: str) -> None:
    """Write a DataFrame as mongoexport-style extended-JSON lines (one
    doc per line, one file per partition under ``path``)."""
    import json as _json

    def render(batches):
        import pandas as pd

        for pdf in batches:
            docs = pdf.to_dict("records")
            yield pd.DataFrame({
                "value": [_json.dumps(
                    {k: to_extjson_value(v) for k, v in d.items()},
                    separators=(",", ":")) for d in docs],
            })

    df.mapInPandas(render, "value string").write.mode("overwrite").text(path)
