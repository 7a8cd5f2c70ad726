"""Mongo query-language evaluation + Catalyst filter translation.

Three jobs (SURVEY §2.3, §4):

1. ``match(doc, query)`` — evaluate a MongoDB query document against a
   Python dict, with BSON *cross-type ordering* for range comparisons.
   Reference: the server evaluates `mongo.input.query`
   (core/.../util/MongoConfigUtil.java:704-719); type ranking follows
   BSONComparator (core/.../util/BSONComparator.java:49-117): MinKey <
   Null < Numbers < String < Object < Array < Binary < ObjectId <
   Boolean < Date < Regex < MaxKey, numerics coerced to double.

2. ``translate_filters(filters)`` — Spark DataSource pushdown filters →
   Mongo query dict + residual list.  Reference: the Hive comparison map
   (hive/.../input/HiveMongoInputFormat.java:70-78,156-182): =, <, <=,
   >, >= push down; anything else stays residual — the contract is
   "the source may return a superset; the engine re-filters"
   (MongoStorageHandler.decomposePredicate:100-128).

3. ``and_queries`` — conjunction merge of a pushed filter with a static
   option-level query via ``$and`` (HiveMongoInputFormat.java:102-123).

Also: ``project(doc, fields)`` — server-side projection semantics
(`mongo.input.fields`), with `_id` suppressed unless explicitly included
(HiveMongoInputFormat.java:203-207; pig/.../MongoLoader.java:266-269).
"""

from __future__ import annotations

import datetime as _dt
import re
from typing import Any

from mongo_hadoop_spark.bsonio import Binary, MaxKey, MinKey, ObjectId, Regex
from mongo_hadoop_spark.plans.paths import get_path

# --- BSON cross-type ordering (BSONComparator.java:49-117) -----------------

_TYPE_RANK = {
    "minkey": 0, "null": 1, "number": 2, "string": 3, "object": 4,
    "array": 5, "binary": 6, "objectid": 7, "boolean": 8, "date": 9,
    "regex": 10, "maxkey": 11,
}


def _rank(v: Any) -> str:
    if isinstance(v, MinKey):
        return "minkey"
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, (int, float)):
        return "number"
    if isinstance(v, str):
        return "string"
    if isinstance(v, dict):
        return "object"
    if isinstance(v, (list, tuple)):
        return "array"
    if isinstance(v, (bytes, bytearray, Binary)):
        return "binary"
    if isinstance(v, ObjectId):
        return "objectid"
    if isinstance(v, _dt.datetime):
        return "date"
    if isinstance(v, Regex):
        return "regex"
    if isinstance(v, MaxKey):
        return "maxkey"
    return "string"


def bson_compare(a: Any, b: Any) -> int:
    """Total order across heterogeneous BSON values; -1/0/1."""
    ra, rb = _TYPE_RANK[_rank(a)], _TYPE_RANK[_rank(b)]
    if ra != rb:
        return -1 if ra < rb else 1
    kind = _rank(a)
    if kind in ("minkey", "maxkey", "null"):
        return 0
    if kind == "number":
        fa, fb = float(a), float(b)
        return -1 if fa < fb else (1 if fa > fb else 0)
    if kind == "binary":
        ba = a.data if isinstance(a, Binary) else bytes(a)
        bb = b.data if isinstance(b, Binary) else bytes(b)
        return -1 if ba < bb else (1 if ba > bb else 0)
    if kind == "objectid":
        return -1 if a.raw < b.raw else (1 if a.raw > b.raw else 0)
    if kind == "date":
        return -1 if a < b else (1 if a > b else 0)
    if kind == "array":
        for x, y in zip(a, b):
            c = bson_compare(x, y)
            if c:
                return c
        return (len(a) > len(b)) - (len(a) < len(b))
    if kind == "object":
        return bson_compare(sorted(a.items()), sorted(b.items()))
    if kind == "regex":
        return bson_compare([a.pattern, a.flags], [b.pattern, b.flags])
    # string / boolean
    return -1 if a < b else (1 if a > b else 0)


# --- query evaluation -------------------------------------------------------

_COMPARISON_OPS = {"$eq", "$ne", "$gt", "$gte", "$lt", "$lte", "$in", "$nin"}


def _values_at(doc, path):
    """Field lookup with Mongo array semantics: a predicate on an array
    field matches if any element matches (or the array itself does)."""
    v = get_path(doc, path)
    if isinstance(v, list):
        return list(v) + [v]
    return [v]


def _eq(a, b) -> bool:
    if _rank(a) != _rank(b):
        return False
    return bson_compare(a, b) == 0


def _match_op(value, op: str, operand) -> bool:
    if op == "$eq":
        return _eq(value, operand)
    if op == "$ne":
        return not _eq(value, operand)
    if op == "$in":
        return any(_eq(value, o) for o in operand)
    if op == "$nin":
        return not any(_eq(value, o) for o in operand)
    if op in ("$gt", "$gte", "$lt", "$lte"):
        # Mongo range comparisons only match same-type-class values
        if _rank(value) != _rank(operand):
            return False
        c = bson_compare(value, operand)
        return {"$gt": c > 0, "$gte": c >= 0, "$lt": c < 0, "$lte": c <= 0}[op]
    if op == "$exists":
        return (value is not None) == bool(operand)
    if op == "$regex":
        if not isinstance(value, str):
            return False
        pat = operand.pattern if isinstance(operand, Regex) else str(operand)
        return re.search(pat, value) is not None
    if op == "$not":
        return not _match_condition(value, operand)
    if op == "$size":
        return isinstance(value, list) and len(value) == operand
    if op == "$mod":
        div, rem = operand
        return isinstance(value, (int, float)) and not isinstance(value, bool) and int(value) % div == rem
    if op == "$all":
        return isinstance(value, list) and all(any(_eq(x, o) for x in value) for o in operand)
    if op == "$elemMatch":
        return isinstance(value, list) and any(
            match(x, operand) if isinstance(x, dict) else _match_condition(x, operand)
            for x in value
        )
    raise ValueError(f"unsupported operator {op}")


def _is_op_doc(cond) -> bool:
    return isinstance(cond, dict) and cond and all(k.startswith("$") for k in cond)


def _merge_regex_options(cond: dict) -> dict:
    """Fold a find-language ``{$regex, $options}`` pair into one $regex
    with Java/Python embedded flags (r11) — same i/m/s/x contract as the
    Column compiler (aggpipe._regex_pattern)."""
    if "$options" not in cond:
        return cond
    if "$regex" not in cond:
        raise ValueError("$options is only valid next to $regex")
    cond = dict(cond)
    opts = cond.pop("$options")
    bad = set(opts) - set("imsx")
    if bad:
        raise ValueError(
            f"$regex options {''.join(sorted(bad))!r} unsupported")
    pat = cond["$regex"]
    pat = pat.pattern if isinstance(pat, Regex) else str(pat)
    cond["$regex"] = (f"(?{opts})" if opts else "") + pat
    return cond


def _match_condition(value, cond) -> bool:
    if _is_op_doc(cond):
        cond = _merge_regex_options(cond)
        return all(_match_op(value, op, operand) for op, operand in cond.items())
    if isinstance(cond, Regex):
        return _match_op(value, "$regex", cond)
    return _eq(value, cond)


_NEGATED_OPS = {"$ne", "$nin", "$not"}


def _field_matches(values, cond) -> bool:
    """Evaluate a field condition over every value at a path.

    MongoDB array semantics are asymmetric: positive operators match if ANY
    element satisfies them, but negated operators ($ne/$nin/$not) match only
    if NO element satisfies the positive form — {a: {$ne: 5}} must NOT match
    {a: [5, 6]} even though element 6 differs from 5.  Each operator in an
    op-doc is evaluated independently over the value set (server behavior
    for mixed docs like {$gt: 1, $ne: 5})."""
    if _is_op_doc(cond):
        cond = _merge_regex_options(cond)
        for op, operand in cond.items():
            if op == "$ne":
                ok = not any(_eq(v, operand) for v in values)
            elif op == "$nin":
                ok = not any(any(_eq(v, o) for o in operand) for v in values)
            elif op == "$not":
                ok = not any(_match_condition(v, operand) for v in values)
            else:
                ok = any(_match_op(v, op, operand) for v in values)
            if not ok:
                return False
        return True
    return any(_match_condition(v, cond) for v in values)


def match(doc: dict, query: dict | None) -> bool:
    """Evaluate a MongoDB query document against ``doc``."""
    if not query:
        return True
    for key, cond in query.items():
        if key == "$and":
            if not all(match(doc, q) for q in cond):
                return False
        elif key == "$or":
            if not any(match(doc, q) for q in cond):
                return False
        elif key == "$nor":
            if any(match(doc, q) for q in cond):
                return False
        elif key == "$comment":
            # server: profiler annotation, no filtering effect (r12 —
            # consistent with the Column compiler's no-op)
            continue
        elif key.startswith("$"):
            raise ValueError(f"unsupported top-level operator {key}")
        else:
            if "$exists" in cond if _is_op_doc(cond) else False:
                # $exists needs raw presence, not value
                present = get_path(doc, key) is not None or _path_present(doc, key)
                rest = {k: v for k, v in cond.items() if k != "$exists"}
                if bool(cond["$exists"]) != present:
                    return False
                if rest and not _field_matches(_values_at(doc, key), rest):
                    return False
                continue
            if not _field_matches(_values_at(doc, key), cond):
                return False
    return True


def query_roots(query: dict | None) -> set[str] | None:
    """Top-level document fields :func:`match` reads for ``query``: the
    first segment of every field path, through ``$and``/``$or``/``$nor``.
    None when the query holds any other top-level operator — ``match``
    raises on those, and a narrowed decode must not change that."""
    roots: set[str] = set()
    pending = [query or {}]
    while pending:
        q = pending.pop()
        if not isinstance(q, dict):
            return None
        for key, cond in q.items():
            if key in ("$and", "$or", "$nor"):
                if not isinstance(cond, (list, tuple)):
                    return None
                pending.extend(cond)
            elif key == "$comment":
                continue
            elif key.startswith("$"):
                return None
            else:
                roots.add(key.split(".", 1)[0])
    return roots


def _path_present(doc, path: str) -> bool:
    cur = doc
    for seg in path.split("."):
        if isinstance(cur, dict):
            if seg not in cur:
                return False
            cur = cur[seg]
        elif isinstance(cur, (list, tuple)):
            try:
                cur = cur[int(seg)]
            except (ValueError, IndexError):
                return False
        else:
            return False
    return True


# --- projection -------------------------------------------------------------

def _project_operator(doc: dict, path: str, spec: dict):
    """``$slice`` / ``$elemMatch`` projection operators (find language).
    Returns (present, value): absent fields stay absent, like the server."""
    arr = get_path(doc, path)
    if not isinstance(arr, list):
        return False, None
    if "$slice" in spec:
        s = spec["$slice"]
        if isinstance(s, list):
            skip, limit = s
            if limit <= 0:
                raise ValueError("$slice limit must be positive")
            start = skip if skip >= 0 else max(len(arr) + skip, 0)
            return True, arr[start:start + limit]
        return True, (arr[:s] if s >= 0 else arr[s:])
    cond = spec["$elemMatch"]
    for el in arr:
        if isinstance(el, dict) and match(el, cond):
            return True, [el]
    return False, None  # server: no match → field omitted entirely


def project(doc: dict, fields: dict | None) -> dict:
    """Apply a Mongo projection document ({f:1,...} include / {f:0,...}
    exclude, plus the $slice / $elemMatch projection operators).  `_id`
    included by default in include-mode unless `_id: 0`."""
    if not fields:
        return doc
    ops = {k: v for k, v in fields.items()
           if isinstance(v, dict) and ("$slice" in v or "$elemMatch" in v)}
    plain = {k: v for k, v in fields.items() if k not in ops}
    non_id = {k: v for k, v in plain.items() if k != "_id"}
    include = (any(non_id.values()) if non_id
               else bool(plain.get("_id", not ops)))
    if include or ops:
        out = {}
        if plain.get("_id", 1) and "_id" in doc:
            out["_id"] = doc["_id"]
        if not include:
            # $slice-only projection keeps the rest of the document
            # (server semantics); $elemMatch-only does not
            if all("$slice" in v for v in ops.values()):
                out = {k: v for k, v in doc.items()
                       if k not in ops and plain.get(k, 1)}
        for k, v in plain.items():
            if v and k != "_id":
                val = get_path(doc, k)
                if val is not None or _path_present(doc, k):
                    _assign_path(out, k, val)
        for k, spec in ops.items():
            present, val = _project_operator(doc, k, spec)
            if present:
                _assign_path(out, k, val)
        return out
    return {k: v for k, v in doc.items() if plain.get(k, 1)}


def _assign_path(out: dict, path: str, value) -> None:
    parts = path.split(".")
    cur = out
    for seg in parts[:-1]:
        cur = cur.setdefault(seg, {})
    cur[parts[-1]] = value


# --- Catalyst / DataSource filter translation -------------------------------

def translate_filters(filters) -> tuple[dict, list]:
    """pyspark.sql.datasource filters → (mongo query dict, residual list).

    Supported (pushed): EqualTo, EqualNullSafe(→$eq null semantics),
    GreaterThan(OrEqual), LessThan(OrEqual), In, IsNull, IsNotNull,
    StringStartsWith (→ anchored $regex), Not(EqualTo), And is implicit
    (filter list conjunction).  Everything else → residual (superset scan
    contract — Spark re-applies residuals above the scan).
    """
    query: dict[str, Any] = {}
    residual = []

    def add(field: str, cond):
        if field in query:
            existing = query[field]
            if _is_op_doc(existing) and _is_op_doc(cond):
                overlap = existing.keys() & cond.keys()
                if not overlap:
                    existing.update(cond)
                    return
            query.setdefault("$and", [])
            # move into $and to avoid clobbering
            sub = query.pop(field)
            query["$and"].append({field: sub})
            query["$and"].append({field: cond})
        else:
            query[field] = cond

    for f in filters:
        name = type(f).__name__
        try:
            if name == "EqualTo":
                add(".".join(f.attribute), f.value)
            elif name == "EqualNullSafe":
                add(".".join(f.attribute), {"$eq": f.value})
            elif name == "GreaterThan":
                add(".".join(f.attribute), {"$gt": f.value})
            elif name == "GreaterThanOrEqual":
                add(".".join(f.attribute), {"$gte": f.value})
            elif name == "LessThan":
                add(".".join(f.attribute), {"$lt": f.value})
            elif name == "LessThanOrEqual":
                add(".".join(f.attribute), {"$lte": f.value})
            elif name == "In":
                add(".".join(f.attribute), {"$in": list(f.value)})
            elif name == "IsNull":
                add(".".join(f.attribute), None)
            elif name == "IsNotNull":
                add(".".join(f.attribute), {"$ne": None})
            elif name == "StringStartsWith":
                add(".".join(f.attribute), {"$regex": "^" + re.escape(f.value)})
            elif name == "Not":
                inner = f.child
                if type(inner).__name__ == "EqualTo":
                    # Spark's a != v is null-rejecting; a bare {$ne: v} also
                    # matches null/missing docs, so push $nin [v, null] —
                    # sound regardless of whether Spark pushes IsNotNull
                    add(".".join(inner.attribute), {"$nin": [inner.value, None]})
                else:
                    residual.append(f)
            else:
                residual.append(f)
        except Exception:
            residual.append(f)
    return query, residual


def and_queries(*queries) -> dict:
    """Conjunction of query docs via $and (the reference's pushed-filter ∧
    static-table-query merge)."""
    nonempty = [q for q in queries if q]
    if not nonempty:
        return {}
    if len(nonempty) == 1:
        return dict(nonempty[0])
    return {"$and": nonempty}
