"""File-backed document store — the engine's stand-in for a live MongoDB
deployment (no server/driver exists in this environment).

Layout: a *store* is a directory; a *collection* is a subdirectory of
``*.bson`` segment files (mongorestore-compatible, SURVEY §2.10 W4), each
with a ``.meta.json`` sidecar (count, bytes, zone-map bounds).

Every segment is written by one protocol, the analog of MongoRecordWriter's
temp-file spool + MongoOutputCommitter's commit
(core/.../output/MongoRecordWriter.java:41-130,
core/.../output/MongoOutputCommitter.java:91-186):
:meth:`DocumentCollection.stage` then :meth:`DocumentCollection.publish`.

A GridFS analog stores large binaries as chunk documents
({files_id, n, data}) beside a files-metadata collection
(core/.../GridFSInputFormat.java:40-343, input/GridFSSplit.java:18-111).

If a real MongoDB is available, the same reader/writer surfaces would sit
on pymongo bulk ops — the import is gated so this module works without it.
"""

from __future__ import annotations

import glob
import os
import random
import uuid
from dataclasses import dataclass, field

from mongo_hadoop_spark import bsonio
from mongo_hadoop_spark.plans import filters as qf
from mongo_hadoop_spark.plans.paths import get_path

DEFAULT_CHUNK_SIZE = 255 * 1024  # GridFS default chunk size
META_SUFFIX = ".meta.json"


def _write_segment_meta(seg: "StagedSegment") -> None:
    """Write a staged segment's ``.meta.json`` under its final name."""
    import json

    meta = {"count": seg.count, "bytes": os.path.getsize(seg.tmp_path)}
    clean = {k: b for k, b in seg.bounds.items() if b is not None}
    if clean:
        meta["bounds"] = clean
    with open(seg.tmp_path + META_SUFFIX, "w") as f:
        json.dump(meta, f)
    os.rename(seg.tmp_path + META_SUFFIX, seg.final_path + META_SUFFIX)


# Zone-map bounds (parquet row-group stats analog): per segment, for each
# top-level key whose present values are ALL scalars of one type family
# ("n"umeric excl. bool/NaN, or "s"tring), record [family, min, max].
# Any list/dict/bool/NaN/mixed-family value poisons the key (no bounds →
# never pruned).  Dotted-path queries never see top-level bounds, so they
# are never pruned either — pruning is strictly opportunistic.

_NUM = (int, float)


def _bounds_family(v):
    if isinstance(v, bool) or (isinstance(v, float) and v != v):
        return None
    if isinstance(v, _NUM):
        return "n"
    if isinstance(v, str):
        return "s"
    return None


def _track_bounds(bounds: dict, doc: dict) -> None:
    for k, v in doc.items():
        cur = bounds.get(k, _MISSING)
        if cur is None:  # poisoned
            continue
        fam = _bounds_family(v)
        if fam is None:
            bounds[k] = None
            continue
        if cur is _MISSING:
            bounds[k] = [fam, v, v]
        elif cur[0] != fam:
            bounds[k] = None
        else:
            if v < cur[1]:
                cur[1] = v
            if v > cur[2]:
                cur[2] = v


_MISSING = object()


def segment_may_match(bounds: dict | None, query: dict | None) -> bool:
    """False only when the bounds PROVE no document in the segment can
    match ``query`` (same contract as parquet row-group pruning).  Checks
    $eq (bare or explicit), $gt/$gte/$lt/$lte and all-out-of-range $in on
    keys with recorded bounds; everything else conservatively passes.
    Sound because a key with bounds has only scalar values of that family
    present, and missing/other-family values never satisfy eq/range/$in
    (plans/filters semantics: comparisons are same-type-class only)."""
    if not query or not bounds:
        return True
    for key, cond in query.items():
        if key.startswith("$"):
            continue  # $and/$or/$nor: no pruning
        b = bounds.get(key)
        if not b:
            continue
        fam, lo, hi = b
        if isinstance(cond, dict) and cond and all(
                str(c).startswith("$") for c in cond):
            if "$exists" in cond:
                continue  # presence semantics diverge; don't prune
            ops = cond
        else:
            ops = {"$eq": cond}
        for op, v in ops.items():
            if op == "$in":
                if (isinstance(v, (list, tuple)) and v
                        and all(_bounds_family(x) == fam for x in v)
                        and all(x < lo or x > hi for x in v)):
                    return False
                continue
            vfam = _bounds_family(v)
            if vfam is None:
                continue
            if vfam != fam:
                if op == "$eq":
                    return False  # no same-family value present → no eq match
                continue
            if op == "$eq" and (v < lo or v > hi):
                return False
            if op == "$gt" and hi <= v:
                return False
            if op == "$gte" and hi < v:
                return False
            if op == "$lt" and lo >= v:
                return False
            if op == "$lte" and lo > v:
                return False
    return True


def _remove_segment(seg_path: str) -> None:
    """Remove a segment with its ``.meta.json`` and ``.splits`` sidecars."""
    os.remove(seg_path)
    for extra in (seg_path + META_SUFFIX, bsonio.sidecar_path(seg_path)):
        if os.path.exists(extra):
            os.remove(extra)


def _job_token() -> str:
    return uuid.uuid4().hex[:12]


@dataclass
class StagedSegment:
    """A segment written under a temp name, with the count and zone-map
    bounds its ``.meta.json`` gets when it is published."""
    tmp_path: str
    final_path: str
    count: int = 0
    size: int = 0
    bounds: dict = field(default_factory=dict)


def _read_segment_meta(seg_path: str) -> dict | None:
    import json

    p = seg_path + META_SUFFIX
    if not os.path.exists(p):
        return None  # pre-stats segment (or foreign .bson file): caller scans
    try:
        with open(p) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


class DocumentCollection:
    """A directory of .bson segments acting as one collection."""

    def __init__(self, path: str):
        self.path = path

    @property
    def name(self) -> str:
        return os.path.basename(self.path.rstrip("/"))

    def segments(self) -> list[str]:
        return sorted(
            f for pat in ("*.bson", "*.bson.gz", "*.bson.bz2")
            for f in glob.glob(os.path.join(self.path, pat))
        )

    def exists(self) -> bool:
        return os.path.isdir(self.path)

    # --- read side ---------------------------------------------------------

    def find(self, query: dict | None = None, projection: dict | None = None,
             sort=None, skip: int = 0, limit: int | None = None):
        """Cursor-style scan: filter → sort → skip → limit → project.
        Mirrors MongoInputSplit.getCursor option application order
        (core/.../input/MongoInputSplit.java:272-299)."""
        docs = self._scan(query)
        if sort:
            for key, direction in reversed(list(sort)):
                docs = sorted(
                    docs,
                    key=_SortKey.factory(key),
                    reverse=direction < 0,
                )
        out = []
        n_skipped = 0
        for d in docs:
            if n_skipped < skip:
                n_skipped += 1
                continue
            out.append(qf.project(d, projection))
            if limit is not None and len(out) >= limit:
                break
        return out

    def _scan(self, query: dict | None = None):
        for seg in self.segments():
            if query:
                meta = _read_segment_meta(seg)
                if meta and not segment_may_match(meta.get("bounds"), query):
                    continue  # zone-map pruned: provably no match inside
            with bsonio.open_bson(seg) as f:
                for doc in bsonio.decode_file_iter(f):
                    if qf.match(doc, query):
                        yield doc

    def _segment_count(self, seg: str) -> int:
        """Doc count of one segment: sidecar stats if present (O(1)), else a
        decode scan — the aggregate-pushdown analog of answering collstats
        from metadata instead of the data (at 100 TB, planning must never
        read the collection)."""
        meta = _read_segment_meta(seg)
        if meta is not None and "count" in meta:
            return int(meta["count"])
        with bsonio.open_bson(seg) as f:
            return sum(1 for _ in bsonio.decode_file_iter(f))

    def count(self, query: dict | None = None, limit: int | None = None) -> int:
        if not query:  # unfiltered count: sum per-segment sidecar stats
            n = 0
            for seg in self.segments():
                n += self._segment_count(seg)
                if limit is not None and n >= limit:
                    return limit
            return n
        n = 0
        for _ in self._scan(query):
            n += 1
            if limit is not None and n >= limit:
                break
        return n

    def stats(self) -> dict:
        size = sum(os.path.getsize(s) for s in self.segments())
        count = self.count()
        return {
            "count": count,
            "size": size,
            "avgObjSize": (size // count) if count else 0,
        }

    def sample_values(self, key: str, n: int, seed: int = 42) -> list:
        """Reservoir-sample ``n`` values of ``key`` — the $sample stage of
        SampleSplitter (core/.../splitter/SampleSplitter.java:43-106)."""
        rng = random.Random(seed)
        reservoir: list = []
        for i, doc in enumerate(self._scan(None)):
            v = get_path(doc, key)
            if v is None:
                continue
            if len(reservoir) < n:
                reservoir.append(v)
            else:
                j = rng.randint(0, i)
                if j < n:
                    reservoir[j] = v
        return reservoir

    # --- write side --------------------------------------------------------

    def stage(self, docs, job: str, *, ext: str = "", name: str | None = None,
              max_bytes: int | None = None) -> list[StagedSegment]:
        """Write ``docs`` to temp segments (codec suffix ``ext``) that
        readers do not see until :meth:`publish`; a new one starts when
        the next document would take the current one past ``max_bytes``.
        The first is published as ``name`` (default random).  Temp names
        carry ``job``, for :meth:`discard`."""
        os.makedirs(self.path, exist_ok=True)
        opener = bsonio._CODEC_OPENERS.get(ext, open)

        def new(seg_name=None):
            seg_name = seg_name or _job_token()
            return StagedSegment(
                os.path.join(self.path, f"_tmp_{job}_{seg_name}.bson{ext}.inprogress"),
                os.path.join(self.path, f"{seg_name}.bson{ext}"))

        staged = [new(name)]
        f = opener(staged[0].tmp_path, "wb")
        try:
            for doc in docs:
                data = bsonio.encode(doc)
                seg = staged[-1]
                if max_bytes and seg.size and seg.size + len(data) > max_bytes:
                    f.close()
                    staged.append(seg := new())
                    f = opener(seg.tmp_path, "wb")
                f.write(data)
                seg.size += len(data)
                seg.count += 1
                _track_bounds(seg.bounds, doc)
        finally:
            f.close()
        return staged

    def publish(self, staged: list[StagedSegment], retire=()) -> None:
        """The one commit of every store write: rename ``staged`` segments
        in (each ``.meta.json`` first), then remove the ``retire``
        segments.  A crash before the renames leaves only temp files; one
        between publish and retire leaves old and new segments side by
        side (documents duplicated, never lost), and a journal replayed
        into them is applied again on re-run — both wait for an
        idempotent, marker-based commit."""
        for seg in staged:
            _write_segment_meta(seg)
            os.rename(seg.tmp_path, seg.final_path)
        for seg in retire:
            _remove_segment(seg)

    def discard(self, job: str) -> None:
        """Remove the temp files staged under ``job``."""
        for p in glob.glob(os.path.join(self.path, f"_tmp_{job}_*")):
            os.remove(p)

    def insert_many(self, docs, segment_hint: str | None = None) -> int:
        """Bulk insert as one published segment."""
        staged = self.stage(docs, _job_token(), name=segment_hint)
        self.publish(staged)
        return staged[0].count

    def rewrite(self, docs) -> int:
        """Replace the collection's contents with ``docs``, published under
        a fresh name before the old segments are retired (crash window:
        :meth:`publish`)."""
        old = self.segments()
        staged = self.stage(docs, _job_token())
        self.publish(staged, retire=old)
        return staged[0].count

    def compact(self, target_bytes: int = 8 * 1024 * 1024) -> dict:
        """Merge committed segments into ~``target_bytes`` packed segments.

        One segment per writer task per job piles up small segments, and
        scan planning is O(#segments) — periodic compaction is the
        maintenance op every segment store runs (the analog of the
        reference's 8 MB `mongo.input.split_size` working best when
        chunks are near-uniform).  Zone-map ``.meta.json`` sidecars are
        rebuilt per packed segment, so count/stats stay metadata-only
        and pruning keeps working.

        Crash window: :meth:`publish`; re-running ``compact`` converges.
        Single-writer assumption, like the rest of the file store.
        """
        old = self.segments()
        if len(old) <= 1:
            return {"before": len(old), "after": len(old), "rewritten": 0}

        def docs():
            for seg in old:
                with bsonio.open_bson(seg) as src:
                    yield from bsonio.decode_file_iter(src)

        staged = self.stage(docs(), _job_token(), max_bytes=target_bytes)
        self.publish(staged, retire=old)
        return {"before": len(old), "after": len(staged),
                "rewritten": sum(s.count for s in staged)}

    def create_index(self, keys, **options) -> str:
        """ensureIndex analog (pig/.../MongoStorage.java:237-238, W7/W10):
        the file store has no indexes; record the intent in a sidecar so
        tests can assert the writer requested it."""
        os.makedirs(self.path, exist_ok=True)
        idx_name = "_".join(f"{k}_{d}" for k, d in keys)
        with open(os.path.join(self.path, ".indexes"), "a") as f:
            f.write(f"{idx_name} {options!r}\n")
        return idx_name

    def requested_indexes(self) -> list[str]:
        p = os.path.join(self.path, ".indexes")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [line.split(" ", 1)[0] for line in f if line.strip()]


class _SortKey:
    """Cross-type sort key using BSON ordering (BSONComparator analog)."""

    __slots__ = ("value",)

    def __init__(self, value):
        self.value = value

    def __lt__(self, other):
        return qf.bson_compare(self.value, other.value) < 0

    @staticmethod
    def factory(key: str):
        return lambda d: _SortKey(get_path(d, key))


class DocumentStore:
    """A directory of collections (a 'database')."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def collection(self, name: str) -> DocumentCollection:
        return DocumentCollection(os.path.join(self.path, name))

    def list_collections(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.path)
            if os.path.isdir(os.path.join(self.path, d))
        )

    def drop(self, name: str) -> None:
        """Remove the collection's directory: its segments and every file
        beside them (sidecars, ``.indexes``, a late task attempt's temp
        files, sidecars orphaned by earlier versions)."""
        coll = self.collection(name)
        if os.path.isdir(coll.path):
            for entry in os.scandir(coll.path):
                if entry.is_file():
                    os.remove(entry.path)
            os.rmdir(coll.path)

    # --- GridFS analog -----------------------------------------------------

    def gridfs_put(self, filename: str, data: bytes,
                   chunk_size: int = DEFAULT_CHUNK_SIZE,
                   metadata: dict | None = None) -> str:
        file_id = uuid.uuid4().hex[:24]
        chunks = [
            {"files_id": file_id, "n": i, "data": data[off : off + chunk_size]}
            for i, off in enumerate(range(0, max(len(data), 1), chunk_size))
        ]
        self.collection("fs.chunks").insert_many(chunks, segment_hint=f"f{file_id}")
        self.collection("fs.files").insert_many(
            [{
                "_id": file_id, "filename": filename, "length": len(data),
                "chunkSize": chunk_size, "numChunks": len(chunks),
                "metadata": metadata or {},
            }],
            segment_hint=f"f{file_id}",
        )
        return file_id

    def gridfs_get(self, file_id: str) -> bytes:
        chunks = self.collection("fs.chunks").find(
            {"files_id": file_id}, sort=[("n", 1)]
        )
        return b"".join(c["data"] for c in chunks)
