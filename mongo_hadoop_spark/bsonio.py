"""Minimal pure-Python BSON codec + splittable .bson file scanning.

Implements the public BSON spec (bsonspec.org) for the types the reference
round-trips (SURVEY §1.2): double, string, document, array, binary,
ObjectId, bool, UTC datetime (int64 millis), null, regex, int32/int64,
timestamp.  This replaces the reference's dependency on the MongoDB Java
driver's codecs (core/.../io/BSONWritable.java) — no external driver
package exists in this environment, and the engine only needs
encode/decode + document-boundary scanning.

Reference parity:
- ``decode_file_iter`` ↔ BSONFileRecordReader's sequential decode loop
  (core/.../input/BSONFileRecordReader.java:71-225).
- ``decode(data, fields)`` ↔ MongoRecordReader handing back only the
  projected fields: unread top-level elements are skipped by length.
- ``find_split_points`` ↔ BSONSplitter's length-header walk that cuts
  splits at document boundaries near a target size
  (core/.../splitter/BSONSplitter.java:222-280); like the reference it
  reads only the 4-byte length prefix per doc, never decoding bodies.
- ``write_splits_sidecar``/``read_splits_sidecar`` ↔ the `.{name}.splits`
  sidecar of `{s: start, l: length}` docs (BSONSplitter.java:291-323).
"""

from __future__ import annotations

import bz2
import datetime as _dt
import gzip
import io
import os
import struct
from dataclasses import dataclass

_UTC = _dt.timezone.utc
_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_UTC)


class ObjectId:
    """12-byte BSON ObjectId; compares/hashes by bytes, prints 24-hex."""

    __slots__ = ("raw",)

    def __init__(self, value: bytes | str):
        if isinstance(value, str):
            value = bytes.fromhex(value)
        if len(value) != 12:
            raise ValueError("ObjectId must be 12 bytes")
        self.raw = bytes(value)

    @property
    def hex(self) -> str:
        return self.raw.hex()

    def generation_time(self) -> _dt.datetime:
        secs = struct.unpack(">I", self.raw[:4])[0]
        return _dt.datetime.fromtimestamp(secs, tz=_UTC)

    def __eq__(self, other):
        return isinstance(other, ObjectId) and other.raw == self.raw

    def __lt__(self, other):
        return self.raw < other.raw

    def __hash__(self):
        return hash(self.raw)

    def __repr__(self):
        return f"ObjectId('{self.hex}')"


@dataclass(frozen=True)
class BsonTimestamp:
    """BSON internal timestamp: (epoch seconds, ordinal)."""
    time: int
    inc: int


@dataclass(frozen=True)
class Regex:
    pattern: str
    flags: str = ""


@dataclass(frozen=True)
class Binary:
    data: bytes
    subtype: int = 0


class MinKey:
    def __repr__(self):
        return "MinKey()"


class MaxKey:
    def __repr__(self):
        return "MaxKey()"


# ---------------------------------------------------------------------------
# Encoding
# ---------------------------------------------------------------------------

def _cstring(s: str) -> bytes:
    b = s.encode("utf-8")
    if b"\x00" in b:
        raise ValueError("embedded null in key")
    return b + b"\x00"


def _encode_value(name: str, value) -> bytes:
    key = _cstring(name)
    if isinstance(value, bool):  # before int!
        return b"\x08" + key + (b"\x01" if value else b"\x00")
    if isinstance(value, float):
        return b"\x01" + key + struct.pack("<d", value)
    if isinstance(value, int):
        if -(2**31) <= value < 2**31:
            return b"\x10" + key + struct.pack("<i", value)
        return b"\x12" + key + struct.pack("<q", value)
    if isinstance(value, str):
        b = value.encode("utf-8") + b"\x00"
        return b"\x02" + key + struct.pack("<i", len(b)) + b
    if isinstance(value, dict):
        return b"\x03" + key + encode(value)
    if isinstance(value, (list, tuple)):
        inner = encode({str(i): v for i, v in enumerate(value)})
        return b"\x04" + key + inner
    if isinstance(value, Binary):
        return (b"\x05" + key + struct.pack("<i", len(value.data))
                + bytes([value.subtype]) + value.data)
    if isinstance(value, (bytes, bytearray)):
        return b"\x05" + key + struct.pack("<i", len(value)) + b"\x00" + bytes(value)
    if isinstance(value, ObjectId):
        return b"\x07" + key + value.raw
    if isinstance(value, _dt.datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=_UTC)
        # exact integer millis via timedelta — float .timestamp()*1000 can
        # round down a millisecond (e.g. .432 sec → 431.99997 ms)
        delta = value - _EPOCH
        millis = (delta.days * 86_400_000 + delta.seconds * 1000
                  + delta.microseconds // 1000)
        return b"\x09" + key + struct.pack("<q", millis)
    if value is None:
        return b"\x0a" + key
    if isinstance(value, Regex):
        return b"\x0b" + key + _cstring(value.pattern) + _cstring(value.flags)
    if isinstance(value, BsonTimestamp):
        return b"\x11" + key + struct.pack("<II", value.inc, value.time)
    if isinstance(value, MinKey):
        return b"\xff" + key
    if isinstance(value, MaxKey):
        return b"\x7f" + key
    raise TypeError(f"cannot encode {type(value).__name__}")


def encode(doc: dict) -> bytes:
    body = b"".join(_encode_value(k, v) for k, v in doc.items())
    return struct.pack("<i", len(body) + 5) + body + b"\x00"


# ---------------------------------------------------------------------------
# Decoding
# ---------------------------------------------------------------------------

_I32 = struct.Struct("<i").unpack_from
_I64 = struct.Struct("<q").unpack_from
_F64 = struct.Struct("<d").unpack_from
_TS = struct.Struct("<II").unpack_from
_TIMEDELTA = _dt.timedelta

# value widths for skipping an unread element: fixed-size tags...
_FIXED_WIDTH = {0x01: 8, 0x06: 0, 0x07: 12, 0x08: 1, 0x09: 8, 0x0A: 0,
                0x10: 4, 0x11: 8, 0x12: 8, 0x7F: 0, 0xFF: 0}
# ...and length-prefixed ones: (bytes the declared length leaves out,
# smallest valid declared length)
_PREFIXED = {0x02: (4, 1), 0x0E: (4, 1), 0x03: (0, 5), 0x04: (0, 5),
             0x05: (5, 0)}


def _read_cstring(data: bytes, pos: int) -> tuple[str, int]:
    end = data.index(b"\x00", pos)
    return data[pos:end].decode("utf-8"), end + 1


def _length(data: bytes, pos: int, smallest: int) -> int:
    (ln,) = _I32(data, pos)
    if ln < smallest:
        raise ValueError(f"corrupt BSON length {ln} at offset {pos}")
    return ln


def _decode_value(tag: int, data: bytes, pos: int):
    """Decode the value at ``pos``; embedded documents and arrays are read
    in place from ``data`` (no copy of their bytes)."""
    if tag == 0x01:
        return _F64(data, pos)[0], pos + 8
    if tag == 0x10:
        return _I32(data, pos)[0], pos + 4
    if tag == 0x02 or tag == 0x0E:  # string / symbol; _length inlined
        (ln,) = _I32(data, pos)
        if ln < 1:
            raise ValueError(f"corrupt BSON length {ln} at offset {pos}")
        return data[pos + 4 : pos + 3 + ln].decode("utf-8"), pos + 4 + ln
    if tag == 0x09:
        return _EPOCH + _TIMEDELTA(0, 0, 0, _I64(data, pos)[0]), pos + 8
    if tag == 0x03:
        ln = _length(data, pos, 5)
        return _decode_elements(data, pos + 4, pos + ln - 1, None), pos + ln
    if tag == 0x04:
        ln = _length(data, pos, 5)
        return _decode_array(data, pos + 4, pos + ln - 1), pos + ln
    if tag == 0x12:
        return _I64(data, pos)[0], pos + 8
    if tag == 0x07:
        return ObjectId(data[pos : pos + 12]), pos + 12
    if tag == 0x08:
        return data[pos] == 1, pos + 1
    if tag == 0x06 or tag == 0x0A:  # undefined / null
        return None, pos
    if tag == 0x05:
        ln = _length(data, pos, 0)
        subtype = data[pos + 4]
        raw = data[pos + 5 : pos + 5 + ln]
        return (raw if subtype == 0 else Binary(raw, subtype)), pos + 5 + ln
    if tag == 0x0B:
        pattern, pos = _read_cstring(data, pos)
        flags, pos = _read_cstring(data, pos)
        return Regex(pattern, flags), pos
    if tag == 0x11:
        inc, time = _TS(data, pos)
        return BsonTimestamp(time, inc), pos + 8
    if tag == 0xFF:
        return MinKey(), pos
    if tag == 0x7F:
        return MaxKey(), pos
    raise ValueError(f"unsupported BSON tag 0x{tag:02x}")


def _skip_value(tag: int, data: bytes, pos: int, end: int) -> int:
    """Offset just past the value at ``pos``, found from its tag's fixed
    width or its length prefix without decoding it.  A value that would
    run past ``end`` (its document's terminating NUL) is corrupt input."""
    width = _FIXED_WIDTH.get(tag)
    if width is not None:
        nxt = pos + width
    elif tag in _PREFIXED:
        if pos + 4 > end:
            raise ValueError(f"BSON element overruns its document at {pos}")
        before, smallest = _PREFIXED[tag]
        nxt = pos + before + _length(data, pos, smallest)
    elif tag == 0x0B:  # regex: pattern and flags cstrings
        nxt = data.index(b"\x00", data.index(b"\x00", pos, end) + 1, end) + 1
    else:
        raise ValueError(f"unsupported BSON tag 0x{tag:02x}")
    if nxt > end:
        raise ValueError(f"BSON element overruns its document at {pos}")
    return nxt


def _bad_end(pos: int, end: int):
    raise ValueError(f"BSON elements do not end at their document's "
                     f"terminator (offset {pos}, expected {end})")


def _decode_elements(data: bytes, pos: int, end: int, fields) -> dict:
    """Elements from ``pos`` up to the terminating NUL at ``end``; with
    ``fields`` (a set of UTF-8 key bytes) only matching keys are decoded
    and every other element is skipped."""
    out = {}
    while pos < end:
        tag = data[pos]
        kend = data.index(b"\x00", pos + 1, end)
        key = data[pos + 1 : kend]
        if fields is None or key in fields:
            value, pos = _decode_value(tag, data, kend + 1)
            out[key.decode("utf-8")] = value
        else:
            pos = _skip_value(tag, data, kend + 1, end)
    if pos != end or data[end]:
        _bad_end(pos, end)
    return out


def _decode_array(data: bytes, pos: int, end: int) -> list:
    """Array elements in order; their "0", "1", ... keys are skipped."""
    out = []
    append = out.append
    while pos < end:
        tag = data[pos]
        value, pos = _decode_value(tag, data, data.index(b"\x00", pos + 1, end) + 1)
        append(value)
    if pos != end or data[end]:
        _bad_end(pos, end)
    return out


def _key_set(fields) -> frozenset | None:
    return None if fields is None else frozenset(f.encode("utf-8") for f in fields)


def _decode_doc(data: bytes, keys) -> dict:
    (total,) = _I32(data, 0)
    if total < 5 or total > len(data):
        raise ValueError(f"corrupt BSON document length {total}")
    return _decode_elements(data, 4, total - 1, keys)


def decode(data: bytes, fields=None) -> dict:
    """Decode one BSON document.

    ``fields`` (top-level names) decodes only those keys: every other
    top-level element is skipped by its length prefix or fixed width, the
    way a server-side projection returns only projected fields.  Skipped
    elements are still checked to stay inside their document, and an
    unknown tag raises whether or not its field is wanted; the bytes of an
    unread string are not UTF-8-decoded, so invalid text there goes
    unnoticed, as it would under a server-side projection.
    """
    return _decode_doc(data, _key_set(fields))


def decode_file_iter(fobj: io.BufferedIOBase, start: int = 0,
                     length: int | None = None, fields=None):
    """Stream documents from a .bson file, optionally within a byte range
    (a split): reads from ``start`` until ``start+length`` (doc boundaries
    guaranteed by the splitter) or EOF.  ``fields`` narrows each document
    to those top-level names, as in :func:`decode`."""
    keys = _key_set(fields)
    fobj.seek(start)
    limit = None if length is None else start + length
    while True:
        if limit is not None and fobj.tell() >= limit:
            return
        header = fobj.read(4)
        if len(header) < 4:
            return
        (ln,) = struct.unpack("<i", header)
        body = fobj.read(ln - 4)
        if len(body) < ln - 4:
            raise ValueError("truncated BSON document")
        yield _decode_doc(header + body, keys)


# ---------------------------------------------------------------------------
# Compression codecs (gzip/bz2 mongodump archives)
#
# Reference parity: BSONFileRecordReader opens the file through the
# configured Hadoop CompressionCodec (BSONFileRecordReader.java:104-112) and
# BSONFileInputFormat refuses to byte-range-split compressed inputs
# (BSONFileInputFormat.java:45-60) — a compressed .bson is one split.
# ---------------------------------------------------------------------------

_CODEC_OPENERS = {".gz": gzip.open, ".bz2": bz2.open}


def compression_codec(path: str) -> str | None:
    """'gzip' / 'bz2' for codec-suffixed paths, else None."""
    ext = os.path.splitext(path)[1]
    if ext == ".gz":
        return "gzip"
    if ext == ".bz2":
        return "bz2"
    return None


def open_bson(path: str, mode: str = "rb"):
    """Open a .bson file for binary read/write, transparently decompressing
    / compressing by extension (.bson.gz → gzip, .bson.bz2 → bz2)."""
    opener = _CODEC_OPENERS.get(os.path.splitext(path)[1], open)
    return opener(path, mode)


def write_bson_file(path: str, docs) -> int:
    """Write documents to a mongorestore-compatible .bson file (compressed
    when the path carries a codec suffix); returns count."""
    n = 0
    with open_bson(path, "wb") as f:
        for d in docs:
            f.write(encode(d))
            n += 1
    return n


# ---------------------------------------------------------------------------
# Split planning over .bson files (BSONSplitter analog, P10)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class FileSplit:
    path: str
    start: int
    length: int | None  # None = to EOF (unsplittable compressed file)


def find_split_points(path: str, target_size: int) -> list[FileSplit]:
    """Walk length headers only (no body decode) and cut splits at the first
    document boundary at/after each multiple of ``target_size``.

    Compressed files are unsplittable (BSONFileInputFormat.java:45-60):
    one whole-file split, decoded sequentially through the codec stream.
    """
    if compression_codec(path):
        return [FileSplit(path, 0, None)]
    size = os.path.getsize(path)
    splits: list[FileSplit] = []
    with open(path, "rb") as f:
        split_start = 0
        pos = 0
        while pos < size:
            f.seek(pos)
            header = f.read(4)
            if len(header) < 4:
                break
            (ln,) = struct.unpack("<i", header)
            if ln < 5:
                raise ValueError(f"corrupt BSON length {ln} at offset {pos}")
            pos += ln
            if pos - split_start >= target_size:
                splits.append(FileSplit(path, split_start, pos - split_start))
                split_start = pos
        if pos > split_start:
            splits.append(FileSplit(path, split_start, pos - split_start))
    return splits


def sidecar_path(path: str) -> str:
    d, name = os.path.split(path)
    return os.path.join(d, f".{name}.splits")


def write_splits_sidecar(path: str, splits: list[FileSplit]) -> str:
    sc = sidecar_path(path)
    write_bson_file(sc, ({"s": s.start, "l": s.length} for s in splits))
    return sc


def read_splits_sidecar(path: str) -> list[FileSplit] | None:
    sc = sidecar_path(path)
    if not os.path.exists(sc):
        return None
    with open(sc, "rb") as f:
        return [FileSplit(path, d["s"], d["l"]) for d in decode_file_iter(f)]
