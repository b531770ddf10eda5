"""The reference Message framing codec, Spark-native.

Wire format (re-derived from the reference's behavior —
MessageDeserializer.java:49-70 / MessageSerializer.java:42-74, see
SURVEY.md §1.2):

    byte 0        : 0xff start marker
    byte 1        : header count (signed byte => <= 127 headers)
    per header    : 1 length byte, name bytes (<= 127),
                    4-byte big-endian value-blob length,
                    value blob = JSON array of strings (UTF-8)
    rest          : opaque payload bytes

The codec runs as Arrow-batched pandas UDFs (`encode_message` /
`decode_message`) so the per-record Python cost is amortized per batch; the
pure-Python `encode_py` / `decode_py` pair is the single source of truth
and what the unit tests golden-check against the reference's round-trip
test (MessageSerializerTests.java:37-49).
"""

from __future__ import annotations

import json
import struct
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import MESSAGE_SCHEMA

__all__ = ["encode_py", "decode_py", "encode_message", "decode_message"]


def encode_py(headers: dict[str, list[str]] | None, payload: bytes | None) -> bytes:
    """Message -> wire bytes (mirror of MessageSerializer.java:42-74)."""
    headers = headers or {}
    payload = payload or b""
    if len(headers) > 127:
        raise ValueError(f"too many headers ({len(headers)} > 127)")
    out = bytearray()
    out.append(0xFF)
    out.append(len(headers))
    for name, values in headers.items():
        name_b = name.encode("utf-8")
        if len(name_b) > 127:
            raise ValueError(f"header name too long ({len(name_b)} > 127): {name!r}")
        blob = _dump_header_blob(tuple(values))
        out.append(len(name_b))
        out += name_b
        out += struct.pack(">i", len(blob))
        out += blob
    out += payload
    return bytes(out)


# Header blobs repeat heavily in real streams (a handful of header shapes
# across millions of records), so the JSON work — the per-record hot cost
# on both sides of the codec — is memoized. Keys are hashable (tuples /
# bytes); the caches are per-python-worker.
@lru_cache(maxsize=4096)
def _dump_header_blob(values: tuple) -> bytes:
    # JSON array of strings, compact separators (no spaces) to match the
    # reference's Gson output
    return json.dumps(list(values), separators=(",", ":"), ensure_ascii=False).encode("utf-8")


@lru_cache(maxsize=4096)
def _parse_header_blob(blob: bytes) -> tuple:
    return tuple(str(v) for v in json.loads(blob.decode("utf-8")))


def decode_py(data: bytes) -> tuple[dict[str, list[str]], bytes]:
    """Wire bytes -> (headers, payload) (mirror of MessageDeserializer.java:49-70)."""
    if not data or data[0] != 0xFF:
        raise ValueError("bad wire format: missing 0xff start marker")
    n_headers = data[1]
    pos = 2
    headers: dict[str, list[str]] = {}
    for _ in range(n_headers):
        name_len = data[pos]
        pos += 1
        name = data[pos : pos + name_len].decode("utf-8")
        pos += name_len
        (blob_len,) = struct.unpack(">i", data[pos : pos + 4])
        pos += 4
        headers[name] = list(_parse_header_blob(bytes(data[pos : pos + blob_len])))
        pos += blob_len
    return headers, data[pos:]


# Past this many distinct header sections (decode) or header sets
# (encode) a prefix cache stops growing and later shapes take the plain
# path, so a stream of unique headers costs a bounded amount of memory
# however long the cache lives.
PREFIX_CACHE_MAX = 1024

_unpack_i32 = struct.Struct(">i").unpack_from


def _shared_read_only(*_args, **_kwargs):
    raise TypeError(
        "decoded headers are shared by every frame with the same header "
        "section; build new headers (e.g. {k: list(v) for k, v in h.items()}) "
        "instead of changing them in place"
    )


class _SharedValues(list):
    """A header's values as handed out by ``decode_with_prefix_cache``:
    equal to (and a) ``list``, but every in-place change raises."""

    __slots__ = ()
    __setitem__ = __delitem__ = __iadd__ = __imul__ = _shared_read_only
    append = extend = insert = pop = remove = clear = sort = reverse = _shared_read_only

    def __reduce__(self):  # copies and pickles are plain, mutable lists
        return list, (list(self),)


class SharedHeaders(dict):
    """Decoded headers shared by every frame with the same wire header
    section. Equal to (and a) ``dict``, so Arrow, JSON and comparisons
    see plain headers, but every in-place change of the mapping or of a
    value list raises ``TypeError``: a function that edited one frame's
    headers in place would otherwise rewrite every other frame (and later
    batch) of that shape. Copies (``copy.deepcopy``, pickling) are plain
    dicts of plain lists; ``dict(h)`` is a plain dict of read-only lists.

    ``key`` is the headers' hashable form, computed once per shape, so
    ``encode_with_prefix_cache`` need not rebuild it per frame. Numpy
    probes each element of a list it converts for array interfaces,
    which costs microseconds per element for a dict subclass: build
    object columns of these with ``np.fromiter`` instead.
    """

    __slots__ = ("key",)
    __setitem__ = __delitem__ = __ior__ = _shared_read_only
    update = setdefault = pop = popitem = clear = _shared_read_only

    def __reduce__(self):
        return dict, ({k: list(v) for k, v in self.items()},)


def _headers_key(headers) -> tuple:
    return tuple((k, tuple(v)) for k, v in headers.items())


def _header_section_end(data: bytes) -> int:
    """Offset of the payload: the header section's length fields walked
    without parsing any name or value."""
    pos = 2
    for _ in range(data[1]):
        pos += 1 + data[pos]
        pos += 4 + _unpack_i32(data, pos)[0]
    return pos


def decode_with_prefix_cache(data: bytes, cache: dict) -> tuple[dict[str, list[str]], bytes]:
    """Decode one message, memoizing parsed headers per distinct wire
    PREFIX (marker + header section) — the decode-side mirror of
    ``encode_with_prefix_cache``. Real streams carry a handful of header
    shapes across millions of records; after the first full parse of a
    shape, a frame decodes as a walk over its length fields, one dict
    lookup and a payload slice, so a miss costs the same lookup on top
    of the parse whatever the cache holds.

    Safety: a header section parses UNIQUELY — the count byte and the
    per-header length fields delimit it — so the walk finds the same end
    ``decode_py`` would, and a cached prefix equal to ``data[:end]``
    holds exactly that frame's headers. A frame that does not walk (bad
    marker, truncated) misses and raises from ``decode_py`` as before.
    The returned headers are a ``SharedHeaders`` object, the same one for
    every frame with the same prefix; changing it in place raises.
    """
    if len(data) > 1 and data[0] == 0xFF:
        try:
            end = _header_section_end(data)
            hdrs = cache.get(data[:end])
        except (IndexError, struct.error):
            hdrs = None
        if hdrs is not None:
            return hdrs, data[end:]
    h, p = decode_py(data)
    hdrs = SharedHeaders({k: _SharedValues(v) for k, v in h.items()})
    hdrs.key = _headers_key(h)
    if len(cache) < PREFIX_CACHE_MAX:
        cache[data[: len(data) - len(p)]] = hdrs
    return hdrs, p


def encode_with_prefix_cache(headers, payload, cache: dict) -> bytes:
    """Encode one message, memoizing the wire prefix (marker + header
    section) per distinct header set — the prefix is a pure function of
    the headers, which repeat across records, so only the payload concat
    runs per record. SINGLE implementation shared by the staged
    `encode_message` UDF and the fused pipeline: the byte-parity
    contract between them depends on this being one code path. The
    cache holds at most ``PREFIX_CACHE_MAX`` header sets."""
    key = headers.key if type(headers) is SharedHeaders else _headers_key(headers or {})
    prefix = cache.get(key)
    if prefix is None:
        prefix = encode_py(headers, b"")
        if len(cache) < PREFIX_CACHE_MAX:
            cache[key] = prefix
    return prefix + (bytes(payload) if payload is not None else b"")


@F.pandas_udf(T.BinaryType())
def encode_message(msg: pd.DataFrame) -> pd.Series:
    """struct<headers map<string,array<string>>, payload binary> -> binary."""
    cache: dict[tuple, bytes] = {}
    return pd.Series(
        [encode_with_prefix_cache(h, p, cache) for h, p in zip(msg["headers"], msg["payload"])]
    )


@F.pandas_udf(MESSAGE_SCHEMA)
def decode_message(value: pd.Series) -> pd.DataFrame:
    """binary (wire format) -> struct<headers, payload>."""
    cache: dict[bytes, dict] = {}
    decoded = [decode_with_prefix_cache(bytes(data), cache) for data in value]
    return pd.DataFrame(
        {
            "headers": np.fromiter((h for h, _ in decoded), object, len(decoded)),
            "payload": [p for _, p in decoded],
        }
    )


# struct<headers, payload, error string> — the lenient decode shape
# (a StructType, not a DDL string: pandas_udf decorators at import time
# have no active session to parse DDL with)
MESSAGE_SCHEMA_LENIENT = T.StructType(
    list(MESSAGE_SCHEMA.fields) + [T.StructField("error", T.StringType())]
)


@F.pandas_udf(MESSAGE_SCHEMA_LENIENT)
def decode_message_lenient(value: pd.Series) -> pd.DataFrame:
    """binary -> struct<headers, payload, error> that never throws.

    The reference deserializer raises on a malformed frame
    (MessageDeserializer.java:52 asserts the 0xff marker), which kills
    the whole stream — and a DETERMINISTIC poison message would then
    trap the R14 restart loop in an infinite crash cycle. The
    production-grade behavior at scale is a dead-letter lane: decode
    failures become (null, null, error-string) rows the pipeline routes
    to a DLQ sink while good rows flow on (see
    pipeline.run_pipeline_with_dlq). ``error`` is NULL on success, so
    filtering is a plain column predicate.
    """
    headers, payloads, errors = [], [], []
    for data in value:
        try:
            h, p = decode_py(bytes(data) if data is not None else b"")
            headers.append(h)
            payloads.append(p)
            errors.append(None)
        except Exception as exc:  # malformed frame — capture, don't crash
            headers.append(None)
            payloads.append(None)
            errors.append(f"{type(exc).__name__}: {exc}")
    return pd.DataFrame({"headers": headers, "payload": payloads, "error": errors})


def message_struct(headers: Column, payload: Column) -> Column:
    """Build a Message struct column from headers + payload columns."""
    return F.struct(headers.alias("headers"), payload.alias("payload"))
