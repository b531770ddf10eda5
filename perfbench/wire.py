"""Deterministic benchmark inputs in the reference wire format.

The encoder here is written from the wire spec (marker 0xff, header
count, per header: name length, name, 4-byte big-endian blob length,
compact JSON array of strings; then the payload), not imported from the
package, so the benchmark's inputs do not depend on the code it checks.

Every frame carries a unique key that survives the transform:

- ``spine_open`` frames carry a ``correlationId`` header (unique per
  frame, so no two frames share a header prefix) and the time the frame
  was due to be published;
- ``spine_drain`` frames draw their headers from a handful of shapes and
  carry a zero-padded sequence number as the payload's first word.

The transform under test uppercases the payload, so the expected output
of a frame is its headers unchanged and its payload ``.upper()``-ed.
"""

from __future__ import annotations

import json
import os
import random
import struct
from functools import lru_cache

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "alpha beta gamma delta stream frame epoch commit offset topic partition "
    "record header payload broker replica leader follower batch trigger sink "
    "source decode encode function server client latency backlog drain "
    "café naïve straße señor über"
).split()

DRAIN_SHAPES = (
    {"type": ["click"], "source": ["web"]},
    {"type": ["view"], "source": ["ios"], "contentType": ["text/plain"]},
    {"type": ["purchase"], "source": ["android"], "region": ["eu-west", "eu-north"]},
    {"type": ["search"]},
    {"type": ["click"], "source": ["ios"], "retries": ["0"]},
    {"type": ["scroll"], "source": ["web"], "contentType": ["text/plain"], "ab": ["b"]},
)


def encode(headers: dict[str, list[str]], payload: bytes) -> bytes:
    out = bytearray((0xFF, len(headers)))
    for name, values in headers.items():
        name_b = name.encode("utf-8")
        blob = _blob(tuple(values))
        out.append(len(name_b))
        out += name_b
        out += struct.pack(">i", len(blob))
        out += blob
    return bytes(out) + payload


@lru_cache(maxsize=4096)
def _blob(values: tuple) -> bytes:
    return json.dumps(list(values), separators=(",", ":"), ensure_ascii=False).encode("utf-8")


def _text(rng: random.Random) -> str:
    return " ".join(rng.choices(VOCAB, k=rng.randint(6, 20)))


def open_batch(seed: int, batch: int, n: int, due: float) -> list[tuple[str, dict, bytes]]:
    """One producer batch of ``spine_open``: (key, headers, payload) per frame."""
    rng = random.Random(f"open:{seed}:{batch}")
    out = []
    for i in range(n):
        key = f"{seed}-{batch}-{i}"
        headers = {"correlationId": [key], "dueAt": [repr(due)], "batch": [str(batch)]}
        out.append((key, headers, _text(rng).encode("utf-8")))
    return out


def drain_file(seed: int, file_no: int, n: int) -> list[tuple[str, dict, bytes]]:
    """One pre-published ``spine_drain`` file: (key, headers, payload) per frame."""
    rng = random.Random(f"drain:{seed}:{file_no}")
    out = []
    for i in range(n):
        key = f"{file_no * n + i:09d}"
        headers = DRAIN_SHAPES[rng.randrange(len(DRAIN_SHAPES))]
        out.append((key, headers, f"{key} {_text(rng)}".encode("utf-8")))
    return out


def write_frames(path: str, frames: list[tuple[str, dict, bytes]]) -> None:
    """Write frames as a (key binary, value binary) parquet file, atomically:
    the file is written under a hidden name (which the file source skips)
    and renamed into place."""
    values = [encode(h, p) for _, h, p in frames]
    table = pa.table(
        {
            "key": pa.array([None] * len(values), pa.binary()),
            "value": pa.array(values, pa.binary()),
        }
    )
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def expected(frames: list[tuple[str, dict, bytes]]) -> dict[str, tuple[dict, bytes]]:
    """key -> (headers, payload) the transform must deliver for each frame."""
    return {k: (h, p.decode("utf-8").upper().encode("utf-8")) for k, h, p in frames}


def open_key(headers: dict, payload: bytes) -> str | None:
    values = headers.get("correlationId")
    return values[0] if values else None


def drain_key(headers: dict, payload: bytes) -> str | None:
    head = payload[:9]
    return head.decode("ascii") if head.isdigit() else None
