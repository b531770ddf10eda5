"""Output check: every frame sent must come out exactly once, correct.

Committed output frames are decoded with the package's reference decoder
(``codec.decode_py``) and matched by the frame's key against what the
generator sent. A frame counts as failed when it is missing, when it
arrives more than once (each extra copy counts), or when its headers
changed or its payload is not the uppercased input.
"""

from __future__ import annotations

import glob
import json
import os
import struct
from collections.abc import Callable, Iterable


def count_failures(
    expected: dict[str, tuple[dict, bytes]],
    outputs: Iterable[bytes],
    key_of: Callable[[dict, bytes], str | None],
) -> dict[str, int]:
    from kafka_stream_service_spark.codec import decode_py

    seen: dict[str, int] = {}  # deliveries per known key, right or wrong
    wrong = 0
    for value in outputs:
        try:
            headers, payload = decode_py(bytes(value))
        except (ValueError, IndexError, struct.error):
            wrong += 1
            continue
        key = key_of(headers, bytes(payload))
        if key in expected:
            seen[key] = seen.get(key, 0) + 1
        if expected.get(key) != (headers, bytes(payload)):
            wrong += 1
    missing = sum(1 for k in expected if k not in seen)
    duplicated = sum(c - 1 for c in seen.values())
    return {
        "sent": len(expected),
        "delivered": sum(seen.values()),
        "missing": missing,
        "duplicated": duplicated,
        "wrong": wrong,
        "failed": missing + duplicated + wrong,
    }


def committed_values(out_dir: str) -> dict[int, list[bytes]]:
    """epoch -> wire values of every epoch the eos writer's ledger lists.

    Directories of epochs missing from the ledger are in-flight or torn
    writes; the writer's contract makes them invisible, so they are not
    read."""
    import pyarrow.parquet as pq

    with open(os.path.join(out_dir, "_committed_epochs.json")) as f:
        epochs = json.load(f)
    out = {}
    for epoch in epochs:
        files = sorted(glob.glob(os.path.join(out_dir, f"batch_id={epoch}", "*.parquet")))
        out[epoch] = [v for fp in files for v in pq.read_table(fp, columns=["value"])["value"].to_pylist()]
    return out
