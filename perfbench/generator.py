"""Open-loop producer for ``spine_open``: a process of its own, one thread.

Publishes producer batch ``i`` (one parquet file of frames) at
``start + i * interval`` whether or not the stream has caught up. Each
file is written under a hidden name ahead of its due time and renamed
into the source directory when it falls due, so the stream never sees a
partial file. Prints one JSON line per batch to stdout:
``{"batch", "due", "published"}``; ``published - due`` is how late the
generator ran.

Run: ``python perfbench/generator.py --out DIR --seed N --start T
--interval S --batches K --frames M --first B``
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import wire  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--batches", type=int, required=True)
    ap.add_argument("--frames", type=int, required=True)
    ap.add_argument("--first", type=int, default=0)
    a = ap.parse_args()
    for i in range(a.batches):
        batch = a.first + i
        due = a.start + i * a.interval
        frames = wire.open_batch(a.seed, batch, a.frames, due)
        path = os.path.join(a.out, f"batch-{batch:06d}.parquet")
        staged = os.path.join(a.out, f".batch-{batch:06d}.staged")
        wire.write_frames(staged, frames)
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(staged, path)
        print(json.dumps({"batch": batch, "due": due, "published": time.time()}), flush=True)


if __name__ == "__main__":
    main()
