"""The external function for ``spine_open``: an uppercase riff function
served by ``h2grpc.H2GrpcServer`` in a process of its own.

Prints its port on the first stdout line, then answers each ``stats``
line on stdin with one JSON line:

- ``handler_s``: time spent inside the handler's per-message work
  (proto decode, uppercase, proto encode), excluding the wait for
  request bytes;
- ``messages`` / ``calls``: messages and streams served;
- ``peak_threads``: the most server threads alive at once (connection
  and stream threads, not counting the main and accept threads).

A call that would run the server past ``nproc`` threads fails with a
gRPC error, so the benchmark cannot silently oversubscribe the host.
Closes the server and exits when stdin closes.

Run: ``python perfbench/fnserver.py``
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_stream_service_spark.grpc_function import (  # noqa: E402
    pb_decode_message,
    pb_encode_message,
)
from kafka_stream_service_spark.h2grpc import H2GrpcServer  # noqa: E402


class UppercaseHandler:
    def __init__(self, max_threads: int):
        self.max_threads = max_threads
        self.lock = threading.Lock()
        self.handler_s = 0.0
        self.messages = 0
        self.calls = 0
        self.peak_threads = 0

    def __call__(self, requests):
        live = threading.active_count() - 2  # main + accept loop
        with self.lock:
            self.calls += 1
            self.peak_threads = max(self.peak_threads, live)
        if live > self.max_threads:
            raise RuntimeError(f"{live} server threads exceed nproc={self.max_threads}")
        busy, n = 0.0, 0
        for raw in requests:
            t0 = time.perf_counter()
            headers, payload = pb_decode_message(raw)
            out = pb_encode_message(headers, payload.decode("utf-8").upper().encode("utf-8"))
            busy += time.perf_counter() - t0
            n += 1
            yield out
        with self.lock:
            self.handler_s += busy
            self.messages += n

    def stats(self) -> dict:
        with self.lock:
            return {
                "handler_s": self.handler_s,
                "messages": self.messages,
                "calls": self.calls,
                "peak_threads": self.peak_threads,
            }


def main() -> None:
    handler = UppercaseHandler(len(os.sched_getaffinity(0)))
    server = H2GrpcServer(handler)
    try:
        print(server.port, flush=True)
        for line in sys.stdin:
            if line.strip() == "stats":
                print(json.dumps(handler.stats()), flush=True)
    finally:
        server.close()


if __name__ == "__main__":
    main()
