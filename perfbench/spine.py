"""The reference spine as the benchmark drives it.

Both workloads run ``pipeline.build_pipeline`` with the ``files`` source
(one producer file per trigger) into ``eos.ForeachBatchIdempotentWriter``
under ``foreachBatch``; the benchmark only wraps and times these public
calls from outside.

- ``run_open``: an open loop. A generator process publishes one file of
  frames per interval; the transform is ``transform.RemoteFunction``
  over ``h2-stdlib`` to the uppercase ``H2GrpcServer`` of
  ``fnserver.py``. Latency is a producer batch's due time to the return
  of the eos writer call of the epoch that carried it.
- ``run_drain``: a closed backlog. Pre-published files are drained with
  ``trigger(availableNow=True)`` through the in-process
  ``transform.uppercase_function``. Latency is an epoch's trigger start
  to the return of its eos writer call.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

from perfbench import check, wire
from perfbench.trace import median, quantile

HERE = os.path.dirname(os.path.abspath(__file__))

# spine_open's pinned schedule: one 500-frame producer batch every 1.5 s.
# One trigger of the spine costs about 0.6-0.7 s on 4 cores, so this
# offers under half the capacity of one file per trigger: a host that
# runs 1.5x slower for a while still does not build a backlog, which
# would turn the slow stretch into latency spikes.
OPEN_INTERVAL_S = 1.5
OPEN_FRAMES = 500
OPEN_WARM_BATCHES = 8

# spine_drain: a backlog of DRAIN_FRAMES-frame files, sized to the run
# length at DRAIN_FILES_PER_S files per measured second. One trigger of
# 40k frames takes about 1.7 s on 4 cores, so the drain about fills the
# run and gives latency_p90_ms enough triggers that the query's first,
# slowest one does not decide it.
DRAIN_FRAMES = 40_000
DRAIN_FILES_PER_S = 0.55

STREAM_TIMEOUT_S = 120.0


class InjectedFault(RuntimeError):
    """Raised by ``EpochSink`` once, after a chosen epoch has committed."""


class EpochSink:
    """The foreachBatch body: one ``ForeachBatchIdempotentWriter`` call per
    epoch, with its return time recorded (the latency end point)."""

    def __init__(self, writer, tracer, fail_after_epoch: int | None = None):
        self.writer = writer
        self.tracer = tracer
        self.fail_after_epoch = fail_after_epoch
        self.commits: dict[int, tuple[float, float]] = {}
        self.skipped = 0
        self.parent: int | None = None  # the span the epochs belong to

    def __call__(self, batch_df, epoch_id) -> None:
        epoch = int(epoch_id)
        t0 = time.time()
        if self.tracer.enabled and epoch in self.writer.committed_epochs():
            self.skipped += 1
        self.writer(batch_df, epoch)
        t1 = time.time()
        self.commits[epoch] = (t0, t1)
        self.tracer.add("eos.write", t0, t1, self.parent)
        if self.fail_after_epoch == epoch:
            self.fail_after_epoch = None
            raise InjectedFault(f"injected after epoch {epoch} committed")


class TimedFn:
    """Executor-side wrapper around the MessageFunction the pipeline runs:
    adds (start, end, rows) per batch to a list accumulator."""

    def __init__(self, fn, acc):
        self.fn = fn
        self.acc = acc

    def __call__(self, batch):
        t0 = time.time()
        out = self.fn(batch)
        self.acc.add([(t0, time.time(), len(batch))])
        return out


def list_accumulator(spark):
    from pyspark.accumulators import AccumulatorParam

    class ListParam(AccumulatorParam):
        def zero(self, value):
            return []

        def addInPlace(self, a, b):
            a.extend(b)
            return a

    return spark.sparkContext.accumulator([], ListParam())


def start_spine(spark, src: str, work: str, name: str, fn, sink, available_now: bool):
    from kafka_stream_service_spark.pipeline import PipelineConfig, build_pipeline

    out = build_pipeline(spark, PipelineConfig(source="files", source_path=src), fn)
    writer = out.writeStream.foreachBatch(sink).option(
        "checkpointLocation", os.path.join(work, f"ckpt-{name}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def progress_layers(progress: list, epochs: set[int]) -> dict[str, float]:
    """Per-trigger phases and decode_stage's observed counts over ``epochs``."""
    rows = [p for p in progress if p["batchId"] in epochs]
    phases = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
              "commitOffsets", "triggerExecution")
    out: dict[str, float] = {
        "pipeline.triggers": len(rows),
        "pipeline.rows_per_trigger": median([p["numInputRows"] for p in rows]),
    }
    for ph in phases:
        out[f"pipeline.trigger_ms.{ph}"] = median([p["durationMs"].get(ph, 0) for p in rows])
    decoded = [p["observedMetrics"].get("decoded") for p in rows if p["observedMetrics"]]
    out["pipeline.decoded_records"] = sum(d["n_records"] for d in decoded if d)
    out["pipeline.wire_bytes"] = sum(d["wire_bytes"] for d in decoded if d)
    return out


def codec_layers(frames: list[tuple[str, dict, bytes]], chunk: int) -> dict[str, float]:
    """Time the codec's cached paths on a sample of the workload's own
    frames, with a fresh cache per ``chunk`` frames as the pipeline's
    pandas UDFs have one per Arrow batch."""
    from kafka_stream_service_spark.codec import decode_with_prefix_cache, encode_with_prefix_cache

    values = [wire.encode(h, p) for _, h, p in frames]
    decoded, misses, dec_s = [], 0, 0.0
    for lo in range(0, len(values), chunk):
        cache: dict = {}
        t0 = time.perf_counter()
        part = [decode_with_prefix_cache(v, cache) for v in values[lo : lo + chunk]]
        dec_s += time.perf_counter() - t0
        misses += len(cache)  # one entry per miss: a chunk never fills the cache
        decoded.extend(part)
    enc_s = 0.0
    for lo in range(0, len(decoded), chunk):
        cache = {}
        t0 = time.perf_counter()
        for h, p in decoded[lo : lo + chunk]:
            encode_with_prefix_cache(h, p, cache)
        enc_s += time.perf_counter() - t0
    n = len(values)
    return {
        "codec.decode_us_per_msg": dec_s / n * 1e6,
        "codec.encode_us_per_msg": enc_s / n * 1e6,
        "codec.prefix_cache_hit_ratio": (n - misses) / n,
    }


def fn_layers(calls: list, eos_spans: list[dict], tracer) -> dict[str, float]:
    """transform.* from the executor accumulator; each call becomes a span
    under the eos write that contains it."""
    for t0, t1, _ in calls:
        parent = next((s["id"] for s in eos_spans if s["start"] <= t0 and t1 <= s["end"]), None)
        tracer.add("transform.fn", t0, t1, parent)
    return {
        "transform.fn_s": sum(t1 - t0 for t0, t1, _ in calls),
        "transform.batches": len(calls),
        "transform.rows_per_batch": median([r for _, _, r in calls]),
    }


def eos_layers(sink: EpochSink, epochs: set[int], out_dir: str) -> dict[str, float]:
    ms = [(sink.commits[e][1] - sink.commits[e][0]) * 1000 for e in epochs]
    written = 0
    for e in epochs:
        d = os.path.join(out_dir, f"batch_id={e}")
        written += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
    return {
        "eos.commit_ms_p50": median(ms),
        "eos.commit_ms_max": max(ms),
        "eos.epochs": len(epochs),
        "eos.epochs_skipped": sink.skipped,
        "eos.bytes_written": written,
    }


def _wait(pred, deadline: float, what: str) -> None:
    while not pred():
        if time.time() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.01)


class FnServer:
    """The function server process: started, queried for stats, stopped."""

    def __init__(self, env: dict):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "fnserver.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, env=env,
        )

    def port(self) -> int:
        return int(self.proc.stdout.readline())

    def stats(self) -> dict:
        self.proc.stdin.write("stats\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def close(self) -> None:
        if self.proc.stdin and not self.proc.stdin.closed:
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def run_open(ctx) -> dict:
    from kafka_stream_service_spark.eos import ForeachBatchIdempotentWriter
    from kafka_stream_service_spark.transform import FunctionConfig, RemoteFunction

    tr = ctx.tracer
    src = os.path.join(ctx.work, "src")
    out_dir = os.path.join(ctx.work, "out")
    os.makedirs(src)
    sent: list = []
    with tr.span("setup"):
        with tr.span("fnserver.start"):
            server = FnServer(ctx.env)
        ctx.closers.append(server.close)
        ctx.start_session()
        with tr.span("warmup"):
            remote = RemoteFunction(
                FunctionConfig(host="127.0.0.1", port=server.port(), transport="h2-stdlib")
            )
            fn = TimedFn(remote, list_accumulator(ctx.spark)) if tr.enabled else remote
            sink = EpochSink(ForeachBatchIdempotentWriter(out_dir), tr)
            with tr.span("query.start"):
                query = start_spine(ctx.spark, src, ctx.work, "open", fn, sink, False)
            ctx.closers.append(query.stop)
            # warm batches go one at a time: the first trigger is the cold one
            for b in range(OPEN_WARM_BATCHES):
                frames = wire.open_batch(ctx.seed, b, OPEN_FRAMES, time.time())
                wire.write_frames(os.path.join(src, f"batch-{b:06d}.parquet"), frames)
                sent.extend(frames)
                _wait(lambda: len(sink.commits) > b, time.time() + STREAM_TIMEOUT_S, "warm-up")
    ctx.setup_done()

    n = max(1, int(round(ctx.seconds / OPEN_INTERVAL_S)))
    start = time.time() + 1.0  # the generator process is up well within this
    measure_t0 = time.time()
    srv0 = server.stats() if tr.enabled else None
    with tr.span("measure") as span:
        sink.parent = span and span["id"]
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "generator.py"), "--out", src,
             "--seed", str(ctx.seed), "--start", repr(start), "--interval", repr(OPEN_INTERVAL_S),
             "--batches", str(n), "--frames", str(OPEN_FRAMES), "--first", str(OPEN_WARM_BATCHES)],
            stdout=subprocess.PIPE, text=True, env=ctx.env,
        )
        try:
            manifest = [json.loads(line) for line in gen.stdout]
        finally:
            gen.stdout.close()
            gen.wait()
        if gen.returncode != 0 or len(manifest) != n:
            raise RuntimeError(f"generator failed (exit {gen.returncode}, {len(manifest)}/{n})")
        total = OPEN_WARM_BATCHES + n
        _wait(lambda: len(sink.commits) >= total, time.time() + STREAM_TIMEOUT_S, "the stream")
    measure_t1 = time.time()
    # an epoch's progress report lands after its sink call returns
    last = max(sink.commits)
    _wait(
        lambda: (query.lastProgress or {"batchId": -1})["batchId"] >= last,
        time.time() + 10, "the last progress report",
    )
    progress = list(query.recentProgress)
    query.stop()
    for m in manifest:
        sent.extend(wire.open_batch(ctx.seed, m["batch"], OPEN_FRAMES, m["due"]))

    with tr.span("verify"):
        by_epoch = check.committed_values(out_dir)
        verdict = check.count_failures(
            wire.expected(sent), (v for vs in by_epoch.values() for v in vs), wire.open_key
        )
        # which producer batch each epoch carried
        from kafka_stream_service_spark.codec import decode_py

        epoch_of: dict[int, int] = {}
        for epoch, values in by_epoch.items():
            for v in values[:1] + values[-1:]:
                epoch_of[int(decode_py(v)[0]["batch"][0])] = epoch
    trigger_start = {p["batchId"]: _ts(p["timestamp"]) for p in progress}
    measured = [m for m in manifest if m["batch"] in epoch_of]
    lat = [(sink.commits[epoch_of[m["batch"]]][1] - m["due"]) * 1000 for m in measured]
    last_commit = max(sink.commits[epoch_of[m["batch"]]][1] for m in measured)
    result = {
        "verdict": verdict,
        "e2e": {
            "latency_p50_ms": quantile(lat, 50),
            "latency_p90_ms": quantile(lat, 90),
            "msgs_per_s": len(measured) * OPEN_FRAMES / (last_commit - manifest[0]["due"]),
        },
        "samples": len(lat),
    }
    if not tr.enabled:
        return result

    epochs = {epoch_of[m["batch"]] for m in measured}
    lag = [(trigger_start[epoch_of[m["batch"]]] - m["published"]) * 1000 for m in measured]
    events = sorted(
        [(m["published"], 1) for m in measured]
        + [(trigger_start[epoch_of[m["batch"]]], -1) for m in measured]
    )
    backlog = peak = 0
    for _, d in events:
        backlog += d
        peak = max(peak, backlog)
    calls = [c for c in fn.acc.value if c[0] >= measure_t0]
    eos_spans = [s for s in tr.spans if s["name"] == "eos.write" and s["start"] >= measure_t0]
    layers = {
        "sources.lag_p50_ms": quantile(lag, 50),
        "sources.lag_p90_ms": quantile(lag, 90),
        "sources.backlog_files_max": peak,
        "generator.late_ms_p99": quantile([(m["published"] - m["due"]) * 1000 for m in manifest], 99),
        **progress_layers(progress, epochs),
        **fn_layers(calls, eos_spans, tr),
        **eos_layers(sink, epochs, out_dir),
    }
    handler_s = server.stats()["handler_s"] - srv0["handler_s"]
    call_s = layers["transform.fn_s"]  # the transform is the RemoteFunction call
    layers.update({
        "grpc_function.call_s": call_s,
        "h2grpc.handler_s": handler_s,
        "h2grpc.transport_s": call_s - handler_s,
        "fnserver.peak_threads": server.stats()["peak_threads"],
    })
    result["counts_ok"] = layers["pipeline.decoded_records"] == len(measured) * OPEN_FRAMES
    with tr.span("codec.sample"):
        sample = [f for m in manifest[:10] for f in wire.open_batch(ctx.seed, m["batch"], OPEN_FRAMES, m["due"])]
        layers.update(codec_layers(sample, OPEN_FRAMES))
    result["window"] = (measure_t0, measure_t1)
    result["layers"] = layers
    return result


def publish_backlog(src: str, seed: int, files: int, frames: int, first: int = 0) -> list:
    os.makedirs(src, exist_ok=True)
    sent = []
    for i in range(first, first + files):
        batch = wire.drain_file(seed, i, frames)
        wire.write_frames(os.path.join(src, f"part-{i:06d}.parquet"), batch)
        sent.extend(batch)
    return sent


def run_drain(ctx) -> dict:
    from kafka_stream_service_spark.eos import ForeachBatchIdempotentWriter
    from kafka_stream_service_spark.transform import uppercase_function

    tr = ctx.tracer
    n_files = max(2, int(round(ctx.seconds * DRAIN_FILES_PER_S)))
    src = os.path.join(ctx.work, "src")
    warm_src = os.path.join(ctx.work, "warm-src")
    with tr.span("setup"):
        # the backlog is written while the JVM starts; the warm-up files are
        # full-size, so the measured drain's first trigger is not the first
        # to run the pipeline at that batch size, and their sequence numbers
        # lie past the backlog's
        with ThreadPoolExecutor(1) as pool:
            backlog = pool.submit(publish_backlog, src, ctx.seed, n_files, DRAIN_FRAMES)
            warm = pool.submit(publish_backlog, warm_src, ctx.seed, 2, DRAIN_FRAMES, 10 * n_files)
            ctx.start_session()
            with tr.span("fixtures"):
                sent = backlog.result()
                warm.result()
        fn = TimedFn(uppercase_function, list_accumulator(ctx.spark)) if tr.enabled else uppercase_function
        with tr.span("warmup"):
            warm_sink = EpochSink(ForeachBatchIdempotentWriter(os.path.join(ctx.work, "warm-out")), tr)
            start_spine(ctx.spark, warm_src, ctx.work, "warm", fn, warm_sink, True).awaitTermination(
                STREAM_TIMEOUT_S
            )
    ctx.setup_done()

    out_dir = os.path.join(ctx.work, "out")
    sink = EpochSink(ForeachBatchIdempotentWriter(out_dir), tr)
    measure_t0 = time.time()
    with tr.span("measure") as span:
        sink.parent = span and span["id"]
        query = start_spine(ctx.spark, src, ctx.work, "drain", fn, sink, True)
        ctx.closers.append(query.stop)
        if not query.awaitTermination(STREAM_TIMEOUT_S):
            raise TimeoutError("the drain did not finish")
    measure_t1 = time.time()
    progress = list(query.recentProgress)

    with tr.span("verify"):
        by_epoch = check.committed_values(out_dir)
        verdict = check.count_failures(
            wire.expected(sent), (v for vs in by_epoch.values() for v in vs), wire.drain_key
        )
    trigger_start = {p["batchId"]: _ts(p["timestamp"]) for p in progress}
    epochs = set(by_epoch) & set(trigger_start)
    lat = [(sink.commits[e][1] - trigger_start[e]) * 1000 for e in epochs]
    result = {
        "verdict": verdict,
        "e2e": {
            "latency_p50_ms": quantile(lat, 50),
            "latency_p90_ms": quantile(lat, 90),
            "msgs_per_s": len(sent) / (measure_t1 - measure_t0),
        },
        "samples": len(lat),
    }
    if not tr.enabled:
        return result
    calls = [c for c in fn.acc.value if c[0] >= measure_t0]
    eos_spans = [s for s in tr.spans if s["name"] == "eos.write" and s["start"] >= measure_t0]
    # every backlog file became visible to the stream when the drain started
    lag = [(trigger_start[e] - measure_t0) * 1000 for e in epochs]
    layers = {
        "sources.lag_p50_ms": quantile(lag, 50),
        "sources.lag_p90_ms": quantile(lag, 90),
        "sources.backlog_files_max": n_files,
        "generator.late_ms_p99": 0.0,
        **progress_layers(progress, epochs),
        **fn_layers(calls, eos_spans, tr),
        **eos_layers(sink, epochs, out_dir),
        "grpc_function.call_s": 0.0,
        "h2grpc.handler_s": 0.0,
        "h2grpc.transport_s": 0.0,
        "fnserver.peak_threads": 0,
    }
    result["counts_ok"] = layers["pipeline.decoded_records"] == len(sent)
    with tr.span("codec.sample"):
        layers.update(codec_layers(sent[:20_000], 10_000))
    result["window"] = (measure_t0, measure_t1)
    result["layers"] = layers
    return result
