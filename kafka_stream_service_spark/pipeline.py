"""The streaming spine: source -> decode -> function -> encode -> sink.

This is the reference's entire dataflow (StreamsApplication.java:146-163)
as a Spark pipeline:

    Kafka/file source (R1-R5)
      -> `decoded` observe tap on the source frames (R17)
      -> project to `value`, then ONE mapInPandas:
           decode (R6-R7) -> function slot / identity bypass (R8-R9)
           -> encode (R10-R11), null key
      -> sink: Kafka at-least-once, or foreachBatch exactly-once (R12)

The per-record steps run fused, as the reference pipelines them: wire
bytes enter the Python worker once and leave once, and the
``map<string,array<string>>`` headers never cross Arrow.
``run_pipeline_batch`` is that one stage, for streaming and bounded
frames alike. ``decode_stage``, ``transform_messages`` and
``encode_stage`` stay as building blocks for frames that need the
decoded Message columns (the dead-letter pipeline, joins on headers).

Ordering semantics delta (documented, SURVEY.md §7 "What's hard" #2): the
reference is globally ordered (single thread + sequential concatMap); Spark
preserves order per Kafka partition and parallelizes across partitions —
the intentional scale upgrade.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .codec import (
    decode_message,
    decode_with_prefix_cache,
    encode_message,
    encode_with_prefix_cache,
)
from .eos import ForeachBatchIdempotentWriter, kafka_transactional_batch_writer
from .sources import stream_file_source, stream_kafka_source, write_kafka_sink, write_memory_sink
from .transform import FunctionConfig, MessageFunction, transform_messages


@dataclass
class PipelineConfig:
    """Boot configuration — the Spark analog of the reference's Spring
    config surface (grpc.host/port/enabled + spring.kafka.bootstrap-servers,
    StreamsApplication.java:42-64, streams.yaml:27-28)."""

    source: str = "kafka"  # kafka | files
    sink: str = "kafka"  # kafka | memory | eos-files | kafka-eos
    bootstrap_servers: str = "localhost:9092"
    input_topic: str = "uppercase"
    output_topic: str = "replies"
    source_path: str = ""  # for files source
    output_dir: str = ""  # for eos-files sink
    checkpoint_dir: str = "/tmp/kssp-checkpoints/pipeline"
    query_name: str = "kssp_pipeline"
    function: FunctionConfig = field(default_factory=FunctionConfig)
    degraded_ordering: bool = False  # R15 after-failure mode
    max_offsets_per_trigger: int | None = None
    # kafka-eos sink (R12 transactional produce as the pipeline's default
    # scale path): injected producer factory (None binds kafka-python),
    # stable transactional.id prefix, recovered per-partition marker tails
    transactional_id: str = "kssp-replies-0"
    producer_factory: Callable[[str], object] | None = None
    last_committed_epochs: dict[int, int] | None = None


WIRE_FRAME_DDL = "key binary, value binary"


def _observe_decoded(frames: DataFrame) -> DataFrame:
    """The ``records.log()`` tap (R17, StreamsApplication.java:147):
    record count and wire bytes per micro-batch, surfaced in every
    QueryProgressEvent under observedMetrics["decoded"]."""
    return frames.observe(
        "decoded",
        F.count(F.lit(1)).alias("n_records"),
        F.coalesce(F.sum(F.length("value")), F.lit(0)).alias("wire_bytes"),
    )


def decode_stage(frames: DataFrame, observe: bool = True) -> DataFrame:
    """R6+R7: wire frames -> Message columns (headers, payload).

    Keeps only the decoded value, dropping the envelope — exactly
    ``records.map(ConsumerRecord::value)`` (StreamsApplication.java:176).

    ``observe`` attaches the ``decoded`` tap (record count, wire bytes)
    to each micro-batch, as the spine does.
    """
    if observe:
        frames = _observe_decoded(frames)
    return frames.select(decode_message(F.col("value")).alias("msg")).select(
        "msg.headers", "msg.payload"
    )


def encode_stage(messages: DataFrame) -> DataFrame:
    """R10+R11: Message columns -> (null key, framed value) — the
    ``new ProducerRecord<>("replies", null, record)`` shape
    (StreamsApplication.java:194)."""
    return messages.select(
        F.lit(None).cast("binary").alias("key"),
        encode_message(F.struct("headers", "payload")).alias("value"),
    )


def build_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    fn: MessageFunction | None = None,
) -> DataFrame:
    """Assemble the full (streaming) dataflow; returns the sink-ready frame."""
    if cfg.source == "kafka":
        frames = stream_kafka_source(
            spark,
            cfg.bootstrap_servers,
            cfg.input_topic,
            max_offsets_per_trigger=cfg.max_offsets_per_trigger,
        )
    elif cfg.source == "files":
        from pyspark.sql import types as T

        schema = T.StructType(
            [T.StructField("key", T.BinaryType()), T.StructField("value", T.BinaryType())]
        )
        frames = stream_file_source(spark, cfg.source_path, schema)
    else:
        raise ValueError(f"unknown source {cfg.source!r}")

    return run_pipeline_batch(frames, fn, enabled=cfg.function.enabled)


def start_pipeline(spark: SparkSession, cfg: PipelineConfig, fn: MessageFunction | None = None):
    """Start the streaming query (the analog of the runner thread at
    StreamsApplication.java:117-130; StreamingQuery is already async)."""
    out = build_pipeline(spark, cfg, fn)
    if cfg.sink == "kafka":
        writer = write_kafka_sink(
            out,
            cfg.bootstrap_servers,
            cfg.output_topic,
            checkpoint_dir=cfg.checkpoint_dir,
            degraded_ordering=cfg.degraded_ordering,
        )
    elif cfg.sink == "memory":
        writer = write_memory_sink(out, cfg.query_name).option(
            "checkpointLocation", cfg.checkpoint_dir
        )
    elif cfg.sink == "eos-files":
        eos = ForeachBatchIdempotentWriter(cfg.output_dir)
        writer = out.writeStream.foreachBatch(eos).option(
            "checkpointLocation", cfg.checkpoint_dir
        )
    elif cfg.sink == "kafka-eos":
        # R12 at scale: per-partition fenced transactional producers
        # (partitioned=True is the writer's default — no record ever
        # moves through the driver; see eos.py:kafka_transactional_batch_writer)
        body = kafka_transactional_batch_writer(
            cfg.producer_factory,
            topic=cfg.output_topic,
            transactional_id=cfg.transactional_id,
            bootstrap_servers=cfg.bootstrap_servers,
            last_committed_epochs=cfg.last_committed_epochs,
        )
        writer = out.writeStream.foreachBatch(body).option(
            "checkpointLocation", cfg.checkpoint_dir
        )
    else:
        raise ValueError(f"unknown sink {cfg.sink!r}")
    return writer.start()


def run_pipeline_batch(
    frames: DataFrame,
    fn: MessageFunction | None = None,
    enabled: bool = True,
) -> DataFrame:
    """decode -> ``fn`` -> encode in ONE mapInPandas over ``value``: the
    spine's stage for a streaming frame (``build_pipeline``) and for a
    bounded one (finite replay, backfill over landed data).

    The ``decoded`` tap is attached to the source frames, which are then
    projected to ``value`` so envelope columns (Kafka topic, partition,
    offset, timestamp) never enter the Python worker. ``fn`` keeps the
    ``MessageFunction`` contract: a pandas batch with ``headers`` and
    ``payload`` in, the same columns out. The headers it receives are
    shared by frames of the same shape and read-only (``SharedHeaders``);
    a function builds new headers instead of editing them in place.
    ``enabled=False`` (or no ``fn``) is the R9 identity bypass. Output
    is byte-identical to composing ``decode_stage``,
    ``transform_messages`` and ``encode_stage`` (test_pipeline.py).

    The decode and encode prefix caches live for the whole task, so a
    header shape is parsed and framed once per task, not once per Arrow
    batch; both are bounded.
    """
    import numpy as np
    import pandas as pd

    run_fn = enabled and fn is not None

    def fused(batches):
        decode_cache: dict[bytes, dict] = {}
        encode_cache: dict[tuple, bytes] = {}
        for pdf in batches:
            decoded = [decode_with_prefix_cache(bytes(v), decode_cache) for v in pdf["value"]]
            headers = np.fromiter((h for h, _ in decoded), object, len(decoded))
            payloads = [p for _, p in decoded]
            if run_fn:
                batch = fn(pd.DataFrame({"headers": headers, "payload": payloads}))
                headers, payloads = batch["headers"], batch["payload"]
            values = [
                encode_with_prefix_cache(h, p, encode_cache) for h, p in zip(headers, payloads)
            ]
            # null key mirrors the reference's ProducerRecord(topic, null, value)
            yield pd.DataFrame({"key": [None] * len(values), "value": values})

    return _observe_decoded(frames).select("value").mapInPandas(fused, schema=WIRE_FRAME_DDL)


def run_pipeline_with_dlq(
    frames: DataFrame,
    fn: MessageFunction | None = None,
    enabled: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Poison-message-safe pipeline: returns (good_output, dead_letters).

    The reference's strict deserializer kills the stream on one
    malformed frame, and its restart loop (R14) would then crash-cycle
    forever on a deterministic poison record. Here the decode is
    lenient: failures split into a dead-letter frame carrying the raw
    wire bytes plus the decode error (ready for a DLQ topic/path sink
    and offline inspection), while good rows continue through
    transform -> encode unchanged.

    On the batch path the decoded frame is lineage-truncated
    (localCheckpoint, lazy), so consuming BOTH lanes executes the
    lenient-decode Arrow pass ONCE — without the barrier, each consumed
    lane re-ran the decode UDF over every row (deterministic, so
    correct, but the decode is the expensive Arrow crossing). Streaming
    frames cannot checkpoint this way; there the split belongs inside
    ``foreachBatch``, where the micro-batch is materialized once.
    """
    from .codec import decode_message_lenient

    decoded = frames.select(
        F.col("value").alias("_raw"), decode_message_lenient(F.col("value")).alias("msg")
    )
    if not decoded.isStreaming:
        decoded = decoded.localCheckpoint(eager=False)
    dead = decoded.filter(F.col("msg.error").isNotNull()).select(
        F.col("_raw").alias("value"), F.col("msg.error").alias("error")
    )
    good = decoded.filter(F.col("msg.error").isNull()).select("msg.headers", "msg.payload")
    out = encode_stage(transform_messages(good, fn, enabled=enabled))
    return out, dead
