"""Pipeline parity tests (SURVEY.md §5 items 4-5): the reference's
decode -> uppercase -> encode demo behavior end-to-end, batch and
streaming, plus checkpoint restart and the fault path.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from kafka_stream_service_spark.codec import decode_py, encode_py
from kafka_stream_service_spark.eos import ForeachBatchIdempotentWriter
from kafka_stream_service_spark.pipeline import (
    PipelineConfig,
    decode_stage,
    encode_stage,
    run_pipeline_batch,
    start_pipeline,
)
from kafka_stream_service_spark.transform import (
    FunctionConfig,
    RemoteFunction,
    identity_function,
    transform_messages,
    uppercase_function,
)

MESSAGES = [
    ({"Accept": ["*/*"], "Content-Type": ["text/plain"]}, b"World"),
    ({}, b"hello spark"),
    ({"x": ["1", "2"]}, b"MiXeD CaSe 123"),
]


def wire_frames_df(spark, messages=MESSAGES):
    rows = [(None, bytearray(encode_py(h, p))) for h, p in messages]
    return spark.createDataFrame(rows, "key binary, value binary")


def decode_outputs(rows):
    return [decode_py(bytes(r.value)) for r in rows]


def test_batch_pipeline_uppercase_parity(spark):
    """decode -> uppercase -> encode matches the reference demo: payload
    uppercased, headers preserved, key null (R6-R11)."""
    out = run_pipeline_batch(wire_frames_df(spark), uppercase_function).collect()
    assert all(r.key is None for r in out)
    decoded = decode_outputs(out)
    assert sorted(p for _, p in decoded) == sorted(
        p.decode().upper().encode() for _, p in MESSAGES
    )
    by_payload = {p: h for h, p in decoded}
    assert by_payload[b"WORLD"] == {"Accept": ["*/*"], "Content-Type": ["text/plain"]}


def test_dlq_pipeline_splits_poison_messages(spark):
    """A malformed frame (bad marker / truncated header section) must
    land in the dead-letter frame with the raw bytes and an error
    string, while every good record flows through transform->encode
    exactly as in the strict pipeline — one poison message must never
    kill the stream (the reference's strict deserializer + restart loop
    would crash-cycle forever on it)."""
    from kafka_stream_service_spark.pipeline import run_pipeline_with_dlq

    good_rows = [(None, bytearray(encode_py(h, p))) for h, p in MESSAGES]
    poison = [
        (None, bytearray(b"\x00not-a-frame")),  # missing 0xff marker
        (None, bytearray(b"\xff\x05trunc")),  # header count points past end
    ]
    frames = spark.createDataFrame(good_rows + poison, "key binary, value binary")
    out, dead = run_pipeline_with_dlq(frames, uppercase_function)
    assert sorted(p for _, p in decode_outputs(out.collect())) == sorted(
        p.decode().upper().encode() for _, p in MESSAGES
    )
    dead_rows = dead.collect()
    assert {bytes(r.value) for r in dead_rows} == {bytes(v) for _, v in poison}
    assert all(r.error for r in dead_rows)


def _staged(frames, fn, enabled=True):
    """The three-crossing composition of the public building blocks: the
    reference the fused spine stage must match byte for byte."""
    return encode_stage(transform_messages(decode_stage(frames), fn, enabled=enabled))


def _upper_seen_handler(request_iterator):
    from kafka_stream_service_spark.grpc_function import pb_decode_message, pb_encode_message

    for raw in request_iterator:
        headers, payload = pb_decode_message(raw)
        yield pb_encode_message({**headers, "seen": ["1"]}, payload.upper())


def test_fused_pipeline_byte_parity_with_staged(spark):
    """The spine's one-Arrow-pass stage (run_pipeline_batch) must be
    byte-identical to the staged decode->transform->encode composition,
    for the uppercase transform, the identity bypass and a RemoteFunction
    over the stdlib gRPC transport to a live in-process server — it is an
    operator fusion, not a semantic variant. The frames include a header
    blob with non-compact JSON, which both forms re-encode compactly."""
    from kafka_stream_service_spark.h2grpc import H2GrpcServer

    loose = b"\xff\x01\x01t" + len(b'["a", "b"]').to_bytes(4, "big") + b'["a", "b"]' + b"loose"
    rows = [(None, bytearray(encode_py(h, p))) for h, p in MESSAGES * 3] + [(None, bytearray(loose))]
    frames = spark.createDataFrame(rows, "key binary, value binary")
    srv = H2GrpcServer(_upper_seen_handler)
    try:
        remote = RemoteFunction(FunctionConfig(host="127.0.0.1", port=srv.port, transport="h2-stdlib"))
        cases = ((uppercase_function, True), (identity_function, True), (None, False), (remote, True))
        for fn, enabled in cases:
            staged = sorted(bytes(r.value) for r in _staged(frames, fn, enabled).collect())
            fused = run_pipeline_batch(frames, fn, enabled=enabled).collect()
            assert sorted(bytes(r.value) for r in fused) == staged
            assert all(r.key is None for r in fused)
    finally:
        srv.close()
    assert all(decode_py(v)[0]["seen"] == ["1"] for v in staged)  # the remote case ran last


def _plan_nodes(plan):
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_spine_plan_has_one_python_node_over_value(spark, tmp_path):
    """The streaming spine's executed plan runs exactly one Python
    evaluation node, the fused MapInPandas, and feeds it only the
    ``value`` column: no pandas-UDF codec node and no envelope column
    enters the Python worker."""
    src = tmp_path / "in"
    wire_frames_df(spark).write.parquet(str(src))
    cfg = PipelineConfig(
        source="files",
        sink="memory",
        source_path=str(src),
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="pipe_plan_test",
    )
    q = start_pipeline(spark, cfg, uppercase_function)
    try:
        q.processAllAvailable()
        plan = q._jsq.streamingQuery().lastExecution().executedPlan()
    finally:
        q.stop()
    python_nodes = [
        n for n in _plan_nodes(plan) if any(w in n.nodeName() for w in ("Python", "Pandas", "Arrow"))
    ]
    assert [n.nodeName() for n in python_nodes] == ["MapInPandas"], plan.toString()
    assert "ArrowEvalPython" not in plan.toString()
    inputs = python_nodes[0].child().output()
    assert [inputs.apply(i).name() for i in range(inputs.size())] == ["value"]


def test_in_place_header_edit_fails_loudly(spark):
    """Decoded headers are shared by every frame of the same shape (and,
    through the task-long prefix cache, by later batches). A function
    that edits them in place would rewrite other frames' output, so the
    edit raises; a function that builds new headers changes only its own
    frame."""

    shared = [({"Accept": ["*/*"]}, f"p{i}".encode()) for i in range(6)]
    frames = wire_frames_df(spark, shared)

    def add_in_place(batch):
        batch["headers"].iloc[0]["added"] = ["x"]
        return batch

    def append_in_place(batch):
        batch["headers"].iloc[0]["Accept"].append("x")
        return batch

    for fn in (add_in_place, append_in_place):
        with pytest.raises(Exception, match="shared by every frame"):
            run_pipeline_batch(frames, fn).collect()

    def add_to_p0(batch):
        out = batch.copy()
        out["headers"] = [
            {**h, "added": ["x"]} if p == b"p0" else h
            for h, p in zip(batch["headers"], batch["payload"])
        ]
        return out

    out = decode_outputs(run_pipeline_batch(frames, add_to_p0).collect())
    assert sorted(out, key=lambda m: m[1]) == [
        ({"Accept": ["*/*"], "added": ["x"]} if p == b"p0" else h, p) for h, p in shared
    ]


def test_identity_bypass(spark):
    """R9: enabled=False skips the transform stage entirely — output equals
    input bytes."""
    frames = wire_frames_df(spark)
    out = run_pipeline_batch(frames, uppercase_function, enabled=False).collect()
    in_values = sorted(bytes(r.value) for r in frames.collect())
    out_values = sorted(bytes(r.value) for r in out)
    assert out_values == in_values


def test_remote_function_local_fallback(spark):
    """The RemoteFunction client (gRPC slot) falls back to the local
    function when no channel is available, preserving behavior."""
    fn = RemoteFunction(FunctionConfig(host="localhost", port=1), uppercase_function)
    out = run_pipeline_batch(wire_frames_df(spark), fn).collect()
    payloads = sorted(p for _, p in decode_outputs(out))
    assert payloads == sorted(p.decode().upper().encode() for _, p in MESSAGES)


def test_streaming_pipeline_files_to_memory(spark, tmp_path):
    """The full streaming spine over a file source into a memory sink."""
    src = tmp_path / "in"
    wire_frames_df(spark).write.parquet(str(src))
    cfg = PipelineConfig(
        source="files",
        sink="memory",
        source_path=str(src),
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="pipe_mem_test",
    )
    q = start_pipeline(spark, cfg, uppercase_function)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM pipe_mem_test").collect()
    assert len(rows) == len(MESSAGES)
    payloads = sorted(p for _, p in decode_outputs(rows))
    assert payloads == sorted(p.decode().upper().encode() for _, p in MESSAGES)


def test_streaming_restart_no_dups_no_loss(spark, tmp_path):
    """R13/R14: stop the query, add more input, restart from checkpoint —
    every input appears exactly once across both runs (epoch-idempotent
    eos-files sink + checkpoint replay)."""
    src = tmp_path / "in"
    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    wire_frames_df(spark, MESSAGES[:2]).write.parquet(str(src))

    cfg = PipelineConfig(
        source="files",
        sink="eos-files",
        source_path=str(src),
        output_dir=str(out_dir),
        checkpoint_dir=str(ckpt),
        query_name="pipe_restart_test",
    )
    q = start_pipeline(spark, cfg, uppercase_function)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # second wave lands while the query is down
    wire_frames_df(spark, MESSAGES[2:]).write.mode("append").parquet(str(src))
    q2 = start_pipeline(spark, cfg, uppercase_function)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    batch_dirs = glob.glob(os.path.join(str(out_dir), "batch_id=*"))
    assert batch_dirs, "no epoch outputs written"
    all_rows = spark.read.parquet(*batch_dirs).collect()
    payloads = sorted(p for _, p in decode_outputs(all_rows))
    assert payloads == sorted(p.decode().upper().encode() for _, p in MESSAGES)


def test_eos_writer_epoch_idempotent(spark, tmp_path):
    """A replayed epoch (same batchId) must not duplicate output — the
    foreachBatch exactly-once contract (R12)."""
    writer = ForeachBatchIdempotentWriter(str(tmp_path / "eos"))
    df = spark.range(5).select(F.col("id"))
    writer(df, 7)
    writer(df, 7)  # replay of the same epoch
    out = spark.read.parquet(str(tmp_path / "eos" / "batch_id=7")).collect()
    assert len(out) == 5
    assert writer.committed_epochs() == {7}


def test_fault_path_retry_after_planned_failure(spark, tmp_path):
    """The reference's planned-exception trick (commented fault injection
    at StreamsApplication.java:193): first attempt of a batch throws, the
    restart re-runs the same epoch from the checkpoint, output stays
    exactly-once."""
    src = tmp_path / "in"
    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    wire_frames_df(spark).write.parquet(str(src))

    marker = tmp_path / "fail_once"
    marker.write_text("arm")

    def failing_once(batch):
        if marker.exists():
            marker.unlink()
            raise RuntimeError("Planned")  # the reference's fault message
        return uppercase_function(batch)

    cfg = PipelineConfig(
        source="files",
        sink="eos-files",
        source_path=str(src),
        output_dir=str(out_dir),
        checkpoint_dir=str(ckpt),
        query_name="pipe_fault_test",
    )
    q = start_pipeline(spark, cfg, failing_once)
    with pytest.raises(Exception):
        q.processAllAvailable()
        q.awaitTermination(10)
    q.stop()

    # supervised restart (R14): resume from checkpoint, same epoch re-runs
    q2 = start_pipeline(spark, cfg, failing_once)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    batch_dirs = glob.glob(os.path.join(str(out_dir), "batch_id=*"))
    all_rows = spark.read.parquet(*batch_dirs).collect()
    payloads = sorted(p for _, p in decode_outputs(all_rows))
    assert payloads == sorted(p.decode().upper().encode() for _, p in MESSAGES)
