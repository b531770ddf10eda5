"""The benchmark's own tests.

    python -m pytest perfbench/test_perfbench.py -q

- The output check counts a lost frame, a doubled frame and a flipped
  payload byte each as a failure.
- A ``spine_drain``-shaped stream whose foreachBatch body raises once,
  after ``ForeachBatchIdempotentWriter`` committed an epoch, restarts
  through ``eos.run_with_restarts`` with no loss, no duplicate, and
  exactly one replayed epoch skipped by the writer's ledger.
"""

from __future__ import annotations

import os

import pytest

from perfbench import check, spine, wire
from perfbench.trace import Tracer

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _delivered(frames):
    return [wire.encode(h, p) for h, p in wire.expected(frames).values()]


@pytest.mark.parametrize(
    "frames,key_of",
    [
        (wire.open_batch(7, 0, 50, 1.5), wire.open_key),
        (wire.drain_file(7, 3, 50), wire.drain_key),
    ],
    ids=["open", "drain"],
)
def test_check_counts_each_seeded_fault(frames, key_of):
    want = wire.expected(frames)
    good = _delivered(frames)
    assert check.count_failures(want, good, key_of)["failed"] == 0

    lost = check.count_failures(want, good[:10] + good[11:], key_of)
    assert (lost["missing"], lost["failed"]) == (1, 1)

    doubled = check.count_failures(want, good + [good[20]], key_of)
    assert (doubled["duplicated"], doubled["failed"]) == (1, 1)

    flipped = bytearray(good[30])
    flipped[-1] ^= 0x01
    bad = check.count_failures(want, good[:30] + [bytes(flipped)] + good[31:], key_of)
    assert (bad["wrong"], bad["failed"]) == (1, 1)


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
    from kafka_stream_service_spark.session import get_spark

    session = get_spark("perfbench-test", shuffle_partitions=4)
    yield session
    session.stop()


def test_restart_after_committed_epoch_loses_and_doubles_nothing(spark, tmp_path):
    from kafka_stream_service_spark.eos import ForeachBatchIdempotentWriter, run_with_restarts
    from kafka_stream_service_spark.transform import uppercase_function

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    sent = spine.publish_backlog(src, seed=5, files=4, frames=500)
    sink = spine.EpochSink(ForeachBatchIdempotentWriter(out), Tracer(True), fail_after_epoch=1)
    failures = []

    def start():
        return spine.start_spine(spark, src, str(tmp_path), "restart", uppercase_function, sink, True)

    run_with_restarts(start, max_restarts=1, on_failure=lambda n, e: failures.append(e))

    assert len(failures) == 1 and "InjectedFault" in str(failures[0])
    by_epoch = check.committed_values(out)
    verdict = check.count_failures(
        wire.expected(sent), (v for vs in by_epoch.values() for v in vs), wire.drain_key
    )
    assert verdict["failed"] == 0, verdict
    assert sorted(by_epoch) == [0, 1, 2, 3]
    assert sink.skipped == 1
