"""The certification window rotates from committed verdicts alone.

The registry ranks the catalog from the repo root's CORRECTNESS_r*.json
files (queries/registry.py), so committing the next round's artifact must
keep the window invariants of tests/test_registry_window.py green with no
registry edit. These tests seat synthetic rounds through the same ranking
the driver import uses, and check that the import order is deterministic.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from kafka_stream_service_spark.queries.registry import (
    QUERIES,
    RECERT,
    STALE_ROUNDS,
    WINDOW_SIZE,
    committed_verdicts,
    rank,
)

REPO = Path(__file__).resolve().parent.parent

# Re-cert seats reserved per round (tests/test_registry_window.py).
EXPECTED_RECERTS_PER_ROUND = 4


def _window_meeting_invariants(latest: dict[str, int], current: int) -> list[str]:
    window = rank(QUERIES, latest, current)[:WINDOW_SIZE]
    seated = set(window)
    rotten = [
        n for n in QUERIES if n not in seated and n in latest and latest[n] < current - STALE_ROUNDS
    ]
    assert not rotten, f"r{current}: rows past the horizon left unseated: {rotten}"
    will_rot = [
        n
        for n in QUERIES
        if n not in seated and (n not in latest or latest[n] < current + 1 - STALE_ROUNDS)
    ]
    assert len(will_rot) <= WINDOW_SIZE, f"r{current + 1} window cannot fit {len(will_rot)}"
    demand = len(QUERIES) + EXPECTED_RECERTS_PER_ROUND * STALE_ROUNDS
    assert demand <= WINDOW_SIZE * STALE_ROUNDS, f"capacity exceeded: {demand}"
    return window


def test_committed_windows_keep_a_full_rotation_green():
    """Commit each derived window as the next round's verdicts, for one
    full rotation: every round's window must meet the horizon, capacity
    and next-round-fit invariants with no registry edit."""
    latest, current = committed_verdicts()
    for _ in range(STALE_ROUNDS):
        window = _window_meeting_invariants(latest, current)
        latest = {**latest, **dict.fromkeys(window, current)}
        current += 1
    _window_meeting_invariants(latest, current)


def test_tiers_seat_births_then_horizon_then_recert_rows():
    # The last names by sort order, so only the tiers can move them up.
    birth, stale, changed = sorted(QUERIES)[-3:]
    current = 30
    latest = {n: current - 1 for n in QUERIES}
    del latest[birth]
    latest[stale] = current - STALE_ROUNDS
    recert = {changed: current}
    assert rank(QUERIES, latest, current, recert)[:3] == [birth, stale, changed]
    # Once a verdict at or after its round exists, the re-cert row is tier 2.
    latest.update({birth: current, stale: current, changed: current})
    assert changed not in rank(QUERIES, latest, current + 1, recert)[:WINDOW_SIZE]


def test_pending_recert_rows_are_registered_and_seated():
    latest, current = committed_verdicts()
    assert set(RECERT) <= set(QUERIES), f"unregistered RECERT names: {set(RECERT) - set(QUERIES)}"
    pending = {n for n, r in RECERT.items() if latest.get(n, 0) < r}
    window = set(rank(QUERIES, latest, current)[:WINDOW_SIZE])
    assert pending <= window, f"plan-changed rows not re-certified this round: {pending - window}"


def test_verdict_rounds_are_parsed_as_ints(tmp_path):
    (tmp_path / "CORRECTNESS_r9.json").write_text(json.dumps({"q_a": {}, "q_b": {}}))
    (tmp_path / "CORRECTNESS_r16.json").write_text(json.dumps({"q_a": {}}))
    (tmp_path / "CORRECTNESS_r99.json.bak").write_text(json.dumps({"q_a": {}}))
    assert committed_verdicts(tmp_path) == ({"q_a": 16, "q_b": 9}, 17)


def test_driver_import_order_is_hash_seed_independent():
    code = (
        "import json, __spark_entry__ as e; "
        "print(json.dumps([list(e.queries()), list(e.oracle_sql())]))"
    )
    outs = []
    for seed in ("0", "4242"):
        proc = subprocess.run(
            [sys.executable, "-c", code],
            cwd=REPO,
            env={**os.environ, "PYTHONHASHSEED": seed},
            capture_output=True,
            text=True,
            check=True,
        )
        outs.append(proc.stdout.strip().splitlines()[-1])
    assert outs[0] == outs[1]
    names, oracle_names = json.loads(outs[0])
    assert len(names) == len(QUERIES) and set(oracle_names) <= set(names)
