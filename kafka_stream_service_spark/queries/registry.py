"""Query registry: name -> (spark callable, optional DuckDB oracle SQL).

The driver contract (``__spark_entry__.py``) wants two dicts:
``queries()[name](spark, sf_dir) -> DataFrame`` and ``oracle_sql()[name]``
as equivalent ANSI SQL for DuckDB. Queries without SQL-expressible
semantics register ``oracle=None`` and get the driver's weaker rows-only
check.

Oracle-matching rules applied throughout the catalog (SURVEY.md §7):

- every computed column is aliased identically in Spark and SQL;
- double aggregations go through exact DECIMAL arithmetic wherever the
  data permits (all money columns in the fixtures are 2-decimal), so
  results are bit-identical regardless of summation order — this matters
  because Spark and DuckDB sum partitions in different orders;
- timestamps stay UTC (session TZ pinned in session.py).

The driver certifies the FIRST ``WINDOW_SIZE`` entries of ``queries()``
each round. That window is ranked from the committed
``CORRECTNESS_r{N}.json`` verdicts (current round = last N + 1): tier 0
is rows with no verdict or a latest verdict <= current - STALE_ROUNDS;
tier 1 is ``RECERT`` rows not yet certified at their round; tier 2 is
the rest. Oldest verdict first within a tier, ties by name.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

WINDOW_SIZE = 50
STALE_ROUNDS = 10
# Plan-changed rows: query -> first round whose verdict certifies the
# changed plan. Entries are inert once that verdict lands.
RECERT: dict[str, int] = {"q_stream_wiredump_sink_replay": 17}

_REPO = Path(__file__).resolve().parents[2]
_VERDICT = re.compile(r"CORRECTNESS_r(\d+)\.json")


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    # For rows-only queries (oracle=None): the name of the hash-verified
    # portable twin that certifies the same pipeline under portable
    # (md5-derived) hashing. Machine-readable so CORRECTNESS readers can
    # resolve a `no_oracle` row to its green certificate
    # (tests/test_coverage_doc.py enforces the invariant).
    portable_twin: str | None = None


QUERIES: dict[str, QuerySpec] = {}


def _pin_session_confs(spark: SparkSession) -> None:
    """Oracle-critical session confs, applied defensively on every query
    call: the driver's harness owns its SparkSession and may not set
    these. UTC pins every session-tz-sensitive expression
    (unix_timestamp/unix_micros on NTZ, LTZ<->NTZ casts in the events
    loader) to the values DuckDB computes; nanosAsLong lets the events
    parquet (TIMESTAMP_NANOS) load at all.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Perf re-pin (not oracle-critical): restore the session-default AQE
    # coalesce floor on every query call, so the iterative graph
    # queries' per-query 1m pin (_util.pin_iterative_aqe_floor, r16)
    # scopes to exactly one build+execute and never leaks into the
    # small-byte md5 lanes the 32k session floor protects.
    from ..session import AQE_MIN_PARTITION_KEY, aqe_min_partition_size

    spark.conf.set(AQE_MIN_PARTITION_KEY, aqe_min_partition_size())
    # NOTE: spark.sql.codegen.cache.maxEntries (see session.py) is a
    # STATIC conf — it cannot be pinned here on a live session; sessions
    # built outside get_spark() keep the 100-entry default (a perf,
    # never a correctness, difference).


def query(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
    doc: str = "",
    portable_twin: str | None = None,
):
    """Decorator registering a catalog query."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _pin_session_confs(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        QUERIES[name] = QuerySpec(
            name, wrapped, oracle, tags, doc or (fn.__doc__ or ""), portable_twin
        )
        return fn

    return deco


def committed_verdicts(root: Path = _REPO) -> tuple[dict[str, int], int]:
    """Query -> latest verdict round in ``root``, and the open round (last + 1).
    Rounds are ints folded with max: file order (r9 after r16) never matters."""
    found = [(int(m[1]), f) for f in root.iterdir() if (m := _VERDICT.fullmatch(f.name))]
    latest: dict[str, int] = {}
    for r, f in found:
        for name in json.loads(f.read_text()):
            latest[name] = max(latest.get(name, 0), r)
    return latest, max((r for r, _ in found), default=0) + 1


def rank(
    names: Iterable[str], latest: dict[str, int], current: int, recert: dict[str, int] = RECERT
) -> list[str]:
    """Certification order at round ``current`` (tiers: module doc)."""

    def key(name: str) -> tuple[int, int, str]:
        seen = latest.get(name)
        if seen is None or seen <= current - STALE_ROUNDS:
            return 0, seen or 0, name
        return (1 if seen < recert.get(name, 0) else 2), seen, name

    return sorted(names, key=key)


def __getattr__(name: str):
    # Derived on access: QUERIES fills only after this module is imported.
    if name == "PRIORITY_ORDER":
        return tuple(s.name for s in _ordered_specs()[:WINDOW_SIZE])
    if name == "NEW_THIS_ROUND":
        latest, _ = committed_verdicts()
        return tuple(n for n in QUERIES if n not in latest)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def _ordered_specs() -> list[QuerySpec]:
    head = rank(QUERIES, *committed_verdicts())[:WINDOW_SIZE]
    return [QUERIES[n] for n in head] + [s for n, s in QUERIES.items() if n not in head]


def queries_dict() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {spec.name: spec.spark_fn for spec in _ordered_specs()}


def oracle_sql_dict() -> dict[str, str]:
    return {spec.name: spec.oracle for spec in _ordered_specs() if spec.oracle is not None}
