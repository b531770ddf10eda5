"""The repo benchmark: the reference spine as a live stream and as a
backlog drain.

    python3 perfbench/run.py --workload spine_open --seed 1 --seconds 30 --trace 0

Run from the repository root. Workloads (see ``layers.json`` for why each
exists, what it loads and bypasses, and which end-to-end metric each
layer metric should move):

- ``spine_open``: an open loop at a pinned rate, with the function in an
  external gRPC server process;
- ``spine_drain``: a closed pre-published backlog drained at full speed
  through the in-process function.

Every frame sent is checked after the run: decoded from the committed
output, matched by key, headers unchanged, payload uppercased, none lost
or doubled. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run wraps each
layer call, records spans in memory, writes them to
``perfbench/out/spans-<workload>-<seed>.json`` at exit and reports the
per-layer metrics, plus the tracing overhead against the untraced runs
recorded in ``perfbench/out/results.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
E2E = ("setup_s", "peak_rss_mb", "latency_p50_ms", "latency_p90_ms", "msgs_per_s")
UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "latency_p50_ms": "ms",
         "latency_p90_ms": "ms", "msgs_per_s": "1/s"}


class Context:
    """What a workload gets: its seed and run length, a private work
    directory inside the checkout, the environment for the processes it
    starts, the tracer, and the session it starts when its setup needs it."""

    def __init__(self, seed: int, seconds: int, tracer, work: str, env: dict):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self.env = env
        self.spark = None
        self.rss = None
        self.session_start_s = 0.0
        self.setup_end = None
        self.closers: list = []

    def start_session(self) -> None:
        """Start Spark, then sample the resident set of the JVM's process tree."""
        from kafka_stream_service_spark.session import get_spark

        from perfbench.sparkstats import RssSampler, jvm_pid

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                "perfbench", extra_conf={"spark.sql.streaming.numRecentProgressUpdates": "1000"}
            )
        self.session_start_s = time.perf_counter() - t0
        self.rss = RssSampler(jvm_pid(self.spark))
        self.rss.start()

    def setup_done(self) -> None:
        self.setup_end = time.perf_counter()

    def close(self) -> None:
        """Stop everything the run started, the JVM included, and wait for it."""
        if self.rss is not None:
            self.rss.stop()
        for close in reversed(self.closers):
            close()
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            gateway.shutdown()
            # the JVM exits when its stdin closes
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()


def _environment(work: str, nproc: int) -> dict:
    """Environment for the JVM, its Python workers and the helper
    processes: the repo root on every Python path (the workers are not
    started from the repo root), local[nproc], and every temporary
    directory inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH", "")
    return {
        "PYTHONPATH": REPO + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            # a pre-sized, pre-touched heap keeps the resident set from
            # following the collector's heap-resizing decisions run to run
            "-XX:ReservedCodeCacheSize=512m -Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData"
            f" -Djava.io.tmpdir={tmp}"
        ),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    }


def _baseline(workload: str) -> dict[str, float]:
    """Medians of the untraced runs of ``workload`` recorded so far."""
    runs = []
    try:
        with open(os.path.join(OUT, "results.jsonl")) as f:
            runs = [json.loads(line) for line in f]
    except FileNotFoundError:
        pass
    runs = [r for r in runs if r["workload"] == workload and not r["trace"]]
    if not runs:
        return {}
    return {m: statistics.median(r["metrics"][m] for r in runs) for m in E2E} | {"runs": len(runs)}


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("spine_open", "spine_drain"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    try:
        import kafka_stream_service_spark  # noqa: F401 - the program under test
    except ImportError as e:
        print(f"perfbench: the program is not here ({e})", file=sys.stderr)
        return 2
    from perfbench import spine, sparkstats
    from perfbench.trace import Tracer

    # a terminated run still stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(OUT, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = _environment(work, nproc)
    os.environ.update(env)
    ctx = Context(args.seed, args.seconds, Tracer(bool(args.trace)), work, dict(os.environ))
    run = {"spine_open": spine.run_open, "spine_drain": spine.run_drain}[args.workload]
    try:
        result = run(ctx)
        layers = result.get("layers", {})
        if args.trace:
            layers.update(sparkstats.spark_layers(ctx.spark, *result["window"]))
    finally:
        ctx.close()
        shutil.rmtree(work, ignore_errors=True)

    verdict = result["verdict"]
    e2e = {
        "setup_s": ctx.setup_end - t_start,
        "peak_rss_mb": ctx.rss.peak / (1024 * 1024),
        **result["e2e"],
    }
    attempted, failed = verdict["sent"], verdict["failed"]
    # a traced run also checks that decode_stage observed every frame sent
    correct = failed == 0 and result["samples"] > 0 and result.get("counts_ok", True)
    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
        f"failed_ratio={failed / attempted:.6g} ({json.dumps(verdict)}), samples={result['samples']}, "
        + ", ".join(f"{k}={v:.6g} {UNITS[k]}" for k, v in e2e.items())
    )
    if args.trace:
        base = _baseline(args.workload)
        metrics = {"session.start_s": ctx.session_start_s, **layers}
        metrics["check.failed_ratio"] = failed / attempted
        for m in E2E:
            metrics[f"trace.{m}"] = e2e[m]
            metrics[f"trace.overhead.{m}"] = e2e[m] - base[m] if base else 0.0
        metrics["trace.baseline_runs"] = base.get("runs", 0)
        ctx.tracer.dump(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"))
    else:
        metrics = e2e
        with open(os.path.join(OUT, "results.jsonl"), "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed, "trace": 0, "metrics": e2e}) + "\n")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _unit(name: str) -> str:
    """Unit of a metric, read off its name."""
    if name in UNITS or name.startswith("trace."):
        return UNITS.get(name.rsplit(".", 1)[-1], "count")
    for part, unit in (("bytes", "bytes"), ("_us_per_msg", "us"), ("_ms", "ms"), ("_mb", "MB"),
                       ("_ratio", "ratio"), ("_cores", "cores")):
        if part in name:
            return unit
    return "s" if name.endswith("_s") else "count"


if __name__ == "__main__":
    sys.exit(main())
