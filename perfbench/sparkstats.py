"""Process memory and Spark's own task accounting, read from outside.

``RssSampler`` polls the resident memory of the Spark JVM and every
process under it (the pyspark daemon and its Python workers) and keeps
the peak of their sum.

``spark_layers`` reads Spark's status store (it is populated with the
UI off) for the jobs submitted inside a time window and sums their
stages' task metrics.
"""

from __future__ import annotations

import os
import threading

from py4j.protocol import Py4JJavaError

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages split among their sharers, so
    forked Python workers are not counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` plus the proportional share of every
    process under it. The root (the JVM) is read from ``statm``: walking
    its mappings for PSS takes tens of milliseconds under its memory-map
    lock, which would stall the process being measured.

    A child that still runs the root's executable is the JVM between
    spawning a helper and that helper's exec: it shares the JVM's memory,
    and its PSS would count the whole JVM a second time, so it is skipped."""
    kids = _children()
    root_exe = _exe(root)
    total, todo = _rss_bytes(root), list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        if root_exe is None or _exe(pid) != root_exe:
            total += _pss_bytes(pid)
    return total


class RssSampler:
    def __init__(self, root_pid: int, period_s: float = 0.5):
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.period_s):
                return

    def sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes(self.root_pid))

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_layers(spark, since: float, until: float) -> dict[str, float]:
    """Task accounting of the jobs submitted in [since, until] (epoch seconds)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_ids: set[int] = set()
    n_jobs = 0
    for i in range(jobs.size()):
        job = jobs.apply(i)
        submitted = _opt_ms(job.submissionTime())
        if submitted is None or not since <= submitted <= until:
            continue
        n_jobs += 1
        ids = job.stageIds()
        stage_ids.update(ids.apply(k) for k in range(ids.size()))
    tot = dict.fromkeys(("tasks", "run_ms", "cpu_ns", "gc_ms", "sr", "sw", "spill"), 0)
    stages = 0
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a skipped stage has no attempt
            continue
        if st.numCompleteTasks() == 0:
            continue
        stages += 1
        tot["tasks"] += st.numCompleteTasks()
        tot["run_ms"] += st.executorRunTime()
        tot["cpu_ns"] += st.executorCpuTime()
        tot["gc_ms"] += st.jvmGcTime()
        tot["sr"] += st.shuffleReadBytes()
        tot["sw"] += st.shuffleWriteBytes()
        tot["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    run_s = tot["run_ms"] / 1000.0
    cpu_s = tot["cpu_ns"] / 1e9
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": n_jobs,
        "spark.stages": stages,
        "spark.tasks": tot["tasks"],
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": cpu_s,
        "spark.python_gap_s": run_s - cpu_s,
        "spark.gc_s": tot["gc_ms"] / 1000.0,
        "spark.shuffle_read_mb": tot["sr"] / mb,
        "spark.shuffle_write_mb": tot["sw"] / mb,
        "spark.spill_mb": tot["spill"] / mb,
        "spark.busy_cores": run_s / max(until - since, 1e-9),
    }
