"""Counters read from outside the engine: Spark's status store, the
query's Catalyst phase tracker, and ``/proc`` for the JVM's Python
workers and resident memory. Nothing here edits an engine file."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")

#: status-store counters summed over the stages of new jobs.
STAGE_COUNTERS = (
    "tasks", "executor_run_s", "executor_cpu_s", "shuffle_bytes", "spill_bytes",
    "output_rows",
)


def _stat_fields(pid: int) -> list[str] | None:
    """``/proc/<pid>/stat`` fields from field 3 (state) on. The comm
    field may hold spaces and parentheses, so split after its last
    ``)``."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            line = fh.read()
    except OSError:
        return None
    return line[line.rfind(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's descendants (the Python daemon and its
    workers): each one's user+system time plus that of the children it
    has reaped, so a worker that exited is still counted once."""
    ticks = 0
    for pid in descendants(jvm_pid):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def engine_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM itself plus its Python workers."""
    f = _stat_fields(jvm_pid)
    own = sum(int(x) for x in f[11:13]) / _TICK if f is not None else 0.0
    return own + worker_cpu_s(jvm_pid)


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 2**20


class PeakRss:
    """Samples the resident memory of the JVM plus its descendants on
    a background thread; ``peak_mb`` is the highest sum seen."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        self.peak_mb = max(
            self.peak_mb, rss_mb([self.jvm_pid, *descendants(self.jvm_pid)])
        )

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


class SparkProbe:
    """Counter snapshots for spans: Spark jobs seen so far, the cached
    blocks held, and Python-worker CPU. ``delta`` turns two snapshots
    into the work done between them, reading the new jobs' stages from
    the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.pid = jvm_pid(spark)
        self.spent_s = 0.0  # time inside snapshot/delta: tracing cost
        self._finished: dict[int, dict] = {}

    def _last_job_id(self) -> int:
        """Newest job id the status store has seen (ids are sequential;
        ``jobsList`` is newest first). Waits for the listener bus to
        deliver pending events first, so a finished job's stages are in
        the store."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def cached_blocks(self) -> int:
        rdds = self.store.rddList(True)
        return sum(rdds.apply(i).numCachedPartitions() for i in range(rdds.size()))

    def snapshot(self) -> dict:
        t = time.perf_counter()
        snap = {"last_job": self._last_job_id(), "worker_cpu_s": worker_cpu_s(self.pid)}
        self.spent_s += time.perf_counter() - t
        return snap

    def delta(self, before: dict, after: dict) -> dict:
        t = time.perf_counter()
        out = self._delta(before, after)
        self.spent_s += time.perf_counter() - t
        return out

    def _job(self, jid: int) -> dict:
        """Stage counters summed over one job; a finished job's are kept,
        since nested spans read the same jobs again."""
        if jid in self._finished:
            return self._finished[jid]
        job = self.store.job(jid)
        out = dict.fromkeys(STAGE_COUNTERS, 0.0)
        out["stages"] = 0.0
        sids = job.stageIds()
        for i in range(sids.size()):
            st = self.store.lastStageAttempt(sids.apply(i))
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["output_rows"] += st.outputRecords()
        if str(job.status()) != "RUNNING":
            self._finished[jid] = out
        return out

    def _delta(self, before: dict, after: dict) -> dict:
        new_jobs = range(before["last_job"] + 1, after["last_job"] + 1)
        out = dict.fromkeys((*STAGE_COUNTERS, "stages"), 0.0)
        for jid in new_jobs:
            for k, v in self._job(jid).items():
                out[k] += v
        out["jobs"] = float(len(new_jobs))
        out["python_worker_cpu_s"] = after["worker_cpu_s"] - before["worker_cpu_s"]
        out["cached_blocks_left"] = float(self.cached_blocks())
        return out


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s query, from
    its QueryPlanningTracker (after the query ran)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[f"{name}_ms"] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out
