"""Measurement probes the benchmark reads from outside the engine.

Nothing here imports pyspark at module level: :func:`fit_host` must run
before the first pyspark import so the JVM it launches sees the fitted
environment.
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

MB = 1024 * 1024


# --- host -------------------------------------------------------------------

def fit_host() -> dict:
    """Size the Spark driver from this host's own cores and memory.

    The driver heap is 30% of MemTotal, between 1 and 6 GiB, and is
    pre-touched at JVM start (``SPARK_GRAFT_PRETOUCH``): zeroing heap pages
    on first use inside the timed operations made their walls vary with
    the host's memory state.
    """
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    heap_gb = max(1, min(6, int(mem_kb / (1024 * 1024) * 0.3)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_GRAFT_PRETOUCH"] = "1"
    return {"cpus": cpus, "mem_total_mb": mem_kb // 1024, "driver_mem_gb": heap_gb}


def loadavg1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def host_stamp(before: tuple[int, int]) -> dict:
    """loadavg and steal share since ``before`` (a :func:`cpu_ticks`)."""
    steal, total = cpu_ticks()
    d_total = max(total - before[1], 1)
    return {"loadavg1": loadavg1(), "steal_frac": (steal - before[0]) / d_total}


# --- resident memory --------------------------------------------------------

def process_tree(root_pid: int) -> dict[int, str]:
    """``root_pid`` and its live descendants -> command name, from each
    /proc/<pid>/stat."""
    kids: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        pid, close = int(name), stat.rindex(")")
        comm[pid] = stat[stat.index("(") + 1:close]
        kids.setdefault(int(stat[close + 2:].split()[1]), []).append(pid)
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        out[pid] = comm.get(pid, "")
        todo.extend(kids.get(pid, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Polls the summed RSS of the driver JVM (``root_pid``) and its
    Python workers; keeps the peak and, for that sample, the JVM's own
    RSS and the number of workers.

    Other descendants are skipped: the JVM forks short-lived helpers
    (Hadoop's local filesystem shells out for permissions), and until
    they exec they report the whole JVM's RSS a second time.
    """

    def __init__(self, root_pid: int, period_s: float = 0.2) -> None:
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak_mb = 0.0
        self.peak_detail: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = {
                pid: _rss_kb(pid) / 1024
                for pid, comm in process_tree(self.root_pid).items()
                if pid == self.root_pid or comm.startswith("python")
            }
            total = sum(rss.values())
            if total > self.peak_mb:
                self.peak_mb = total
                self.peak_detail = {"jvm_mb": rss[self.root_pid], "python_procs": len(rss) - 1}
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --- whole-stage codegen fallbacks ------------------------------------------

class CodegenWatch:
    """Counts Janino "grows beyond 64 KB" fallbacks in the JVM's stderr.

    Spark falls back to interpreted evaluation silently when generated
    code is too large; the only trace is a log line on fd 2. fd 2 is
    redirected into ``path`` (it must be installed before the JVM starts,
    which inherits it) and scanned after each operation.
    """

    MARKERS = (b"grows beyond 64 KB", b"InternalCompilerException")

    def __init__(self, path: str) -> None:
        self.path = path
        self.fallbacks = 0
        self._pos = 0
        self._fh = open(path, "wb")
        self._saved = os.dup(2)
        sys.stderr.flush()
        os.dup2(self._fh.fileno(), 2)

    def poll(self) -> int:
        """Fallbacks logged since the last poll (added to the total)."""
        sys.stderr.flush()
        with open(self.path, "rb") as fh:
            fh.seek(self._pos)
            chunk = fh.read()
            self._pos = fh.tell()
        n = sum(chunk.count(m) for m in self.MARKERS)
        self.fallbacks += n
        return n

    def tail(self, n_bytes: int = 4000) -> str:
        with open(self.path, "rb") as fh:
            fh.seek(max(0, os.path.getsize(self.path) - n_bytes))
            return fh.read().decode(errors="replace")

    def restore(self) -> None:
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        os.close(self._saved)
        self._fh.close()


# --- Spark status store -----------------------------------------------------

STAGE_FIELDS = {
    # metric -> (StageData getter, scale to the reported unit)
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    # rows, not bytes: Spark 4.1's Parquet reader leaves the stage's
    # inputBytes near zero (a 63 MB scan reads as 0.17 MB)
    "input_rows": ("inputRecords", 1),
    "shuffle_mb": ("shuffleWriteBytes", 1 / MB),
    "spill_mb": ("diskBytesSpilled", 1 / MB),
}


def job_group_stats(spark, group: str) -> dict:
    """Jobs, tasks and summed stage metrics of one job group.

    Reads Spark's status store, which is kept with the UI disabled. The
    listener bus is drained first so the group's last job is recorded.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    out = {"jobs": len(job_ids), "tasks": 0, **{k: 0.0 for k in STAGE_FIELDS}}
    stage_ids = set()
    for jid in job_ids:
        stage_ids.update(tracker.getJobInfo(jid).stageIds)
    for sid in stage_ids:
        st = store.lastStageAttempt(sid)
        if st.status().toString() == "SKIPPED":
            continue
        out["tasks"] += st.numCompleteTasks()
        for key, (getter, scale) in STAGE_FIELDS.items():
            out[key] += getattr(st, getter)() * scale
    return out


# --- spans ------------------------------------------------------------------

@dataclass
class Span:
    span_id: int
    name: str
    op_id: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory span recorder; spans are written out when the run ends.

    A disabled tracer records nothing, so the untraced passes share the
    same code path at the cost of one attribute test per call.
    """

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    def span(self, name: str, op_id: str | None = None) -> "_SpanCtx":
        return _SpanCtx(self, name, op_id)

    def self_times(self) -> dict[str, float]:
        """Median self time per span name, for names that have children:
        duration minus the union of the children's intervals."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        per_name: dict[str, list[float]] = {}
        for s in self.spans:
            if s.span_id not in kids:
                continue
            covered, cur_end = 0.0, s.start
            for c in sorted(kids[s.span_id], key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            per_name.setdefault(s.name, []).append(s.end - s.start - covered)
        return {n: statistics.median(v) for n, v in per_name.items()}

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        return [vars(s) for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op_id: str | None) -> None:
        self.tracer, self.name, self.op_id = tracer, name, op_id
        self.span: Span | None = None

    def __enter__(self) -> "_SpanCtx":
        t = self.tracer
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            self.span = Span(
                span_id=len(t.spans),
                name=self.name,
                op_id=self.op_id or (parent.op_id if parent else self.name),
                parent=parent.span_id if parent else None,
                start=time.perf_counter(),
            )
            t.spans.append(self.span)
            t._stack.append(self.span)
        return self

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.span.end = time.perf_counter()
            self.tracer._stack.pop()
