"""Per-layer measurement from outside the engine.

The benchmark records a span around each call it makes into an engine
module (session start, a lane's builder, a parquet open, the timed
action, a ``plans.ddl`` store write) and reads the JVM's own accounting
for the work inside: job and stage metrics from the status store,
Catalyst phase times from the query's tracker, and process CPU and memory
from ``/proc``. Spans stay in memory and are written once, at the end.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
CATALYST_PHASES = ("analysis", "optimization", "planning")


# -- /proc readers -------------------------------------------------------


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        data = fh.read()
    # the command name may hold spaces; fields resume after its ')'
    return data[data.rindex(")") + 2 :].split()


def process_cpu_s(pid: int) -> float:
    """User + system CPU of one process."""
    f = _stat_fields(pid)
    return (int(f[11]) + int(f[12])) / CLK_TCK


def descendants_cpu_s(pid: int) -> float:
    """CPU of every live descendant of ``pid``, including the reaped
    children they waited for (the Python worker daemon reaps its
    workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(entry))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0.0, list(children.get(pid, []))
    while todo:
        p = todo.pop()
        try:
            f = _stat_fields(p)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15]) / CLK_TCK
        todo.extend(children.get(p, []))
    return total


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_s() -> float:
    """CPU time stolen from this host's guests so far, all CPUs."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / CLK_TCK


def percentile_tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples beyond it, capped at P95. Under twenty samples no
    percentile above the median qualifies, and the median is returned."""
    s = sorted(values)
    n = len(s)
    if n < 20:
        return statistics.median(s), 50.0
    pct = min(95.0, 100.0 * (n - 10) / n)
    return s[min(n - 11, math.ceil(pct / 100.0 * n) - 1)], pct


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


# -- spans ---------------------------------------------------------------


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans recorded at layer boundaries plus the JVM metrics of the
    jobs each span ran. One tracer per benchmark run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack = threading.local()
        self._seen_jobs: set[int] = set()
        self.enabled = False

    # span bookkeeping
    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        # spans nest per thread: stream batches run on their own thread
        stack = self._stack.__dict__.setdefault("open", [])
        s = Span(name, layer, time.time(), stack[-1] if stack else None, attrs)
        self.spans.append(s)
        stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def job_group(self, group: str | None) -> None:
        """Tag the jobs the current thread submits from now on."""
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def patch(self, owner, attr: str, layer: str, on_call=None) -> None:
        """Wrap ``owner.attr`` in a span of ``layer``; the jobs it runs are
        tagged with the enclosing job group plus ``|<layer>``. ``on_call``
        gets the call's arguments and span (None when not tracing) after
        it returns."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            span = None
            if tracer.enabled:
                prev = tracer.sc.getLocalProperty("spark.jobGroup.id")
                group = f"{prev or 'untagged'}|{layer}"
                tracer.job_group(group)
                try:
                    with tracer.span(attr, layer, group=group) as span:
                        out = orig(*args, **kwargs)
                finally:
                    tracer.job_group(prev)
            else:
                out = orig(*args, **kwargs)
            if on_call:
                on_call(args, kwargs, span)
            return out

        setattr(owner, attr, wrapped)

    # JVM accounting
    def drain_listener(self) -> None:
        """Wait until the status store has seen every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def new_jobs(self, group: str) -> list[int]:
        ids = [
            j
            for j in self.sc.statusTracker().getJobIdsForGroup(group)
            if j not in self._seen_jobs
        ]
        self._seen_jobs.update(ids)
        return sorted(ids)

    def job_stats(self, job_ids: list[int]) -> dict:
        """Sum the stage metrics of ``job_ids`` and the wall time their
        run intervals cover."""
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(
            (
                "jobs stages tasks run_s cpu_s gc_s shuffle_read_bytes "
                "shuffle_write_bytes spill_bytes wall_s"
            ).split(),
            0.0,
        )
        intervals = []
        for j in job_ids:
            jd = store.job(j)
            out["jobs"] += 1
            if jd.completionTime().isDefined():
                intervals.append(
                    (
                        jd.submissionTime().get().getTime() / 1000.0,
                        jd.completionTime().get().getTime() / 1000.0,
                    )
                )
            for sid in jd.stageIds().mkString(",").split(","):
                if not sid:
                    continue
                sd = store.lastStageAttempt(int(sid))
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["run_s"] += sd.executorRunTime() / 1000.0
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1000.0
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["wall_s"] = union_s(intervals)
        return out

    def storage(self) -> tuple[int, int]:
        """(RDDs held in block storage, their bytes in memory and disk)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def catalyst_ms(df) -> dict[str, float]:
    """Analysis/optimization/planning milliseconds of ``df``'s query."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in CATALYST_PHASES:
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

