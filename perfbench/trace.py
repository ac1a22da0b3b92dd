"""Spans, counters and Spark-side readings for the traced run.

Everything here wraps calls into the engine from the outside: spans
around the benchmark's own calls, a counter on the py4j client's
``send_command``, and the scheduler's status store read after each
operation. The untraced run uses :class:`NullTracer`, so it pays for
none of this.
"""

from __future__ import annotations

import contextlib
import os
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

from perfbench.stats import Span


class NullTracer:
    """Stands in for :class:`Tracer` in untraced passes."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def add(self, name: str, value: float = 1) -> None:
        pass


class Tracer:
    """In-memory spans (name, start, end, parent) and named counters."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, parent, name, start, end))

    def add(self, name: str, value: float = 1) -> None:
        self.counters[name] += value


class Py4jCounter:
    """Counts py4j round-trips by wrapping the gateway client's
    ``send_command`` on the instance; :meth:`close` restores it."""

    def __init__(self, spark) -> None:
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = counted

    def close(self) -> None:
        if self._client.send_command is not self._orig:
            del self._client.send_command


class SparkProbe:
    """Reads job, stage and task counts and stage byte totals for the
    jobs of one job group, plus Catalyst phase times and cache state.
    ``busy_s`` sums the time spent in these readings: the direct cost of
    tracing, planning forced for the Catalyst phases included."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = 0
        self.busy_s = 0.0

    @contextlib.contextmanager
    def _busy(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.busy_s += time.perf_counter() - t0

    def new_group(self, label: str) -> str:
        with self._busy():
            self._n += 1
            group = f"perfbench-{self._n}-{label}"
            self.sc.setJobGroup(group, label)
            return group

    def exec_stats(self, group: str) -> dict[str, float]:
        with self._busy():
            return self._exec_stats(group)

    def _exec_stats(self, group: str) -> dict[str, float]:
        # the status store is fed by an asynchronous listener bus
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes",
             "spill_bytes"), 0
        )
        out["jobs"] = len(jobs)
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # the stage never ran, or was evicted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def catalyst_ms(self, df) -> dict[str, float]:
        """Phase times of ``df``'s QueryExecution after forcing planning."""
        with self._busy():
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            out = {}
            for phase in ("analysis", "optimization", "planning"):
                opt = phases.get(phase)
                out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
            return out

    def cache_state(self) -> dict[str, float]:
        with self._busy():
            return self._cache_state()

    def _cache_state(self) -> dict[str, float]:
        from incubyte_vaccination_data_pipeline_spark import shared_cache

        entries = 0
        for cache in shared_cache._ALL_CACHES:
            entries += len(cache)
        storage = 0
        for info in self._jsc.getRDDStorageInfo():
            storage += info.memSize() + info.diskSize()
        return {
            "entries": entries,
            "persistent_rdds": self.sc._jsc.getPersistentRDDs().size(),
            "storage_bytes": storage,
        }


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class LoadSampler:
    """The load signature of a run: ``os.getloadavg()`` and the share of
    CPU time the hypervisor stole since the previous sample (work of
    other guests on the host, which the guest's load average does not
    show)."""

    def __init__(self) -> None:
        self.samples: list[dict] = []
        self._t0 = time.perf_counter()
        self._first = self._last = _cpu_ticks()
        self.sample()

    def sample(self) -> None:
        steal, total = _cpu_ticks()
        d_total = total - self._last[1]
        self.samples.append({
            "t": round(time.perf_counter() - self._t0, 1),
            "loadavg": [round(v, 2) for v in os.getloadavg()],
            "steal_frac": round((steal - self._last[0]) / d_total, 4) if d_total else 0.0,
        })
        self._last = (steal, total)

    def steal_frac(self) -> float:
        """Stolen share of CPU time since the sampler started."""
        d_total = self._last[1] - self._first[1]
        return (self._last[0] - self._first[0]) / d_total if d_total else 0.0
