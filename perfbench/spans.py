"""Spans around the benchmark's calls into each layer, with JVM counters.

A span records its name (the layer, e.g. ``operators.pagerank``), an
optional op label, start, end, parent span and the run id. With tracing on,
every span boundary also samples the Spark JVM:

* ``cpu_s``  — utime+stime of the JVM process from ``/proc/<pid>/stat``
  (the pid comes from ``ProcessHandle.current().pid()``);
* ``jobs``   — the DAG scheduler's next job id (an id delta, because the
  session retains only the last 50 jobs);
* ``shuffle_read_mb`` / ``shuffle_write_mb`` — totals over
  ``statusStore().executorList(true)`` after ``listenerBus().waitUntilEmpty()``;
* ``gc_s``   — summed collection time of the JVM's GC MXBeans.

Spans are kept in memory and written out once, when the run ends. With
tracing off the same spans exist (they are what the workloads time) but
the JVM is never sampled, so end-to-end timings carry no probe cost.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = ("cpu_s", "jobs", "shuffle_read_mb", "shuffle_write_mb", "gc_s")
_MB = 1024.0 * 1024.0
_CLK = os.sysconf("SC_CLK_TCK")


class JvmCounters:
    """Samples the Spark driver JVM through py4j and ``/proc``."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        jvm = spark._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def cpu_s(self) -> float:
        with open(f"/proc/{self.pid}/stat") as f:
            # the command field may hold spaces: fields count from its ')'
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / _CLK

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def sample(self) -> dict[str, float]:
        self._sc.listenerBus().waitUntilEmpty()
        execs = self._sc.statusStore().executorList(True)
        read = write = 0
        for i in range(execs.size()):
            ex = execs.apply(i)
            read += ex.totalShuffleRead()
            write += ex.totalShuffleWrite()
        return {
            "cpu_s": self.cpu_s(),
            "jobs": float(self._sc.dagScheduler().nextJobId()),
            "shuffle_read_mb": read / _MB,
            "shuffle_write_mb": write / _MB,
            "gc_s": sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0,
        }


@dataclass
class Span:
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. ``enabled=False`` still times spans (the workloads
    read their walls) but never samples the JVM."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.probe_s = 0.0
        self._stack: list[int] = []
        self._jvm: JvmCounters | None = None

    def attach(self, jvm: JvmCounters) -> None:
        self._jvm = jvm

    def _sample(self) -> dict[str, float]:
        if not self.enabled:
            return {}
        if self._jvm is None:
            # before the JVM exists its counters are all zero
            return dict.fromkeys(COUNTERS, 0.0)
        t = time.perf_counter()
        s = self._jvm.sample()
        self.probe_s += time.perf_counter() - t
        return s

    @contextmanager
    def span(self, name: str, op: str = ""):
        before = self._sample()
        sp = Span(name, op, self._stack[-1] if self._stack else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            after = self._sample()
            sp.counters = {k: after[k] - before[k] for k in after}

    def self_times(self) -> list[float]:
        """Per span: its wall minus the walls of its direct children
        (children run sequentially inside their parent)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.wall_s
        return [sp.wall_s - c for sp, c in zip(self.spans, child)]

    def layers(self) -> dict[str, dict[str, float]]:
        """Per layer: summed wall, self time, JVM counters and result
        counts over the layer's spans, plus the ratios cpu_util,
        s_per_superstep, jobs_per_superstep and active_frac (mean
        active_vertices / n over commits)."""
        out: dict[str, dict[str, float]] = {}
        for sp, self_s in zip(self.spans, self.self_times()):
            agg = out.setdefault(sp.name, {"spans": 0, "wall_s": 0.0, "self_s": 0.0})
            agg["spans"] += 1
            agg["wall_s"] += sp.wall_s
            agg["self_s"] += self_s
            for k, v in {**sp.counters, **sp.counts}.items():
                agg[k] = agg.get(k, 0.0) + v
        for agg in out.values():
            if "cpu_s" in agg and agg["wall_s"] > 0:
                agg["cpu_util"] = agg["cpu_s"] / agg["wall_s"]
            if agg.get("supersteps"):
                agg["s_per_superstep"] = agg["wall_s"] / agg["supersteps"]
                if "jobs" in agg:
                    agg["jobs_per_superstep"] = agg["jobs"] / agg["supersteps"]
            if agg.get("commits") and "active_sum" in agg:
                agg["active_frac"] = agg.pop("active_sum") / agg["commits"]
        return out

    def to_json(self) -> dict:
        return {
            "run_id": self.run_id,
            "probe_s": self.probe_s,
            "spans": [
                {
                    "id": i,
                    "name": sp.name,
                    "op": sp.op,
                    "parent": sp.parent,
                    "start": sp.start,
                    "end": sp.end,
                    "self_s": self_s,
                    "run_id": self.run_id,
                    **sp.counters,
                    **sp.counts,
                }
                for i, (sp, self_s) in enumerate(zip(self.spans, self.self_times()))
            ],
        }
