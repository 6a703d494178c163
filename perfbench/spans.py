"""Spans, Spark status figures, memory and host conditions.

The tracer records spans (name, start, end, parent, job group) from the
benchmark's own code around calls into the engine.  With tracing off,
``span`` is a bare timer: no job group is set and nothing is read from
Spark.  Spans stay in memory until ``finish``, which waits for Spark's
listener bus, reads each span's jobs, stages and task figures from the
status tracker and status store, and aggregates them by span name.
"""

from __future__ import annotations

import os
import platform
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyspark
from py4j.protocol import Py4JJavaError

# StageData getter → metric suffix and scale.
_STAGE_FIGURES = {
    "executorRunTime": ("executor_run_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / 2**20),
    "memoryBytesSpilled": ("spill_mb", 1 / 2**20),
    "diskBytesSpilled": ("spill_mb", 1 / 2**20),
    "inputBytes": ("input_mb", 1 / 2**20),
}


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    group: str | None
    end: float = 0.0
    figures: dict[str, float] = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.in_window = False
        self.overhead_s = 0.0  # time spent setting job groups inside the window

    @contextmanager
    def span(self, name: str):
        """Time ``name``; when tracing, also tag its Spark jobs with a
        job group of its own and restore the enclosing group after."""
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{len(self.spans)}" if self.enabled else None
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, name)
        sp = Span(name, time.perf_counter(), parent, group)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self._charge(t0)
        try:
            yield sp
        finally:
            sp.end = t1 = time.perf_counter()
            self._stack.pop()
            if group:
                outer = self.spans[parent].group if parent is not None else None
                if outer:
                    sc.setJobGroup(outer, self.spans[parent].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            self._charge(t1)

    def _charge(self, since: float) -> None:
        if self.in_window:
            self.overhead_s += time.perf_counter() - since

    def finish(self) -> dict[str, float]:
        """Per-layer figures by span name: wall seconds (summed over
        calls, with ``.calls``) and the Spark jobs, stages, tasks and
        stage figures of each span including its children."""
        if not self.enabled:
            return {}
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        reader = StageReader(self.spark)
        tracker = sc.statusTracker()
        for sp in self.spans:
            sp.figures = reader.jobs_figures(tracker.getJobIdsForGroup(sp.group))
        children: dict[int, list[int]] = {}
        for i, sp in enumerate(self.spans):
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(i)

        def inclusive(i: int) -> dict[str, float]:
            total = dict(self.spans[i].figures)
            for c in children.get(i, []):
                for k, v in inclusive(c).items():
                    total[k] = total.get(k, 0.0) + v
            return total

        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            add(out, f"{sp.name}.s", sp.end - sp.start)
            add(out, f"{sp.name}.calls", 1)
            for k, v in inclusive(i).items():
                add(out, f"{sp.name}.{k}", v)
        return out


def add(d: dict[str, float], key: str, v: float) -> None:
    d[key] = d.get(key, 0.0) + v


class StageReader:
    """Sums stage figures from Spark's status store over jobs or stage ids."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        self._no_list = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def stage_figures(self, stage_id: int) -> dict[str, float]:
        out: dict[str, float] = {}
        attempts = self._store.stageData(stage_id, False, self._no_list, False, self._no_quantiles)
        for a in range(attempts.size()):
            data = attempts.apply(a)
            add(out, "stages", 1)
            add(out, "tasks", data.numCompleteTasks() + data.numFailedTasks())
            for getter, (name, scale) in _STAGE_FIGURES.items():
                add(out, name, getattr(data, getter)() * scale)
        return out

    def jobs_figures(self, job_ids) -> dict[str, float]:
        out: dict[str, float] = {"jobs": float(len(job_ids))}
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                try:
                    figs = self.stage_figures(sid)
                except Py4JJavaError:  # stage skipped (shuffle reuse): never ran
                    continue
                for k, v in figs.items():
                    add(out, k, v)
        return out

    def all_job_ids(self) -> list[int]:
        jobs = self._store.jobsList(None)
        return [jobs.apply(i).jobId() for i in range(jobs.size())]


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_stat() -> tuple[int, int]:
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


class HostConditions:
    """Host state over a run: load per cpu, steal share, task slots,
    driver memory, versions.  Recorded to explain a noisy set; never
    used to drop a run."""

    def __init__(self):
        self._total0, self._steal0 = _cpu_stat()

    def report(self, spark) -> dict[str, object]:
        total1, steal1 = _cpu_stat()
        nproc = os.cpu_count() or 1
        jvm = spark.sparkContext._jvm

        return {
            "loadavg_per_cpu": round(os.getloadavg()[0] / nproc, 3),
            "steal_share": round((steal1 - self._steal0) / max(total1 - self._total0, 1), 5),
            "nproc": nproc,
            "task_slots": spark.sparkContext.defaultParallelism,
            "spark_driver_memory": os.environ.get("SPARK_DRIVER_MEMORY", ""),
            "pyspark": pyspark.__version__,
            "java": f"{jvm.System.getProperty('java.vm.name')} {jvm.System.getProperty('java.version')}",
            "python": platform.python_version(),
        }
