"""Spans around the benchmark's calls into each layer, and read-only probes of
what the Spark driver already records about finished work.

Nothing here launches a Spark job: stage totals come from the application
status store, plan shapes from the SQL status store, cached bytes from the
block manager's storage info and GC time from the JVM's MXBeans. A disabled
``Tracer`` does nothing at all, so the untraced run makes exactly the same
Spark calls as the traced one, minus the bookkeeping.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

__all__ = ["Span", "SparkProbe", "Tracer", "self_times"]

# StageData getters summed per job group; the key is the name reported
_STAGE_SUMS = {
    "executor_run_ms": "executorRunTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
}


class SparkProbe:
    """Read-only views of one SparkSession's driver-side bookkeeping."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the status stores reflect the actions that just returned."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group_totals(self, group: str) -> dict[str, float]:
        """Job, stage and task counts plus summed stage metrics of every job
        run under ``group`` (completed stage attempts only; skipped stages
        did no work)."""
        self.drain()
        tracker = self.sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        store = self._jsc.statusStore()
        out = {"jobs": float(len(job_ids)), "stages": 0.0, "tasks": 0.0, "scan_run_ms": 0.0}
        out.update({k: 0.0 for k in _STAGE_SUMS})
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # evicted from the store or never submitted
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            for key, getter in _STAGE_SUMS.items():
                getters = getter if isinstance(getter, tuple) else (getter,)
                out[key] += sum(float(getattr(st, g)()) for g in getters)
            if st.inputBytes() > 0:  # a stage that reads files or cached blocks
                out["scan_run_ms"] += float(st.executorRunTime())
        out["job_ids"] = job_ids  # type: ignore[assignment]
        return out

    def exchanges(self, job_ids: list[int], lookback: int = 64) -> int:
        """Shuffle ``Exchange`` nodes in the final (post-AQE) plans of the
        SQL executions that ran any of ``job_ids``."""
        if not job_ids:
            return 0
        wanted = set(job_ids)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = int(sql.executionsCount())
        execs = sql.executionsList(max(0, n - lookback), lookback)
        total = 0
        for i in range(execs.size()):
            e = execs.apply(i)
            if not wanted & {int(j) for j in self._conv.asJava(e.jobs().keySet())}:
                continue
            graph = sql.planGraph(e.executionId())
            total += sum(
                1 for node in self._conv.asJava(graph.allNodes()) if node.name() == "Exchange"
            )
        return total

    def storage(self) -> tuple[int, int, list[str]]:
        """(memory bytes, disk bytes, RDD names) of every cached RDD."""
        mem = disk = 0
        names = []
        for info in self._jsc.getRDDStorageInfo():
            mem += int(info.memSize())
            disk += int(info.diskSize())
            names.append(str(info.name()))
        return mem, disk, names

    def gc_ms(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(int(b.getCollectionTime()) for b in beans)

    def jvm_pid(self) -> int:
        return int(self._jvm.java.lang.ProcessHandle.current().pid())


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    return (_hwm_kb(jvm_pid) + _hwm_kb("self")) / 1024.0


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    job_group: str | None = None
    stages: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans for one benchmark run.

    ``span(name, spark=True)`` also tags the Spark jobs started inside it with
    a job group of their own and, on exit, attaches that group's stage totals.
    Only leaf spans should tag jobs: the job group is one property per thread.
    """

    def __init__(self, probe: SparkProbe | None, run_id: str, enabled: bool) -> None:
        self.probe = probe
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, spark: bool = False) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        sp = Span(
            name,
            time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id,
        )
        self.spans.append(sp)
        self._stack.append(idx)
        sc = self.probe.sc if spark else None
        if sc is not None:
            sp.job_group = f"{self.run_id}/{idx}/{name}"
            sc.setJobGroup(sp.job_group, name, False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                sp.stages = self.probe.group_totals(sp.job_group)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it covered by its children."""
    out = []
    for i, sp in enumerate(spans):
        ivs = sorted((c.start, c.end) for c in spans if c.parent == i)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append(sp.dur - covered)
    return out
