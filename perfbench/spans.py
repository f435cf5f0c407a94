"""Spans and Spark-side counters for the traced benchmark run.

A :class:`Tracer` records one span per layer boundary (name, start,
end, parent op) around the benchmark's own calls into the package, and
attributes Spark jobs to each span through a job group. Counters are
read from Spark's status store, the query's planning tracker and the
JVM's management beans. With tracing off every method is a no-op, so
the untraced run pays nothing beyond the op timer itself.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

# Per-stage fields summed into the exec layer, from v1.StageData.
_STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "mem_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "input_bytes": "inputBytes",
}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._seq = 0
        self._op: str | None = None

    # -- spans --------------------------------------------------------

    def begin_op(self, op_id: str) -> None:
        self._op = op_id

    @contextlib.contextmanager
    def span(self, layer: str, jobs: bool = False):
        """Time one call into ``layer``. With ``jobs``, Spark jobs the
        call launches are attributed to the span and their stage
        metrics summed under ``layer``."""
        if not self.enabled:
            yield
            return
        self._seq += 1
        group = f"pb-{self._seq}"
        sc = self.spark.sparkContext
        if jobs:
            sc.setJobGroup(group, layer)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            if jobs:
                sc.setJobGroup("pb-untraced", "untraced")
            self.spans.append(
                {"name": layer, "start": start, "end": end, "op": self._op,
                 "group": group if jobs else None}
            )
            self.counts[f"{layer}_s"] += end - start
            if jobs:
                self._count_jobs(layer, group)

    def keep_only(self, prefixes: tuple[str, ...]) -> None:
        """Drop the counts of every layer not named by ``prefixes``
        (set-up work is not charged to the timed rounds' layers)."""
        self.counts = defaultdict(
            float, {k: v for k, v in self.counts.items() if k.startswith(prefixes)}
        )

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.counts[key] += value

    def _count_jobs(self, layer: str, group: str) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30000)
        store = jsc.statusStore()
        job_ids = sc.statusTracker().getJobIdsForGroup(group)
        self.counts[f"{layer}.jobs"] += len(job_ids)
        seen: set[int] = set()
        for jid in job_ids:
            info = sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # stage evicted from the store
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its output was reused
                self.counts[f"{layer}.stages"] += 1
                self.counts[f"{layer}.tasks"] += sd.numTasks()
                for key, field in _STAGE_FIELDS.items():
                    self.counts[f"{layer}.{key}"] += getattr(sd, field)()

    # -- one-shot readers ---------------------------------------------

    def catalyst(self, df) -> None:
        """Force optimization and physical planning of ``df`` and add
        its planning-tracker phase times (ms)."""
        if not self.enabled:
            return
        with self.span("catalyst"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                self.counts[f"catalyst.{phase}_ms"] += opt.get().durationMs()

    def resident_cache(self) -> tuple[int, float]:
        """(cached RDD count, their in-memory MB) from the status store."""
        rdds = self.spark.sparkContext._jsc.sc().statusStore().rddList(True)
        n, mem = rdds.size(), 0
        for i in range(n):
            mem += rdds.apply(i).memoryUsed()
        return n, mem / 2**20

    def jvm(self) -> dict[str, float]:
        """Heap high-water (sum of heap pools' peaks) and total GC time."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        heap = 0
        for pool in mf.getMemoryPoolMXBeans():
            if pool.getType().toString() == "Heap memory":
                heap += pool.getPeakUsage().getUsed()
        gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return {"heap_peak_mb": heap / 2**20, "gc_ms": float(gc)}

    # -- output -------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: span duration minus the part of it that
        spans nested inside it (same op, contained interval) cover."""
        out: dict[str, float] = defaultdict(float)
        by_op: dict[str | None, list[dict]] = defaultdict(list)
        for s in self.spans:
            by_op[s["op"]].append(s)
        for spans in by_op.values():
            spans.sort(key=lambda s: (s["start"], -s["end"]))
            for i, s in enumerate(spans):
                covered, reach = 0.0, s["start"]
                for c in spans[i + 1:]:
                    if c["start"] >= s["end"]:
                        break
                    if c["end"] > s["end"]:
                        continue  # overlapping sibling, not a child
                    lo = max(c["start"], reach)
                    if c["end"] > lo:
                        covered += c["end"] - lo
                        reach = c["end"]
                out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts),
                       "self_s": self.self_times()}, f)


class CpuClock:
    """User + system CPU seconds consumed by the Spark JVM and by this
    Python process, less what the JVM's JIT compiler threads consumed.
    Compilation is the JVM warming up, not the op's work: it runs on
    its own threads, long after the code that triggered it, and lands
    in whichever op happens to be running. Time the host steals from
    the VM is not counted either, so per-op CPU stays steady on a
    shared box where wall time does not."""

    _JIT = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, spark):
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self._proc = f"/proc/{pid}"
        self._tick = os.sysconf("SC_CLK_TCK")
        # The JVM starts and retires compiler threads as load changes; a
        # retired thread's ticks stay in the process total, so keep the
        # last reading of every compiler thread seen.
        self._jit: dict[str, int] = {}

    @staticmethod
    def _ticks(stat_path: str) -> tuple[str, int]:
        with open(stat_path) as f:
            head, tail = f.read().rsplit(")", 1)
        fields = tail.split()
        return head.split("(", 1)[1], int(fields[11]) + int(fields[12])

    def now(self) -> float:
        _, total = self._ticks(f"{self._proc}/stat")
        for tid in os.listdir(f"{self._proc}/task"):
            try:
                name, ticks = self._ticks(f"{self._proc}/task/{tid}/stat")
            except FileNotFoundError:  # the thread just exited
                continue
            if name.startswith(self._JIT):
                self._jit[tid] = ticks
        t = os.times()
        return (total - sum(self._jit.values())) / self._tick + t.user + t.system


def jvm_cpu_s(spark) -> float:
    """User + system CPU seconds the Spark JVM has used since launch,
    with its reaped children (the launcher that built its command)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")


def own_cpu_s() -> float:
    """User + system CPU seconds of this process and its reaped children."""
    t = os.times()
    return t.user + t.system + t.children_user + t.children_system


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of this machine so far, from /proc/stat:
    the stolen share of a window says how much the host slowed it."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def jvm_rss_peak_mb(spark) -> float:
    """Resident-set high-water mark (VmHWM) of the Spark JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")
