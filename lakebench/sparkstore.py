"""Jobs and stages read back from Spark's own status store, and the
driver JVM's GC and heap readings.

``SparkContext.statusStore()`` is populated even with the UI disabled.
It is read once, after the measured passes, so the reads cost nothing
inside the timed region.
"""

from __future__ import annotations

import gc
import time
from dataclasses import dataclass

_MB = 1024.0 * 1024.0


@dataclass
class StageStats:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    output_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, o: "StageStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


@dataclass
class Job:
    job_id: int
    group: str | None
    stage_ids: list[int]
    submitted: float | None = None  # on the span clock


def drain(sc) -> None:
    """Wait until the listener bus has delivered every event, so the
    status store holds the last job's end."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def read_jobs(sc, wall_offset: float) -> dict[int, Job]:
    """Every job; submission times are moved to the span clock (wall
    clock minus ``wall_offset``)."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    out = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        grp = j.jobGroup()
        ids = j.stageIds()
        sub = j.submissionTime()
        out[j.jobId()] = Job(j.jobId(),
                             grp.get() if grp.isDefined() else None,
                             [ids.apply(k) for k in range(ids.size())],
                             sub.get().getTime() / 1e3 - wall_offset
                             if sub.isDefined() else None)
    return out


def read_stages(sc) -> dict[int, StageStats]:
    """Metrics of every stage attempt that ran, summed per stage id;
    skipped stages (their shuffle output reused) count nothing."""
    gw = sc._gateway
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), None)
    out: dict[int, StageStats] = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        if str(s.status()) == "SKIPPED":
            continue
        st = StageStats(
            tasks=s.numCompleteTasks(),
            run_s=s.executorRunTime() / 1e3,
            cpu_s=s.executorCpuTime() / 1e9,
            output_mb=s.outputBytes() / _MB,
            shuffle_read_mb=s.shuffleReadBytes() / _MB,
            shuffle_write_mb=s.shuffleWriteBytes() / _MB,
            spill_mb=s.diskBytesSpilled() / _MB)
        out.setdefault(s.stageId(), StageStats()).add(st)
    return out


def gc_s(sc) -> float:
    """Cumulative JVM garbage-collection time of the driver JVM."""
    beans = sc._gateway.jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def jvm_pid(sc) -> int:
    return sc._gateway.jvm.java.lang.ProcessHandle.current().pid()



def _heap_pools(sc):
    lm = sc._gateway.jvm.java.lang.management
    return [p for p in lm.ManagementFactory.getMemoryPoolMXBeans()
            if p.getType() == lm.MemoryType.HEAP]


def reset_heap_peaks(sc) -> None:
    for p in _heap_pools(sc):
        p.resetPeakUsage()


def heap_peak_mb(sc) -> float:
    """Peak use of the driver's heap pools since the last reset, summed
    over the pools (each pool's own peak)."""
    return sum(p.getPeakUsage().getUsed() for p in _heap_pools(sc)) / _MB


def retained_heap_mb(sc) -> float:
    """Heap the driver still holds after full collections: the session's
    live state (memo frames, checkpoint blocks, listener state). Python
    objects pin their JVM peers until Python collects them and py4j
    releases the peers, which lags, so collect on both sides until the
    figure settles (within 1%, at most five rounds a second apart)."""
    jvm = sc._gateway.jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = None
    for _ in range(5):
        gc.collect()
        jvm.java.lang.System.gc()
        used = heap.getHeapMemoryUsage().getUsed() / _MB
        if last is not None and abs(used - last) <= 0.01 * last:
            break
        last = used
        time.sleep(1)
    return used
