"""Measurement helpers: medians, prefix differences, Spark counters, RSS.

Spark plans are lazy, so a layer's time is measured as the difference
between noop-sink actions on successive plan prefixes, and a layer's
counters are read from Spark's status store after the action. The status
store is reachable over py4j with the UI disabled.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

# Pipeline plan prefixes in execution order. A layer's time is its
# prefix's median minus the median of the prefix it extends; text flags
# and the scorer are each measured alone over the scan, so together they
# show how much of annotate the two overlap.
PREFIX_PARENT = {
    "scan": None,
    "text_flags": "scan",
    "scorer": "scan",
    "annotate": "scan",
    "conv_window": "annotate",
    "decide_scrub": "conv_window",
    "write": "decide_scrub",
}
# The prefixes whose increments add up to the whole pipeline.
BLOCKING_LAYERS = ("scan", "annotate", "conv_window", "decide_scrub", "write")


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def prefix_differences(prefix_s: dict[str, float]) -> dict[str, float]:
    """Layer times from median prefix times (seconds, keyed like
    ``PREFIX_PARENT``). Noise can make an increment slightly negative;
    it is reported as measured."""
    return {
        layer: prefix_s[layer] - (prefix_s[parent] if parent else 0.0)
        for layer, parent in PREFIX_PARENT.items()
    }


def timed(fn) -> float:
    """Wall seconds of ``fn()``."""
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def noop_sink(df) -> None:
    """Run ``df`` to completion into Spark's noop sink."""
    df.write.format("noop").mode("overwrite").save()


class StageCounters:
    """Sums status-store stage metrics over the stages that ran after
    ``mark()``; ``read()`` returns them with JVM GC time and the peak of
    the old generation (what survives young collections, cached blocks
    among it). The heap is pre-touched at start-up, so its resident size
    says nothing about use; the old generation's peak does."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gc_beans = mf.getGarbageCollectorMXBeans()
        self._old_gen = [
            p for p in mf.getMemoryPoolMXBeans()
            if str(p.getType()) == "Heap memory"
            and not any(y in p.getName() for y in ("Eden", "Survivor"))
        ]
        self._last_stage = -1
        self._gc_ms = 0

    def _stages(self):
        store = self._store
        seq = store.stageList(None, False, False, getattr(store, "stageList$default$4")(), None)
        return [seq.apply(i) for i in range(seq.size())]

    def _gc_total_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def mark(self) -> None:
        self._last_stage = max((s.stageId() for s in self._stages()), default=-1)
        self._gc_ms = self._gc_total_ms()
        for p in self._old_gen:
            p.resetPeakUsage()

    def read(self) -> dict[str, float]:
        new = [
            s for s in self._stages()
            if s.stageId() > self._last_stage and str(s.status()) == "COMPLETE"
        ]
        mb = 1e6
        return {
            "stage.tasks": float(sum(s.numTasks() for s in new)),
            "stage.shuffle_write_mb": sum(s.shuffleWriteBytes() for s in new) / mb,
            "stage.spill_mb": sum(s.diskBytesSpilled() for s in new) / mb,
            "stage.executor_run_s": sum(s.executorRunTime() for s in new) / 1e3,
            "stage.executor_cpu_s": sum(s.executorCpuTime() for s in new) / 1e9,
            "stage.output_mb": sum(s.outputBytes() for s in new) / mb,
            "jvm.gc_s": (self._gc_total_ms() - self._gc_ms) / 1e3,
            "jvm.old_gen_peak_mb": sum(p.getPeakUsage().getUsed() for p in self._old_gen) / mb,
        }


def _tree_rss_kb(jvm_pid: int) -> int:
    """Resident memory of the driver JVM and its Python worker processes,
    as proportional set size: a page shared by n processes counts 1/n in
    each, so workers forked from one daemon are not counted twice. Other
    children of the JVM (short-lived helpers such as ``chmod``) are left
    out: between spawn and exec they share the JVM's memory and would
    count it again."""
    total, stack = 0, [jvm_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if pid == jvm_pid or comm.startswith("python"):
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += sum(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited between listing and reading
    return total


class PeakRss:
    """Samples the resident memory of a process tree (the driver JVM and
    the Python workers it forks) on a background thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.5):
        self._pid = root_pid
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_kb = 0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(self._pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(self._pid))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
