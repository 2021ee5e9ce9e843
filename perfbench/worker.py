"""One benchmark process: start the session, register the inputs, run.

Started by ``run.py`` with a JSON spec as its only argument; writes its
result as JSON to ``spec["result_path"]``. Set-up time is measured from
the moment ``run.py`` spawned this process to ``ready_at``, when the
session is up and the inputs are registered. A probe (``spec["probe"]``)
stops there; it exists to take more set-up samples per run.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench worker +{time.perf_counter() - T0:.1f}s: {msg}", file=sys.stderr, flush=True)


def _session(spec: dict):
    from dataquality_box_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        parallelism=spec["cores"],
        shuffle_partitions=spec["cores"],
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(spec["work_dir"], "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(spec["work_dir"], "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Attempts:
    """Counts attempted and failed units of work and keeps the problems."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def run(self, workload) -> float:
        """Reset, time one iteration, then check its output (untimed)."""
        self.attempted += 1
        workload.reset()
        t0 = time.perf_counter()
        try:
            workload.iteration()
            elapsed = time.perf_counter() - t0
            problems = workload.check_iteration()
        except Exception:  # a failed iteration is counted, not fatal
            elapsed = time.perf_counter() - t0
            problems = [traceback.format_exc(limit=3)]
        if problems:
            self.failed += 1
            self.problems += problems
        return elapsed

    def fail_all(self, problems: list[str]) -> None:
        """A failed once-per-run check means every iteration ran a plan
        that produces wrong output."""
        if problems:
            self.problems += problems
            self.failed = self.attempted


def _measure(workload, seconds: float, jvm_pid: int) -> dict:
    from tracing import PeakRss

    attempts = Attempts()
    with PeakRss(jvm_pid) as rss:
        cold = attempts.run(workload)
        log(f"cold iteration {cold:.2f}s")
        warm = []
        deadline = time.perf_counter() + seconds
        while not warm or time.perf_counter() < deadline:
            warm.append(attempts.run(workload))
    log(f"{len(warm)} warm iterations")
    problems, _ = workload.final_check()
    log("final check done")
    attempts.fail_all(problems)
    return {
        "cold_s": cold,
        "warm_s": warm,
        "peak_rss_mb": rss.peak_mb,
        "rows": workload.input_rows(),
        "attempted": attempts.attempted,
        "failed": attempts.failed,
        "problems": attempts.problems,
    }


def _trace(spark, workloads: dict, name: str, reps: int) -> dict:
    """Per-layer run: the workload's own iteration under the stage
    counters, then every layer family on its inputs."""
    from tracing import StageCounters

    attempts = Attempts()
    own = workloads[name]
    attempts.run(own)  # untraced warm-up
    counters = StageCounters(spark)
    counters.mark()
    metrics = {"trace.iteration_s": attempts.run(own)}
    metrics.update(counters.read())
    metrics["session.initial_partitions"] = float(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    )
    log("traced iteration done")
    for family_name, family in workloads.items():
        log(f"layers of {family_name}")
        attempts.attempted += 1
        try:
            metrics.update(family.layers(reps, warm_up=family_name != name))
            problems = family.check_iteration()
            family_problems, counts = family.final_check()
            problems += family_problems
            metrics.update(counts)
        except Exception:
            problems = [traceback.format_exc(limit=3)]
        if problems:
            attempts.failed += 1
            attempts.problems += [f"{family_name}: {p}" for p in problems]
    return {
        "metrics": metrics,
        "attempted": attempts.attempted,
        "failed": attempts.failed,
        "problems": attempts.problems,
    }


def main(spec: dict) -> None:
    from workloads import WORKLOADS

    spark = _session(spec)
    result: dict = {}
    try:
        names = list(WORKLOADS) if spec["trace"] else [spec["workload"]]
        workloads = {
            n: WORKLOADS[n](spark, spec["inputs"], spec["work_dir"]) for n in names
        }
        for w in workloads.values():
            w.register()
        log("session up, inputs registered")
        result = {
            "ready_at": time.time(),
            "java": spark._jvm.System.getProperty("java.version"),
            "spark": spark.version,
        }
        if spec["trace"]:
            result.update(_trace(spark, workloads, spec["workload"], spec["trace_reps"]))
        elif not spec["probe"]:
            jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
            result.update(_measure(workloads[spec["workload"]], spec["seconds"], jvm_pid))
    finally:
        # no spark.stop(): run.py kills the whole process group, JVM and
        # Python workers included, and waits for it, which is faster
        with open(spec["result_path"], "w") as f:
            json.dump(result, f)


if __name__ == "__main__":
    main(json.loads(sys.argv[1]))
