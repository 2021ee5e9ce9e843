"""Benchmark of the transcript-quality engine on the host it runs on.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):

  pipeline     run_pipeline + kept_turns -> parquet on the seeded corpus
  partitioned  plans.partitioned.run_resumable on the same corpus
  queries      one pass over the ten headline driver queries, noop sinks

Each run generates (or reuses from ``.perfbench_cache/``) the inputs for
``--seed``, then starts fresh worker processes: set-up probes, then the
measuring worker, which runs one cold iteration and warm iterations for
``--seconds`` in a closed loop (one client, each iteration starts after
the previous one ends). Every iteration's output is checked outside the
timed region. With ``--trace 1`` the worker instead reports the per-layer
split. The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")

WORKLOADS = ("pipeline", "partitioned", "queries")
# Corpus size (conversations) and driver-table scale. Chosen so one run,
# set-up and checks included, stays well under a minute on a 4-core host.
N_CONVS = 4000
TABLES_SF = 0.05
SETUP_SAMPLES = 5  # the measuring worker plus four probes
TRACE_REPS = 3
RUN_TIMEOUT_S = 170.0


def host_settings() -> dict:
    """The run settings derived from the host, identical on both sides of
    any comparison made on that host."""
    cores = len(os.sched_getaffinity(0))
    mem_total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    # an eighth of physical memory, within [1, 8] GiB, in whole 256 MiB
    heap_mb = min(8192, max(1024, mem_total // 8 // 2**20 // 256 * 256))
    return {
        "cores": cores,
        "mem_total_mb": mem_total // 2**20,
        "driver_heap": f"{heap_mb}m",
        "python": platform.python_version(),
    }


def prepare_inputs(workload: str, seed: int, trace: bool, cache: str) -> dict:
    import inputs

    os.makedirs(cache, exist_ok=True)
    out = {}
    if trace or workload != "queries":
        out["corpus"] = inputs.transcripts(cache, N_CONVS, seed)
        out["reference"] = inputs.reference(cache, out["corpus"], N_CONVS, seed)
    if trace or workload == "queries":
        out["tables"] = inputs.driver_tables(cache, TABLES_SF, seed)
    return out


def worker_env(work: str, host: dict) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,
        DQX_DRIVER_MEM=host["driver_heap"],
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
    )
    return env


def _kill_group(pgid: int) -> None:
    """Kill what is left of a worker's process group (the JVM it started
    and the JVM's Python workers) and wait until all of it has ended."""
    try:
        os.killpg(pgid, signal.SIGKILL)
        while True:
            time.sleep(0.05)
            os.killpg(pgid, 0)
    except ProcessLookupError:
        pass


def run_worker(spec: dict, env: dict, deadline: float) -> dict:
    """Run one worker process to completion; returns its result with
    ``setup_s`` measured from spawn to the worker's ``ready_at``."""
    t_spawn = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(spec)],
        cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    finally:
        _kill_group(proc.pid)
        proc.wait()
    if code != 0:
        raise RuntimeError(f"worker exited with code {code}")
    with open(spec["result_path"]) as f:
        result = json.load(f)
    result["setup_s"] = result["ready_at"] - t_spawn
    return result


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from its name's suffix."""
    return "s" if name.endswith("_s") else "MB" if name.endswith("_mb") else "count"


def end_to_end(samples: list[dict]) -> dict[str, tuple[float, str]]:
    """End-to-end metrics from the set-up samples and the measuring
    worker's result (the last sample)."""
    r = samples[-1]
    warm = statistics.median(r["warm_s"])
    return {
        "setup_s": (statistics.median(s["setup_s"] for s in samples), "s"),
        "cold_s": (r["cold_s"], "s"),
        "warm_s": (warm, "s"),
        "turns_per_s": (r["rows"] / warm, "1/s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dataquality_box_spark")):
        print(f"error: engine package not found under {ROOT}", file=sys.stderr)
        return 2

    deadline = time.monotonic() + RUN_TIMEOUT_S
    host = host_settings()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    sys.path.insert(0, ROOT)
    try:
        inputs = prepare_inputs(
            args.workload, args.seed, bool(args.trace), os.path.join(ROOT, ".perfbench_cache")
        )
        env = worker_env(work, host)
        spec = {
            "workload": args.workload,
            "seconds": args.seconds,
            "trace": args.trace,
            "trace_reps": TRACE_REPS,
            "cores": host["cores"],
            "inputs": inputs,
            "work_dir": work,
        }
        samples = []
        n = 1 if args.trace else SETUP_SAMPLES
        for i in range(n):
            probe = i < n - 1
            samples.append(run_worker(
                dict(spec, probe=probe, result_path=os.path.join(work, f"result-{i}.json")),
                env, deadline,
            ))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = samples[-1]
    host.update(java=result["java"], spark=result["spark"])
    print("host: " + json.dumps(host))
    for p in result["problems"]:
        print(f"check failed: {p}")
    if args.trace:
        from tracing import BLOCKING_LAYERS

        metrics = {k: (v, layer_unit(k)) for k, v in sorted(result["metrics"].items())}
        blocking = sum(result["metrics"][f"layer.{k}_s"] for k in BLOCKING_LAYERS)
        print(f"pipeline layers {' + '.join(BLOCKING_LAYERS)} = {blocking:.4f} s")
    else:
        metrics = end_to_end(samples)
        print(f"warm iterations: {len(result['warm_s'])} "
              f"[{', '.join(f'{t:.3f}' for t in result['warm_s'])}] s, "
              f"failed_ratio: {result['failed'] / result['attempted']:.4f}")
    for k, (v, unit) in metrics.items():
        print(f"{k:34s} {v:14.4f} {unit}")
    print(json.dumps({
        "correct": result["failed"] == 0 and not result["problems"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
