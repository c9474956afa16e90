#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload etl_reference --seed 1 --seconds 10 --trace 0

Workloads and metrics are listed in ``BENCHMARK.json`` and explained in
``perfbench/README.md``. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones. A line
before it records the inputs and the host context of the run.

Everything the run writes goes under ``.perfbench_work/`` at the root
of the checkout and is removed when it ends. ``--scale tiny`` shrinks
every input for the smoke test; timings at that scale mean nothing.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_reference", "corpus_index")


def _physical_mem_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def pin_env(work: str) -> dict:
    """Pin the engine's run environment before Spark starts, and
    return it. Driver memory is half of physical RAM (the session's
    16g default can exceed the machine); every scratch directory the
    engine or the JVM uses lives under ``work``."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    mem_gb = max(1, _physical_mem_bytes() // 2**30 // 2)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData' --conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }
    os.environ.update(env)
    return env


def _fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (from /proc/mounts)."""
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                    best, kind = parts[1], parts[2]
    except OSError:
        pass
    return kind


def _cpu_times() -> list[int]:
    """Cumulative CPU times from /proc/stat; field 7 is time stolen by
    the hypervisor for other guests."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def _steal_frac(t0: list[int], t1: list[int]) -> float | None:
    d = [b - a for a, b in zip(t0, t1)]
    return round(d[7] / sum(d), 4) if len(d) > 7 and sum(d) else None


def _loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return []


def cpu_probe(spark) -> float:
    """Seconds for a constant amount of CPU work in Spark: an xxhash64
    fold over 32M in-memory rows. Host context only; no metric is
    divided by it."""
    t0 = time.perf_counter()
    spark.range(0, 32_000_000, 1, 8).selectExpr("bit_xor(xxhash64(id)) AS h").collect()
    return round(time.perf_counter() - t0, 4)


class Bench:
    """State of one run: the session, the tracer, op samples and the
    attempted/failed counters that feed ``ops.ok_frac``."""

    def __init__(self, spark, tracer, seconds: float, work: str, start_s: float, ready_s: float):
        self.spark = spark
        self.tracer = tracer
        self.span = tracer.span
        self.seconds = seconds
        self.work = work
        self.start_s = start_s  # session start, including its first job
        self.ready_s = ready_s  # session start and input generation, overlapped
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.inputs: dict[str, int] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, kind: str, fn):
        """Run one timed operation; returns its result, or None if it
        raised (counted as failed)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # noqa: BLE001 - a failed op is a result, not a crash
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        self.samples.setdefault(kind, []).append(time.perf_counter() - t0)
        return out

    def check(self, ok: bool, what: str) -> bool:
        """Count one output check as an operation, failed if the output
        is wrong."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.log(f"wrong output: {what}")
        return ok

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def median(self, kind: str) -> float:
        xs = self.samples.get(kind) or [float("nan")]
        return statistics.median(xs)

    def timed_setup(self, fn, repeats: int = 3) -> float:
        """Median seconds of ``repeats`` runs of a repeatable set-up step."""
        ts = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit: the JVM ends when
    the pipe on its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, never leave it running
            proc.kill()
            proc.wait()


def _workload(name: str):
    """The workload module: ``generate(seed, tiny)`` makes its inputs
    without Spark, ``run(bench, inputs)`` drives the engine."""
    if name == "etl_reference":
        from perfbench import etl

        return etl
    from perfbench import corpus

    return corpus


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "workhop2_etl_spark")):
        print(f"perfbench: no engine sources at {ROOT}/workhop2_etl_spark", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    env = pin_env(work)
    sys.path.insert(0, ROOT)
    spark = None
    try:
        from perfbench.trace import Tracer
        from workhop2_etl_spark.session import get_spark

        workload = _workload(args.workload)
        load0, cpu0 = _loadavg(), _cpu_times()
        # inputs are generated in a thread while the session starts: the
        # main thread mostly waits on the JVM
        with ThreadPoolExecutor(max_workers=1) as pool:
            t0 = time.perf_counter()
            made = pool.submit(workload.generate, args.seed, args.scale == "tiny")
            spark = get_spark(f"perfbench-{args.workload}")
            spark.range(1).collect()
            start_s = time.perf_counter() - t0
            inputs = made.result()
            ready_s = time.perf_counter() - t0
        bench = Bench(spark, Tracer(spark, bool(args.trace)), args.seconds, work, start_s, ready_s)
        e2e, layer = workload.run(bench, inputs)
        host = {
            "env": env,
            "local_dirs_fs": _fs_type(env["SPARK_LOCAL_DIRS"]),
            "loadavg_start": load0,
            "loadavg_end": _loadavg(),
            "cpu_steal_frac": _steal_frac(cpu0, _cpu_times()),
            "cpu_probe_s": cpu_probe(spark),
            "nproc": os.cpu_count(),
        }
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):  # other runs may still use it
                os.rmdir(os.path.dirname(work))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    # a layer-specific count the workload never produces reads zero
    metrics = {m["name"]: (layer.get(m["name"], 0) if args.trace else e2e[m["name"]]) for m in spec}

    print(json.dumps({"workload": args.workload, "seed": args.seed, "inputs": bench.inputs,
                      "samples": {k: len(v) for k, v in bench.samples.items()}, "host": host}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
