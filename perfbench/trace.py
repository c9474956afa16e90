"""Outside-in tracing: one span per call the benchmark makes into a layer.

Untraced, a span does nothing. Traced, each span runs under
its own Spark job group; when it closes, the span reads the jobs it
launched from ``SparkContext.statusTracker()`` and each stage's shuffle,
spill, I/O and task run time from the driver's status store, which
works with the UI disabled. Library code that launches jobs from its
own worker threads does not inherit the job group, so jobs without a
group that appear while a span is open are charged to that span too:
the benchmark is a single closed-loop client, so nothing else runs.

Spark is lazy. A span's jobs are the jobs its call forced, including
lazy upstream work that the call's action executed.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: Counters every traced layer reports, in this order.
GENERIC = (
    "wall_s",
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "task_run_s",
    "input_bytes",
    "output_bytes",
)

#: Layers that get the generic counters (``session`` reports start_s only).
LAYERS = (
    "sources",
    "plans.grammy_spotify",
    "plans.analytics",
    "operators.text",
    "operators.dedup_text",
    "operators.similarity",
    "operators.retrieval",
    "streaming.index_stream",
    "operators.index_store",
)

_SETTLE_S = 2.0  # longest wait for the listener bus to record a finished job


class Tracer:
    """Collects per-layer totals for the spans of one run."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(GENERIC, 0))
        self.tags: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(GENERIC, 0))
        self.overhead_s = 0.0  # time spent on bookkeeping, not in any call
        self._seq = 0

    @contextmanager
    def span(self, layer: str, tag: str | None = None):
        """Traced, run the body under its own Spark job group and charge
        its wall time and jobs to ``layer`` and, when given, to ``tag`` (a
        finer grouping inside a layer). Untraced, just run the body."""
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        if not self.traced:
            yield
            return
        b0 = time.perf_counter()
        self._seq += 1
        group = f"perfbench-{self._seq}-{layer}"
        st = self.sc.statusTracker()
        before = set(st.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        self.overhead_s += t0 - b0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            jobs = set(st.getJobIdsForGroup(group))
            jobs |= set(st.getJobIdsForGroup(None)) - before
            counts = dict.fromkeys(GENERIC, 0)
            counts["wall_s"] = t1 - t0
            self._add_jobs(counts, sorted(jobs))
            for tot in (self.totals[layer], self.tags[tag] if tag else None):
                if tot is not None:
                    for k, v in counts.items():
                        tot[k] += v
            self.overhead_s += time.perf_counter() - t1

    def _add_jobs(self, tot: dict, jobs: list[int]) -> None:
        st = self.sc.statusTracker()
        deadline = time.perf_counter() + _SETTLE_S
        stage_ids: set[int] = set()
        for jid in jobs:
            info = st.getJobInfo(jid)
            while info is not None and info.status == "RUNNING" and time.perf_counter() < deadline:
                time.sleep(0.01)
                info = st.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        tot["jobs"] += len(jobs)
        store = self.sc._jsc.sc().statusStore()
        for sid in stage_ids:
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store, or never submitted
                continue
            if s.numCompleteTasks() == 0:
                continue  # skipped: its output was reused from an earlier stage
            tot["stages"] += 1
            tot["tasks"] += s.numCompleteTasks()
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["shuffle_read_bytes"] += s.shuffleReadBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tot["task_run_s"] += s.executorRunTime() / 1000.0
            tot["input_bytes"] += s.inputBytes()
            tot["output_bytes"] += s.outputBytes()

    def tag_total(self, tag: str, counter: str) -> float:
        return self.tags[tag][counter] if tag in self.tags else 0.0

    def layer_metrics(self, per: int) -> dict[str, float]:
        """``<layer>.<counter>`` per workload pass (``per`` passes were
        traced) for every layer, zero where unused, plus the tracing
        overhead."""
        out = {}
        for layer in LAYERS:
            tot = self.totals.get(layer) or dict.fromkeys(GENERIC, 0)
            for k in GENERIC:
                out[f"{layer}.{k}"] = tot[k] / per
        out["trace.overhead_s"] = self.overhead_s / per
        return out
