"""Spans around the calls into each layer, joined with Spark's own job and
stage records.

A span records name, start, end, its parent span and the op it belongs to,
plus the range of Spark job ids and stage ids created while it was open.
Stages are attributed by id range, never by job group: job groups are
thread-local and a streaming sink runs its jobs on the stream's thread.
The job and stage records come from the live status store
(``statusStore``), read right after the span ends and the listener bus has
drained, so that the store has not yet evicted them.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

LAYERS = (
    "session",
    "sources.corpus",
    "operators.chunk",
    "operators.embed",
    "sources.store",
    "operators.search",
    "operators.rag",
    "streaming.pipeline",
    "operators.dedup",
    "operators.curation",
    "sources.index_store",
)
SCANNING = ("sources.corpus", "sources.store", "sources.index_store")
STAGE_FIELDS = ("tasks", "failed_tasks", "task_cpu_s", "gc_s", "shuffle_mb", "spill_mb",
                "input_mb", "input_rows")
LAYER_METRICS = ("wall_s", "driver_s", "jobs") + STAGE_FIELDS[:-2]
SCAN_METRICS = STAGE_FIELDS[-2:]
_MB = 2**20


class SparkCounters:
    """Job/stage id cursors and records of one SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def cursor(self) -> tuple[int, int]:
        dag = self._sc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId()

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self, lo: int, hi: int) -> list[tuple[float, float]]:
        """(submitted, completed) epoch seconds of jobs lo..hi-1."""
        store = self._sc.statusStore()
        out = []
        for j in range(lo, hi):
            jd = store.job(j)
            sub, end = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and end.isDefined():
                out.append((sub.get().getTime() / 1e3, end.get().getTime() / 1e3))
        return out

    def stages(self, lo: int, hi: int) -> dict:
        """Summed task metrics of the stages lo..hi-1 that ran."""
        store = self._sc.statusStore()
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        for s in range(lo, hi):
            sd = store.lastStageAttempt(s)
            if sd.status().toString() == "SKIPPED":
                continue
            tot["tasks"] += sd.numTasks()
            # a retried stage attempt means tasks of an earlier attempt failed
            tot["failed_tasks"] += sd.numFailedTasks() + sd.attemptId()
            tot["task_cpu_s"] += sd.executorCpuTime() / 1e9
            tot["gc_s"] += sd.jvmGcTime() / 1e3
            tot["shuffle_mb"] += (sd.shuffleWriteBytes() + sd.shuffleReadBytes()) / _MB
            tot["spill_mb"] += sd.diskBytesSpilled() / _MB
            # parquet scans report only part of their bytes here; rows are exact
            tot["input_mb"] += sd.inputBytes() / _MB
            tot["input_rows"] += sd.inputRecords()
        return tot


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class Tracer:
    """Spans kept in memory; ``dump`` writes them out as JSON lines."""

    def __init__(self):
        self.counters: SparkCounters | None = None  # set once the session exists
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: tuple[str, int] | None = None
        self._n_ops = 0

    @contextmanager
    def op(self, name: str):
        """An operation the workload's user waits on; layer spans nest in it."""
        self._n_ops += 1
        self._op = (name, self._n_ops)
        try:
            with self.span(name, layer=None):
                yield
        finally:
            self._op = None

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        if layer is not None and layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        j0 = s0 = 0
        if self.counters is not None:
            self.counters.drain()
            j0, s0 = self.counters.cursor()
        rec = {
            "name": name,
            "layer": layer,
            "op": self._op[0] if self._op else None,
            "op_id": self._op[1] if self._op else None,
            "parent": self._stack[-1] if self._stack else None,
            "id": len(self.spans),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.counters is not None:  # None when the session never started
                self.counters.drain()
                j1, s1 = self.counters.cursor()
                jobs = self.counters.jobs(j0, j1)
                rec.update(
                    jobs=j1 - j0,
                    job_ids=[j0, j1],
                    stage_ids=[s0, s1],
                    driver_s=(rec["end"] - rec["start"]) - _covered(jobs, rec["start"], rec["end"]),
                    **self.counters.stages(s0, s1),
                )

    def self_time(self, rec: dict) -> float:
        kids = [(s["start"], s["end"]) for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - _covered(kids, rec["start"], rec["end"])

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per layer: self wall time plus the span's job/stage sums.  Layer
        spans are leaves here, so their job sums are their own."""
        out = {layer: dict.fromkeys(LAYER_METRICS + SCAN_METRICS, 0.0) for layer in LAYERS}
        for rec in self.spans:
            if rec["layer"] is None:
                continue
            acc = out[rec["layer"]]
            acc["wall_s"] += self.self_time(rec)
            acc["driver_s"] += rec["driver_s"]
            acc["jobs"] += rec["jobs"]
            for f in STAGE_FIELDS:
                acc[f] += rec[f]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")
