"""Spans, Spark status-store counters and process-tree memory.

A ``Tracer`` wraps each benchmark operation in a Spark job group and
records spans (name, start, end, parent, op id) around the calls the
benchmark makes into each engine layer. Spans stay in memory and are
written as JSON once, at the end of the run. Stage counters come from
Spark's status store, read after the operation has returned, so they
add nothing to the operation's own latency. A disabled tracer only
takes the wall-clock time of each operation.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

SPARK_KEYS = ("jobs", "stages", "tasks", "in_job_ms", "driver_only_ms",
              "task_run_ms", "task_cpu_ms", "python_gap_ms",
              "shuffle_read_mb", "shuffle_write_mb", "input_mb", "spill_mb",
              "straggler_ratio")

_MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list = []
        self.ops: list = []
        self.tracer_s = 0.0      # time spent reading counters
        self._stack: list = []
        self._n = 0

    @contextmanager
    def op(self, kind: str, traced: bool = True):
        """One closed-loop operation. Yields a record that receives
        ``wall_ms`` and, when traced, ``spark`` counters."""
        self._n += 1
        rec = {"op": self._n, "kind": kind, "traced": self.enabled and traced}
        sc = self.spark.sparkContext
        group = f"bench-op-{self._n}"
        if rec["traced"]:
            sc.setJobGroup(group, kind, False)
            self._stack.append((self._n, None))
        t0 = time.perf_counter()
        try:
            with self.span(kind):
                yield rec
        finally:
            rec["wall_ms"] = (time.perf_counter() - t0) * 1000.0
            if rec["traced"]:
                self._stack.pop()
                sc.setLocalProperty("spark.jobGroup.id", None)
                t1 = time.perf_counter()
                rec["spark"] = self._group_counters(group, rec["wall_ms"])
                self.tracer_s += time.perf_counter() - t1
            self.ops.append(rec)

    @contextmanager
    def span(self, name: str):
        """A span around one call into an engine layer; a no-op unless
        the enclosing operation is traced."""
        if not self._stack:
            yield
            return
        op_id, parent = self._stack[-1]
        sid = len(self.spans)
        t0 = time.perf_counter()
        self.spans.append({"id": sid, "name": name, "op": op_id,
                           "parent": parent, "start": t0, "end": None})
        self._stack.append((op_id, sid))
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def span_ms(self, name: str) -> list:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans
                if s["name"] == name and s["end"] is not None]

    # ---- Spark status store ----

    def _group_counters(self, group: str, wall_ms: float) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        intervals, ratios = [], []
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            if job.submissionTime().isDefined() \
                    and job.completionTime().isDefined():
                intervals.append((job.submissionTime().get().getTime(),
                                  job.completionTime().get().getTime()))
            sids = job.stageIds()
            for i in range(sids.length()):
                self._stage(store, sids.apply(i), out, ratios)
        out["in_job_ms"] = float(_union_ms(intervals))
        out["driver_only_ms"] = max(wall_ms - out["in_job_ms"], 0.0)
        out["python_gap_ms"] = out["task_run_ms"] - out["task_cpu_ms"]
        # the stage holding the most task time decides the op's skew
        out["straggler_ratio"] = max(ratios)[1] if ratios else 1.0
        return out

    @staticmethod
    def _stage(store, sid, out: dict, ratios: list) -> None:
        from py4j.protocol import Py4JJavaError
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:
            return  # a stage skipped because its shuffle output existed
        if str(st.status()) == "SKIPPED":
            return
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["task_run_ms"] += st.executorRunTime()
        out["task_cpu_ms"] += st.executorCpuTime() / 1e6
        out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
        out["input_mb"] += st.inputBytes() / _MB
        out["spill_mb"] += (st.memoryBytesSpilled()
                            + st.diskBytesSpilled()) / _MB
        tasks = store.taskList(sid, st.attemptId(), 100_000)
        runs = []
        for i in range(tasks.length()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                runs.append(m.get().executorRunTime())
        if len(runs) >= 2:
            med = statistics.median(runs)
            ratios.append((sum(runs), max(runs) / med if med > 0 else 1.0))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "ops": self.ops}, fh)


def _union_ms(intervals: list) -> int:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def mean_counters(recs: list) -> dict:
    """Per-op mean of each Spark counter over traced records."""
    rows = [r["spark"] for r in recs if "spark" in r]
    if not rows:
        return dict.fromkeys(SPARK_KEYS, 0.0)
    return {k: sum(r[k] for r in rows) / len(rows) for k in SPARK_KEYS}


class MemSampler:
    """Peak memory of this process and all its descendants (the Spark JVM
    and its Python workers), sampled every 250 ms. Memory is summed as
    proportional set size: Python workers are forked from one daemon, and
    summing their RSS would count the pages they share once per worker."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_pss_kb(root))
            self._stop.wait(0.25)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _field_kb(path: str, key: str) -> int | None:
    try:
        with open(path, encoding="ascii", errors="replace") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    return None


def process_tree(root: int) -> list:
    """``root`` and the pids of all its live descendants."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            ppid = _field_kb(f"/proc/{name}/status", "PPid:")
            if ppid is not None:
                children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _tree_pss_kb(root: int) -> int:
    return sum(_field_kb(f"/proc/{p}/smaps_rollup", "Pss:") or 0
               for p in process_tree(root))
