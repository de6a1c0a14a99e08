"""Measurement read from outside the program.

* CPU seconds of the Spark JVM and every process below it (the Python
  workers), from /proc.
* Hypervisor steal of the whole host, from /proc/stat.
* Job, stage and task figures from Spark's status store.
* Structured Streaming progress through a query listener.
* Spans recorded by the benchmark around each call into a layer.
"""

from __future__ import annotations

import json
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_cpu_s(root_pid: int) -> float:
    """user+sys CPU of `root_pid` and its live descendants, including the
    children each of them has already reaped."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1]), []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        # fields 14-17 of stat: utime stime cutime cstime
        total += sum(int(x) for x in st[11:15])
        todo.extend(children.get(pid, ()))
    return total / _TICK


def steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


class Tracer:
    """Spans kept in memory and written once, when the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    def span(self, name: str):
        return _Span(self, name)

    def write(self, path: str) -> None:
        if self.enabled:
            with open(path, "w") as f:
                json.dump(self.spans, f)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        out: dict[str, float] = {}
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child_s[i]
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        if self.t.enabled:
            self.idx = len(self.t.spans)
            self.t.spans.append({
                "name": self.name, "start": time.perf_counter(), "end": None,
                "parent": self.t._stack[-1] if self.t._stack else None, "op": self.t.op_id,
            })
            self.t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        if self.t.enabled:
            self.t.spans[self.idx]["end"] = time.perf_counter()
            self.t._stack.pop()
        return False


SPARK_METRICS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes",
}


class SparkStats:
    """Per-op figures from the status store. Job ids are sequential and
    the benchmark runs one op at a time, so an op's jobs are the ids
    handed out between its start and its end; this also catches the jobs
    a streaming query runs on its own thread and job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.kv = self.store.store()
        cls = self.jvm.java.lang.Class.forName
        self._job_cls = cls("org.apache.spark.status.JobDataWrapper")
        self._stage_cls = cls("org.apache.spark.status.StageDataWrapper")

    def jobs_so_far(self) -> int:
        return self.kv.count(self._job_cls)

    def figures(self, job_ids: range, wall_s: float) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        stages, intervals = set(), []
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
            job = self.store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        out = dict.fromkeys(
            ("spark.tasks", "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_bytes",
             "spark.spill_bytes", "spark.output_bytes"), 0.0)
        gateway = self.sc._gateway
        for sid in stages:
            for attempt in range(4):
                key = gateway.new_array(self.jvm.int, 2)
                key[0], key[1] = sid, attempt
                try:
                    info = self.kv.read(self._stage_cls, key).info()
                except Exception:  # no such attempt (or a skipped stage)
                    break
                out["spark.tasks"] += info.numCompleteTasks() + info.numFailedTasks()
                out["spark.executor_cpu_s"] += info.executorCpuTime() / 1e9
                out["spark.gc_s"] += info.jvmGcTime() / 1e3
                out["spark.shuffle_write_bytes"] += info.shuffleWriteBytes()
                out["spark.spill_bytes"] += info.memoryBytesSpilled() + info.diskBytesSpilled()
                out["spark.output_bytes"] += info.outputBytes()
        out["spark.jobs"] = float(len(job_ids))
        out["spark.stages"] = float(len(stages))
        out["spark.driver_gap_s"] = max(0.0, wall_s - _union_s(intervals))
        return out

    def cached_bytes(self) -> dict[int, int]:
        """Bytes held per persisted RDD (localCheckpoint and persist)."""
        return {r.id(): r.memSize() + r.diskSize() for r in self.sc._jsc.sc().getRDDStorageInfo()}


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def stream_listener(spark):
    """Register a StreamingQueryListener; return (listener, progress list,
    terminated event)."""
    from pyspark.sql.streaming import StreamingQueryListener

    progress: list[dict] = []
    done = threading.Event()

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            progress.append({"batch": p.batchId, "rows": p.numInputRows,
                             "ms": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            done.set()

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener, progress, done
