"""Benchmark-side tracing: spans, streaming progress, job-group status, RSS.

Nothing here reaches inside the engine. Spans are recorded around the
benchmark's own calls into the engine's public functions; streaming
progress arrives through a ``StreamingQueryListener``; task, stage, CPU and
shuffle figures come from Spark's status tracker and status store, looked
up by job group (a streaming query tags its jobs with its run id). All of
it is kept in memory and written out once, at exit.
"""

from __future__ import annotations

import gc
import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Span recorder. Disabled, ``span`` only yields: end-to-end runs are
    measured with tracing off."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: Path, **extra) -> None:
        path.write_text(json.dumps({"spans": self.spans, **extra}, default=str))


class Progress(StreamingQueryListener):
    """Collects every streaming query's start, progress and termination."""

    def __init__(self) -> None:
        self._cv = threading.Condition()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._cv:
            self.progress.setdefault(p["runId"], []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated.add(str(event.runId))
            self._cv.notify_all()

    def runs_since(self, mark: int, timeout: float = 30.0) -> list[str]:
        """Run ids started after ``mark`` (a prior ``len(started)``), once
        the listener bus has delivered their termination."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while True:
                runs = self.started[mark:]
                if runs and all(r in self.terminated for r in runs):
                    return runs
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("streaming listener events did not arrive")
                self._cv.wait(left)


def job_group_stats(spark, group: str) -> dict[str, float]:
    """Tasks, stages, CPU seconds and shuffle bytes of every job in a job
    group, from the status tracker and the status store."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    stages: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    out = {"tasks": 0.0, "stages": 0.0, "failed_tasks": 0.0, "cpu_s": 0.0, "shuffle_bytes": 0.0}
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage that never ran has no attempt
            continue
        if str(sd.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["cpu_s"] += sd.executorCpuTime() / 1e9
        out["shuffle_bytes"] += sd.shuffleWriteBytes()
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


class RssSampler:
    """Peak of (driver Python RSS + JVM RSS), sampled from /proc."""

    def __init__(self, pids: list[int], every_s: float = 0.05) -> None:
        self.pids = pids
        self.every_s = every_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))
            self._stop.wait(self.every_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))


def retained_rss_kb(spark, pids: list[int]) -> int:
    """RSS of ``pids`` after full GCs of Python and the JVM: the memory the
    engine holds once its work is done. The peak depends on how far G1 has
    grown the heap, which changes from run to run on the same work; a full
    GC shrinks the heap back to what the live data needs. Python goes
    first, so that py4j releases the JVM objects behind collected Python
    handles; the JVM collects three times, because Spark's context cleaner
    drops the broadcasts and shuffles of the objects a GC found unreachable
    only after that GC."""
    gc.collect()
    for _ in range(3):
        spark.sparkContext._jvm.java.lang.System.gc()
        kb = _settled_rss_kb(pids)
    return kb


def _settled_rss_kb(pids: list[int], settle_s: float = 1.0, timeout_s: float = 15.0) -> int:
    """G1 hands freed memory back to the OS in the background: read the RSS
    until it has not fallen for ``settle_s``."""
    low = sum(_rss_kb(p) for p in pids)
    low_at = start = time.monotonic()
    while True:
        time.sleep(0.05)
        kb = sum(_rss_kb(p) for p in pids)
        now = time.monotonic()
        if kb < low - 1024:
            low_at = now
        low = min(low, kb)
        if now - low_at >= settle_s or now - start >= timeout_s:
            return low


def process_start_epoch() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")
