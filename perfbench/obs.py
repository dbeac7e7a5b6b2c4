"""Observation from outside the engine: spans around calls into it, Spark's
own status store and streaming progress, the process tree's RSS and the
JVM's live heap.

Nothing here reaches into the engine's modules; it only reads what Spark
exposes (``AppStatusStore`` and the JVM's management beans through py4j,
``StreamingQueryProgress``) and ``/proc``.
"""

from __future__ import annotations

import gc
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory and written out once at the end. Disabled, it
    records nothing and costs one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    def new_trace(self) -> str:
        return f"t{next(self._ids)}"

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": f"s{next(self._ids)}",
            "trace": trace or (parent["trace"] if parent else self.new_trace()),
            "parent": parent["id"] if parent else None,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.time()
            self.spans.append(s)

    def add(self, name: str, start: float, end: float, trace: str,
            parent: str | None = None, **attrs) -> str:
        """Record a span whose bounds were measured elsewhere (Spark's
        progress durations); returns its id."""
        sid = f"s{next(self._ids)}"
        if self.enabled:
            self.spans.append({"id": sid, "trace": trace, "parent": parent,
                               "name": name, "start": start, "end": end,
                               **attrs})
        return sid

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


# --- Spark status store ----------------------------------------------------


def _opt_ms(opt) -> float | None:
    """scala Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusStore:
    """Jobs and stages from the Spark driver's ``AppStatusStore`` (works with the
    UI off), read after the listener bus has drained."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._store = self._sc.statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(self._jvm.double, 0)

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        """Every retained job with its stages' totals."""
        self.drain()
        empty = self._jvm.java.util.ArrayList()
        out = []
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            job = {
                "id": j.jobId(),
                "submitted": _opt_ms(j.submissionTime()),
                "completed": _opt_ms(j.completionTime()),
                "tasks": 0, "run_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0,
            }
            ids = j.stageIds()
            for k in range(ids.size()):
                attempts = self._store.stageData(
                    ids.apply(k), False, empty, False, self._no_quantiles
                )
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if str(st.status()) == "SKIPPED":
                        continue
                    job["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    job["run_ms"] += st.executorRunTime()
                    job["shuffle_bytes"] += st.shuffleWriteBytes()
                    job["spill_bytes"] += (
                        st.memoryBytesSpilled() + st.diskBytesSpilled()
                    )
            out.append(job)
        return sorted(out, key=lambda j: j["submitted"] or 0.0)


def jobs_between(jobs: list[dict], lo: float, hi: float) -> list[dict]:
    return [j for j in jobs if j["submitted"] is not None and lo <= j["submitted"] < hi]


def job_totals(jobs: list[dict]) -> dict:
    return {
        "jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "run_ms": sum(j["run_ms"] for j in jobs),
        "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
        "spill_bytes": sum(j["spill_bytes"] for j in jobs),
        "first_submit": min((j["submitted"] for j in jobs), default=None),
    }


def progress_records(query) -> list[dict]:
    """Streaming progress as plain dicts, one per micro-batch."""
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def progress_start(p: dict) -> float:
    """Trigger start (epoch seconds) of a progress record."""
    from datetime import datetime, timezone

    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp()


# --- memory ----------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _field_kb(path: str, field: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("python")
    except OSError:
        return False


def tree_rss_mb(root: int) -> float:
    """Resident memory of the JVM ``root`` and its Python worker tree, in
    MB: the JVM's RSS plus each Python descendant's PSS. Forked workers
    share their daemon's pages, which a plain RSS sum would count once per
    worker; PSS splits shared pages among the sharers. Other children
    (short-lived helpers the JVM spawns) are skipped: between fork and
    exec they are a copy of the JVM and would count it again."""
    total = _field_kb(f"/proc/{root}/status", "VmRSS:")
    todo = [c for c in _children(root) if _is_python(c)]
    while todo:
        pid = todo.pop()
        total += _field_kb(f"/proc/{pid}/smaps_rollup", "Pss:")
        todo.extend(_children(pid))
    return total / 1024.0


class RssSampler:
    """Peak RSS of the Spark JVM and its Python worker tree, sampled from
    ``/proc`` on a background thread until ``stop``."""

    def __init__(self, pid: int, every_s: float = 0.1):
        self.pid, self.every_s, self.peak_mb = pid, every_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pid))
            self._stop.wait(self.every_s)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb


class HeapProbe:
    """Live heap of the Spark JVM: the heap in use after full
    collections, read through the JVM's ``MemoryMXBean`` at fixed points
    between measured phases. Unlike RSS it does not depend on when the
    collector chose to grow the heap, and it moves with what the engine
    keeps on the heap (state-store maps, cached frames, broadcasts)."""

    SETTLE_S = 0.15
    MAX_ROUNDS = 12
    STABLE_MB = 1.0

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.samples: list[float] = []
        #: time spent reading, all of it outside the measured phases
        self.seconds = 0.0

    def _used_mb(self) -> float:
        return self._mem.getHeapMemoryUsage().getUsed() / 2**20

    def sample(self) -> float:
        """Collect until the live heap stops shrinking: Spark's cleaner
        removes the blocks and shuffle files of unreachable data on its
        own thread after each collection, so one collection can still
        find them held."""
        t = time.perf_counter()
        # drop this interpreter's dead py4j proxies first, so the JVM
        # objects only they held are released too
        gc.collect()
        self._mem.gc()
        mb = self._used_mb()
        for k in range(self.MAX_ROUNDS):
            time.sleep(self.SETTLE_S)
            self._mem.gc()
            prev, mb = mb, self._used_mb()
            # at least two rounds: a removal queued by the first collection
            # can take longer than one pause to land
            if k and prev - mb < self.STABLE_MB:
                break
        self.samples.append(mb)
        self.seconds += time.perf_counter() - t
        return mb

    @property
    def peak_mb(self) -> float:
        return max(self.samples)

