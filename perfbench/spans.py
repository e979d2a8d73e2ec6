"""Tracing for the benchmark's own calls into the engine.

A span is recorded around each call the benchmark makes into a module's
public function: name ``<module>.<function>``, start, end, parent span
and request id. For each span the Spark work it launched is counted by
diffing the application status store (the same ``statusStore()`` that
``postings.shuffle_bytes`` reads) by highest job id — not by list size,
since the store keeps only the last ``spark.ui.retainedJobs`` jobs, and
not by job group, since the build's helper threads do not inherit one.
Spans stay in memory and are written out when the run ends.

With tracing off the benchmark uses :class:`NoTracer`, whose spans cost
one context-manager entry and record nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class NoTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, rid=None, **attrs):
        yield {}


class SparkWork:
    """Jobs, stages, tasks and shuffle bytes launched since a snapshot."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm, self._gw = sc._jvm, sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()

    def snapshot(self) -> tuple[int, int]:
        """(highest job id, highest stage id) in the store. Both are
        allocated in increasing order; the newest job holds the newest
        stages."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        if not jobs.size():
            return -1, -1
        newest = jobs.apply(0)
        sids = newest.stageIds()
        return (int(newest.jobId()),
                max(int(sids.apply(k)) for k in range(sids.size())))

    def since(self, snap: tuple[int, int]) -> dict:
        """Work of every job and stage newer than ``snap``; a stage an
        earlier job already ran (reused shuffle output) is not counted
        again."""
        job_id, stage_id = snap
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        n_jobs = tasks = stages = 0
        stage_ids: set[int] = set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= job_id:
                break
            n_jobs += 1
            tasks += j.numCompletedTasks() + j.numFailedTasks()
            stages += j.numCompletedStages() + j.numFailedStages()
            sids = j.stageIds()
            stage_ids.update(int(sids.apply(k)) for k in range(sids.size()))
        sw = sr = 0
        for sid in stage_ids:
            if sid <= stage_id:
                continue
            attempts = self._store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False,
                self._gw.new_array(self._jvm.double, 0),
            )
            for a in range(attempts.size()):
                s = attempts.apply(a)
                sw += s.shuffleWriteBytes()
                sr += s.shuffleReadBytes()
        return {"jobs": n_jobs, "stages": stages, "tasks": tasks,
                "shuffle_write_mb": sw / 1e6, "shuffle_read_mb": sr / 1e6}


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.work: SparkWork | None = None
        self.overhead_s = 0.0  # time spent in span bookkeeping

    def attach(self, spark) -> None:
        self.work = SparkWork(spark)

    @contextlib.contextmanager
    def span(self, name: str, rid=None, **attrs):
        b0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "rid": rid,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        snap = self.work.snapshot() if self.work else None
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - b0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if snap is not None:
                rec.update(self.work.since(snap))
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def named(self, name: str, **match) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and all(s.get(k) == v for k, v in match.items())]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def span_ms(s: dict) -> float:
    return (s["end"] - s["start"]) * 1e3


# ---------------------------------------------------------------------------
# Peak resident memory from /proc (psutil is not installed)
# ---------------------------------------------------------------------------

def _status(pid: int) -> dict:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:
        pass
    return out


def _hwm_mb(pid: int) -> float:
    v = _status(pid).get("VmHWM", "0 kB").split()[0]
    return int(v) / 1024.0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            ppid = _status(int(d)).get("PPid")
            if ppid:
                children.setdefault(int(ppid), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def jvm_pid(spark) -> int:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as fh:
        comm = fh.read().strip()
    if comm != "java":
        raise RuntimeError(f"gateway pid {pid} is {comm!r}, not the JVM")
    return pid


def peak_rss_mb(spark) -> dict:
    """VmHWM of the driver python, the JVM and the python worker
    daemons (every python process below the JVM)."""
    jvm = jvm_pid(spark)
    workers = [p for p in descendants(jvm)
               if _status(p).get("Name", "").startswith("python")]
    out = {"driver_mb": _hwm_mb(os.getpid()), "jvm_mb": _hwm_mb(jvm),
           "workers_mb": sum(_hwm_mb(p) for p in workers),
           "n_workers": len(workers)}
    out["total_mb"] = out["driver_mb"] + out["jvm_mb"] + out["workers_mb"]
    return out
