"""Counters read from outside the program, and the span recorder.

Everything here observes the engine from the benchmark's side:

* ``ProcTree`` reads CPU and RSS per process from ``/proc`` for the
  driver Python process, the Spark JVM it launched, and the Python
  workers below the JVM;
* ``Jvm`` reads JIT-compilation and GC time from the JVM's management
  beans through py4j;
* ``SparkJobs`` charges Spark work to a call by the job IDs that appear
  in the application status store during the call (this also catches
  jobs submitted from the engine's own thread pools, which a job-group
  lookup misses);
* ``Recorder`` keeps spans in memory: name, start, end, parent, run id,
  and the counter deltas between the span's two boundaries.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(path: str):
    """(ppid, own cpu ticks, reaped-children cpu ticks, rss bytes) of a
    ``/proc/<pid>`` or ``/proc/<pid>/task/<tid>`` directory."""
    with open(f"{path}/stat") as f:
        s = f.read()
    rest = s[s.rindex(")") + 2:].split()
    return (int(rest[1]), int(rest[11]) + int(rest[12]),
            int(rest[13]) + int(rest[14]), int(rest[21]) * _PAGE)


def _process_table() -> dict[int, tuple]:
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                procs[int(name)] = _read_stat(f"/proc/{name}")
            except (OSError, IndexError, ValueError):
                continue
    return procs


def _below(procs: dict, root: int) -> list[int]:
    """Every process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for pid, st in procs.items():
        children.setdefault(st[0], []).append(pid)
    out, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def _hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class ProcTree:
    """CPU seconds of the driver, the JVM, the JVM's JIT compiler threads
    and the Python workers. ``jvm`` excludes the JIT threads.

    A worker that exits is reaped by its parent, which moves its CPU into
    the parent's children-time; summing own + children time over the
    live processes therefore never loses a worker's CPU between samples.
    """

    def __init__(self, jvm_pid: int):
        self.driver = os.getpid()
        self.jvm = jvm_pid
        self.peak_worker_rss = 0
        self._comm: dict[int, str] = {}
        self._jit_live: dict[int, int] = {}
        self._jit_gone = 0

    def _jit_ticks(self) -> int:
        """CPU of the JVM's JIT-compiler threads. Should one exit, it keeps
        its last reading (the JVM is started with a fixed set of them)."""
        live = {}
        base = f"/proc/{self.jvm}/task"
        for name in os.listdir(base):
            tid = int(name)
            try:
                if tid not in self._comm:
                    with open(f"{base}/{name}/comm") as f:
                        self._comm[tid] = f.read()
                if "CompilerThre" in self._comm[tid]:
                    live[tid] = _read_stat(f"{base}/{name}")[1]
            except OSError:
                continue
        self._jit_gone += sum(v for t, v in self._jit_live.items()
                              if t not in live)
        self._jit_live = live
        return self._jit_gone + sum(live.values())

    def workers(self) -> list[int]:
        return _below(_process_table(), self.jvm)

    def sample(self) -> dict:
        procs = _process_table()
        below = [procs[pid] for pid in _below(procs, self.jvm)]
        workers = sum(st[1] + st[2] for st in below)
        self.peak_worker_rss = max(self.peak_worker_rss,
                                   sum(st[3] for st in below))
        drv = procs.get(self.driver)
        jvm = procs.get(self.jvm)
        driver_t = drv[1] if drv else 0
        # the JVM's reaped children are Python worker daemons
        jvm_t = jvm[1] if jvm else 0
        workers += jvm[2] if jvm else 0
        jit = self._jit_ticks() if jvm else 0
        return {
            "driver": driver_t / _TICK,
            "jvm": (jvm_t - jit) / _TICK,
            "jit": jit / _TICK,
            "pyworker": workers / _TICK,
        }

    def peak_rss_bytes(self) -> int:
        return (_hwm_bytes(self.driver) + _hwm_bytes(self.jvm)
                + self.peak_worker_rss)


class Jvm:
    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def jit_ms(self) -> float:
        return float(self._comp.getTotalCompilationTime())

    def gc_ms(self) -> float:
        return float(sum(g.getCollectionTime() for g in self._gcs))


class SparkJobs:
    """Spark stage metrics of the jobs submitted between two marks."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._stages: dict[int, tuple[float, int]] = {}

    def _jobs(self):
        self._bus.waitUntilEmpty()
        return self._store.jobsList(None)  # newest first

    def mark(self) -> int:
        jobs = self._jobs()
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def _stage(self, sid: int) -> tuple[float, int]:
        if sid not in self._stages:
            sd = self._store.lastStageAttempt(sid)
            status = sd.status().toString()
            if status == "SKIPPED":
                return 0.0, 0
            got = (sd.executorCpuTime() / 1e9, sd.shuffleWriteBytes())
            if status not in ("COMPLETE", "FAILED"):
                return got
            self._stages[sid] = got
        return self._stages[sid]

    def since(self, mark: int) -> dict:
        jobs = self._jobs()
        n_jobs = 0
        stage_ids: set[int] = set()
        i, n = 0, jobs.size()
        while i < n:
            job = jobs.apply(i)
            if job.jobId() <= mark:
                break
            n_jobs += 1
            sids = job.stageIds()
            stage_ids.update(sids.apply(k) for k in range(sids.size()))
            i += 1
        cpu = shuffle = 0
        for sid in stage_ids:
            c, s = self._stage(sid)
            cpu += c
            shuffle += s
        return {"jobs": n_jobs, "task_cpu_s": cpu, "shuffle_mb": shuffle / 1e6}


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "values")

    def __init__(self, sid, name, parent, start):
        self.id, self.name, self.parent, self.start = sid, name, parent, start
        self.end = None
        self.values: dict = {}


class Recorder:
    """In-memory span recorder.

    Every span measures wall time and CPU of the process tree. With
    ``traced`` on it also charges Spark jobs, task CPU and shuffle bytes
    by job ID, and reads JIT and GC time, at both boundaries."""

    def __init__(self, spark, jvm_pid: int, run_id: str):
        self.run_id = run_id
        self.proc = ProcTree(jvm_pid)
        self.jvm = Jvm(spark)
        self.jobs = SparkJobs(spark)
        self.traced = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._t0 = time.monotonic()

    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def _counters(self) -> dict:
        c = self.proc.sample()
        c["wall"] = time.monotonic()
        if self.traced:
            c["jit_ms"] = self.jvm.jit_ms()
            c["gc_ms"] = self.jvm.gc_ms()
            c["job_mark"] = self.jobs.mark()
        return c

    @contextmanager
    def span(self, name: str):
        parent = self.current()
        sp = Span(len(self.spans), name, parent.id if parent else None,
                  time.monotonic() - self._t0)
        self.spans.append(sp)
        self._stack.append(sp)
        before = self._counters()
        try:
            yield sp
        finally:
            after = self._counters()
            self._stack.pop()
            sp.end = time.monotonic() - self._t0
            v = sp.values
            v["wall_s"] = after["wall"] - before["wall"]
            for k in ("driver", "jvm", "jit", "pyworker"):
                v[f"{k}_cpu_s"] = after[k] - before[k]
            v["cpu_s"] = v["driver_cpu_s"] + v["jvm_cpu_s"] + v["pyworker_cpu_s"]
            if "job_mark" in before:
                v["jit_ms"] = after["jit_ms"] - before["jit_ms"]
                v["gc_ms"] = after["gc_ms"] - before["gc_ms"]
                v.update(self.jobs.since(before["job_mark"]))

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the time its (sequential) children cover."""
        return sp.values["wall_s"] - sum(
            c.values["wall_s"] for c in self.children(sp))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run_id": self.run_id, "id": s.id, "name": s.name,
                    "parent": s.parent, "start": round(s.start, 6),
                    "end": round(s.end, 6), **s.values}) + "\n")
