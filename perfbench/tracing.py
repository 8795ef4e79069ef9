"""Spans and counters for the benchmark.

Spans are recorded only here, around the benchmark's own calls into the
engine's public functions; the engine itself is not instrumented.  A
span stores, at its start and end, the wall clock, the DAG scheduler's
next job and stage ids, and process CPU read from ``/proc``.  Each span
sets its own Spark job group.  Stage metrics are read afterwards from
the in-process status store (``AppStatusStore``; it works with the UI
off), one item at a time, so the store's retention limit
(``spark.ui.retainedStages``, 1000 by default) never evicts a stage
before it is read.

Job and stage attribution uses id ranges, not job groups: the engine
launches some jobs from pool threads that do not inherit the caller's
job group, but every job a span launches gets an id in
``[nextJobId at start, nextJobId at end)``.  Reading every id in that
range, and every stage those jobs name, gives a count that cannot miss
work: :meth:`Tracer.collect` raises when stages read != stages launched.

Spans stay in memory and are written out once, at the end of a run.
With tracing off, :meth:`Tracer.span` yields without touching Spark.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

from py4j.protocol import Py4JJavaError

CLK_TCK = os.sysconf("SC_CLK_TCK")


class CounterError(RuntimeError):
    """A counter disagrees with what was launched; the traced run fails."""


# -- /proc counters ---------------------------------------------------


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # the command name may hold spaces and parens; fields follow the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid``, from one scan of /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_stat_fields(int(entry))[1])
            except (OSError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


class ProcCounters:
    """CPU seconds of the JVM, of this Python process and of the Python
    workers, plus a background sampler of peak RSS.

    Python-worker CPU must include workers that have exited.  A worker
    that exits is reaped by its parent (the PySpark daemon, or the JVM
    for the daemon itself), and the kernel then adds its CPU to the
    parent's ``cutime``/``cstime``.  So the worker total is the JVM's
    reaped-children CPU plus, for every live descendant of the JVM, its
    own CPU and its reaped-children CPU.  That sum never decreases,
    unlike a sum over live processes only."""

    def __init__(self, jvm_pid: int, sample_s: float = 0.5):
        self.jvm_pid = jvm_pid
        self._peak_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample_loop, args=(sample_s,), daemon=True)

    def jvm_cpu(self) -> float:
        f = _stat_fields(self.jvm_pid)
        return (int(f[11]) + int(f[12])) / CLK_TCK

    def pyworker_cpu(self) -> float:
        f = _stat_fields(self.jvm_pid)
        ticks = int(f[13]) + int(f[14])
        for pid in descendants(self.jvm_pid):
            try:
                g = _stat_fields(pid)
            except OSError:
                continue  # exited and reaped between the listing and the read
            ticks += int(g[11]) + int(g[12]) + int(g[13]) + int(g[14])
        return ticks / CLK_TCK

    @staticmethod
    def pydriver_cpu() -> float:
        t = os.times()
        return t.user + t.system

    def snapshot(self) -> dict:
        return {
            "jvm_cpu": self.jvm_cpu(),
            "pyworker_cpu": self.pyworker_cpu(),
            "pydriver_cpu": self.pydriver_cpu(),
        }

    # peak RSS: VmHWM is each process's own high-water mark, so the JVM
    # and this process need no sampling; the sampler exists to catch
    # Python workers before they exit.
    def _sample(self) -> None:
        for pid in [os.getpid(), self.jvm_pid, *descendants(self.jvm_pid)]:
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            if kb > self._peak_kb.get(pid, 0):
                                self._peak_kb[pid] = kb
                            break
            except OSError:
                pass

    def _sample_loop(self, every: float) -> None:
        while not self._stop.wait(every):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread.start()

    def stop(self) -> None:
        self._sample()
        self._stop.set()
        self._thread.join()

    def peak_rss_mb(self) -> float:
        return sum(self._peak_kb.values()) / 1024.0


# -- spans ------------------------------------------------------------

STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "shuffleReadBytes",
    "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
    "inputBytes", "numTasks", "numFailedTasks",
)


class Tracer:
    """Nested spans with Spark job/stage and process-CPU counters."""

    def __init__(self, spark, procs: ProcCounters | None, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: list[dict] = []
        self._procs = procs
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def _snap(self, with_cpu: bool) -> dict:
        snap = {"t": time.perf_counter(), "job": self._dag.nextJobId(), "stage": self._dag.nextStageId()}
        if with_cpu and self._procs is not None:
            snap.update(self._procs.snapshot())
        return snap

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "parent": parent["id"] if parent else None, "name": name, **attrs}
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(f"{name}#{sp['id']}", name)
        sp["start"] = self._snap(parent is None)
        try:
            yield sp
        finally:
            sp["end"] = self._snap(parent is None)
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(f"{parent['name']}#{parent['id']}", parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self._pending.append(sp)

    def collect(self) -> None:
        """Read job and stage metrics for every span closed since the
        last call.  Call between items, outside any span."""
        if not self.enabled or not self._pending:
            return
        self._bus.waitUntilEmpty()  # the store is fed asynchronously
        jobs: dict[int, list[int]] = {}
        stages: dict[int, dict | None] = {}
        for sp in self._pending:
            jids = range(sp["start"]["job"], sp["end"]["job"])
            for jid in jids:
                if jid not in jobs:
                    jobs[jid] = self._read_job(jid)
            sids = {s for jid in jids for s in jobs[jid]}
            for sid in sids:
                if sid not in stages:
                    stages[sid] = self._read_stage(sid)
            launched = sp["end"]["stage"] - sp["start"]["stage"]
            if sp["parent"] is None and len(sids) != launched:
                raise CounterError(
                    f"span {sp['name']}#{sp['id']} ({sp.get('item')}): read {len(sids)} "
                    f"stages, {launched} launched"
                )
            m = {k: 0 for k in STAGE_FIELDS}
            skipped = 0
            for sid in sids:
                st = stages[sid]
                if st is None:
                    skipped += 1
                    continue
                for k in STAGE_FIELDS:
                    m[k] += st[k]
            m["jobs"] = len(jids)
            m["stages"] = len(sids)
            m["stages_skipped"] = skipped
            sp["spark"] = m
        self._pending.clear()

    def _read_job(self, jid: int) -> list[int]:
        try:
            job = self._store.job(jid)
        except Py4JJavaError as exc:  # evicted or never recorded
            raise CounterError(f"job {jid} missing from the status store: {exc}") from exc
        text = job.stageIds().mkString(",")
        return [int(x) for x in text.split(",")] if text else []

    def _read_stage(self, sid: int) -> dict | None:
        """Metrics of a stage's last attempt; None for a skipped stage."""
        try:
            st = self._store.lastStageAttempt(sid)
        except Py4JJavaError as exc:
            raise CounterError(f"stage {sid} missing from the status store: {exc}") from exc
        if st.status().toString() == "SKIPPED":
            return None
        return {k: getattr(st, k)() for k in STAGE_FIELDS}

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def duration(sp: dict) -> float:
    return sp["end"]["t"] - sp["start"]["t"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover
    (children of one span never overlap: the benchmark is serial)."""
    out = {sp["id"]: duration(sp) for sp in spans}
    for sp in spans:
        if sp["parent"] is not None:
            out[sp["parent"]] -= duration(sp)
    return out
