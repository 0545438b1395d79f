"""Counters read from outside the program under test.

* ``ProcTree``: CPU seconds and resident memory of the driver JVM and of
  every process it spawned (the ``pyspark.daemon`` and its workers),
  read from ``/proc``.
* ``RssSampler``: a thread that polls ``ProcTree`` for peak RSS.
* ``job_counts``: jobs, tasks and failed tasks of one job group, read
  from the SparkContext status tracker.
* ``Tracer``: in-memory spans (name, start, end, parent, run id) with
  per-name self time.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


class ProcTree:
    """The JVM and its descendants. Field indices follow proc(5), offset
    by the two fields (pid, comm) stripped in ``_stat``."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def _descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
        out, todo = [], list(children.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def cpu(self) -> tuple[float, float]:
        """(JVM CPU s, Python-worker CPU s). A worker's time moves into
        its parent's ``cutime`` once reaped, so children's totals are
        counted for descendants only (never for the JVM itself, whose
        reaped children are earlier, stopped daemons)."""
        st = _stat(self.jvm_pid)
        jvm = (int(st[11]) + int(st[12])) / _TICK if st else 0.0
        py = 0.0
        for pid in self._descendants():
            s = _stat(pid)
            if s is not None:
                py += sum(int(v) for v in s[11:15]) / _TICK
        return jvm, py

    def rss_bytes(self) -> tuple[int, int, int]:
        """(JVM RSS, summed worker RSS, worker count)."""
        st = _stat(self.jvm_pid)
        jvm = int(st[21]) * _PAGE if st else 0
        py = n = 0
        for pid in self._descendants():
            s = _stat(pid)
            if s is not None:
                py += int(s[21]) * _PAGE
                n += 1
        return jvm, py, n


def cpu_ticks() -> tuple[int, int]:
    """(all CPU ticks, stolen ticks) of the machine so far, from
    /proc/stat. Steal is time a hypervisor gave this machine's CPUs to
    others: it slows wall time without showing up as any process's
    CPU time."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), vals[7]


class RssSampler:
    """Polls the process tree's summed RSS every ``period`` seconds
    while active; ``peak`` is the largest sum seen."""

    def __init__(self, tree: ProcTree, period: float = 0.05):
        self.tree, self.period = tree, period
        self.peak = 0
        self.parts = (0, 0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            parts = self.tree.rss_bytes()
            if parts[0] + parts[1] > self.peak:
                self.peak, self.parts = parts[0] + parts[1], parts
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, completed tasks and failed task attempts of ``group``.
    Stages skipped because an earlier job already produced their shuffle
    output report no completed tasks, so they add nothing."""
    tracker = sc.statusTracker()
    jobs = tasks = failed = 0
    for jid in tracker.getJobIdsForGroup(group):
        jobs += 1
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
    return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}


class Tracer:
    """Spans kept in memory; ``dump`` adds each name's self time (its
    duration minus the part its child spans cover)."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id, self.enabled = run_id, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            kids = sorted((c["start"], c["end"]) for c in self.spans
                          if c["parent"] == i)
            covered, edge = 0.0, sp["start"]
            for a, b in kids:
                a = max(a, edge)
                if b > a:
                    covered += b - a
                    edge = b
            out[sp["name"]] = out.get(sp["name"], 0.0) \
                + (sp["end"] - sp["start"] - covered)
        return out

    def dump(self) -> dict:
        return {"run_id": self.run_id, "spans": self.spans,
                "self_s": self.self_times()}


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        tr = self.tracer
        if tr.enabled:
            tr.spans.append({"run_id": tr.run_id, "span_id": len(tr.spans),
                             "parent": tr._stack[-1] if tr._stack else None,
                             "name": self.name, "start": time.perf_counter(),
                             "end": None})
            tr._stack.append(len(tr.spans) - 1)
        return self

    def __exit__(self, *exc):
        tr = self.tracer
        if tr.enabled:
            tr.spans[tr._stack.pop()]["end"] = time.perf_counter()
