"""Measurement from outside the package: process-tree accounting, an RSS
sampler, and a span tracer with one Spark job group per span.

Everything here reads public surfaces only: ``/proc`` for CPU and memory,
Spark's status tracker and status store for job/stage/task counts and
shuffle bytes, and the py4j gateway client for call counts. No package
code is changed; the tracer's wrappers replace module attributes at run
time inside the benchmark process and nowhere else.
"""

from __future__ import annotations

import functools
import itertools
import logging
import os
import threading
import time
from contextlib import contextmanager, nullcontext

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
KINDS = ("driver", "jvm", "python")
WINDOW_GROUP = "pb-window"


def tree() -> dict[int, tuple[str, float, int]]:
    """{pid: (command name, CPU-seconds, resident bytes)} of this process
    and every live descendant, from one walk of ``/proc``. CPU includes
    reaped children (cutime/cstime), so a worker that exits inside the
    tree keeps its CPU in its parent's counters."""
    ppid_of: dict[int, int] = {}
    info: dict[int, tuple[str, float, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        head, _, rest = raw.rpartition(")")
        fields = rest.split()
        pid = int(name)
        ppid_of[pid] = int(fields[1])
        cpu = sum(int(fields[i]) for i in (11, 12, 13, 14)) / _HZ
        info[pid] = (head.split("(", 1)[1], cpu, int(fields[21]) * _PAGE)
    mine = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, ppid in ppid_of.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return {pid: info[pid] for pid in mine if pid in info}


def tree_sample(pss: bool = False) -> tuple[dict[str, float], dict[str, int]]:
    """(CPU-seconds, memory bytes) by process kind, of this process tree.

    Kinds: ``driver`` is this Python process, ``jvm`` the Spark JVM, and
    ``python`` every other descendant (the pyspark daemon and its
    workers). Memory is resident bytes, or with ``pss`` the proportional
    set size, which splits the pages forked workers share instead of
    counting them once per worker."""
    me = os.getpid()
    cpu_by = dict.fromkeys(KINDS, 0.0)
    mem_by = dict.fromkeys(KINDS, 0)
    for pid, (comm, cpu, mem) in tree().items():
        kind = "driver" if pid == me else "jvm" if comm == "java" else "python"
        cpu_by[kind] += cpu
        mem_by[kind] += _pss(pid) if pss else mem
    return cpu_by, mem_by


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def host_busy_s() -> float:
    """Whole-host busy CPU-seconds since boot (everything but idle and
    iowait). Minus the tree's own CPU this is the external load."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    return (sum(vals) - idle) / _HZ


class Meter:
    """Wall, tree CPU by kind and external host load of one timed action."""

    def __enter__(self) -> "Meter":
        self.cpu0, _ = tree_sample()
        self.busy0 = host_busy_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0
        cpu1, _ = tree_sample()
        busy = host_busy_s() - self.busy0
        self.cpu = {k: max(0.0, cpu1[k] - self.cpu0[k]) for k in KINDS}
        self.cpu_total = sum(self.cpu.values())
        self.ext_cores = max(0.0, busy - self.cpu_total) / max(self.wall, 1e-9)


class MemSampler:
    """Background sampler of the tree's proportional set size; keeps the
    peak total and its split by process kind."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        mem = tree_sample(pss=True)[1]
        if sum(mem.values()) > self.peak:
            self.peak, self.peak_by = sum(mem.values()), mem

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


class FallbackCounter(logging.Handler):
    """Counts the resume-fallback warnings ``checkpoint`` logs."""

    def __init__(self) -> None:
        super().__init__(logging.WARNING)
        self.count = 0

    def emit(self, record: logging.LogRecord) -> None:
        if "falling back" in record.getMessage() or "fallback" in record.getMessage():
            self.count += 1


class NoTracer:
    """The tracer of an untraced run: every span is a no-op."""

    enabled = False

    def span(self, name: str, **attrs):
        return nullcontext()


class Tracer:
    """In-memory spans with parents, one Spark job group per span.

    A span records its wall interval, tree CPU by process kind, and the
    py4j calls made while it was innermost or below. Job, stage, task,
    failed-task and shuffle-byte counts are resolved once at the end
    (``resolve``) from the status tracker, so no status lookups run
    inside a timed interval. When ``enabled`` is false every span is a
    no-op and jobs stay in the window's group."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._muted = 0
        self.py4j_calls = 0
        client = sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if not self._muted:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted

    def set_group(self, group: str) -> None:
        self._muted += 1
        try:
            self.sc.setJobGroup(group, group)
        finally:
            self._muted -= 1

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "name": name,
            "group": f"pb-span-{sid}",
            **attrs,
        }
        self.set_group(rec["group"])
        self._muted += 1
        cpu0, _ = tree_sample()
        self._muted -= 1
        calls0 = self.py4j_calls
        self._stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            cpu1, _ = tree_sample()
            rec.update(
                start=t0,
                end=t1,
                dur=t1 - t0,
                py4j_calls=self.py4j_calls - calls0,
                cpu={k: max(0.0, cpu1[k] - cpu0[k]) for k in KINDS},
            )
            self.spans.append(rec)
            self.set_group(parent["group"] if parent else WINDOW_GROUP)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def resolve(self) -> None:
        """Attach self-only Spark counts to every span, then inclusive
        sums (``incl_*``) and self time over the span tree."""
        by_id = {s["id"]: s for s in self.spans}
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            s.update(job_counts(self.sc, s["group"]))
            if s["parent"] in by_id:
                kids.setdefault(s["parent"], []).append(s)

        def incl(s: dict) -> dict:
            tot = {k: s[k] for k in COUNT_KEYS}
            for c in kids.get(s["id"], ()):
                for k, v in incl(c).items():
                    tot[k] += v
            return tot

        for s in self.spans:
            for k, v in incl(s).items():
                s[f"incl_{k}"] = v
            s["self"] = s["dur"] - sum(c["dur"] for c in kids.get(s["id"], ()))


COUNT_KEYS = ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes")


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, executed stages, tasks, failed task attempts and shuffle
    write bytes of one job group, from the status tracker and store.
    Skipped stages (reused shuffle output) are not counted."""
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(COUNT_KEYS, 0)
    seen: set[int] = set()
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # evicted from the store
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
    return out
