"""Benchmark-side instrumentation: in-memory spans, a /proc RSS sampler
and a Spark event-log reader. Nothing here is imported by the program.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

SPAN_PROPERTY = "perfbench.span"


class NoTrace:
    """The tracer of an untraced operation: spans cost nothing."""

    span = staticmethod(lambda name: contextlib.nullcontext())


NO_TRACE = NoTrace()


class Tracer:
    """Spans (id, name, start, end, parent) kept in memory and written
    out when the run ends. While a span is open its id is set as a Spark
    local property, so the event log ties jobs to spans."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = self._set_property(str(rec["id"]))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_property(prev)

    def _set_property(self, value):
        prev = self.sc.getLocalProperty(SPAN_PROPERTY)
        self.sc.setLocalProperty(SPAN_PROPERTY, value)
        return prev

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def last(self, name: str) -> dict:
        """The most recent span called `name`."""
        return next(r for r in reversed(self.spans) if r["name"] == name)

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it the span's children cover."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == rec["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.duration(rec) - covered

    def ids_under(self, rec: dict) -> set:
        """Ids (as strings, like the Spark property) of `rec` and of every
        span nested inside it."""
        inside, grew = {rec["id"]}, True
        while grew:
            before = len(inside)
            inside |= {r["id"] for r in self.spans if r["parent"] in inside}
            grew = len(inside) > before
        return {str(i) for i in inside}

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON list."""
        with open(path, "w") as f:
            json.dump([dict(r, self=self.self_time(r)) for r in self.spans], f)


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, rss bytes, user+system clock ticks) for every live
    process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % d, "rb") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rfind(b")") + 2 :].split()
        out[int(d)] = (int(rest[1]), int(rest[21]) * page, int(rest[11]) + int(rest[12]))
    return out


def _descendants(table: dict, root: int) -> list[int]:
    """The live descendants of root, without root itself."""
    kids: dict[int, list[int]] = {}
    for pid, row in table.items():
        kids.setdefault(row[0], []).append(pid)
    out, todo = [], list(kids.get(root, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _thread_ticks(pid: int) -> int:
    """user+system clock ticks of pid's live threads, leaving out JIT
    compiler threads (a JVM's "C1/C2 CompilerThread<n>"): their work is
    the JVM warming up, not the operation, and it comes in bursts."""
    ticks = 0
    try:
        tids = os.listdir("/proc/%d/task" % pid)
    except OSError:
        return 0
    for tid in tids:
        try:
            with open("/proc/%d/task/%s/comm" % (pid, tid), "rb") as f:
                if b"CompilerThre" in f.read():
                    continue
            with open("/proc/%d/task/%s/stat" % (pid, tid), "rb") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rfind(b")") + 2 :].split()
        ticks += int(rest[11]) + int(rest[12])
    return ticks


def cpu_s() -> float:
    """CPU seconds used so far by the live descendants of this process
    (the Spark driver JVM and its Python workers), without the JVM's JIT
    compiler threads. The benchmark process, which holds the generated
    inputs, is left out. CPU time does not count time the hypervisor
    gave to other guests (steal), which wall time does."""
    ticks = sum(_thread_ticks(p) for p in _descendants(_proc_table(), os.getpid()))
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_share() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat:
    the difference of two readings gives the share of the machine the
    hypervisor gave to other guests in between."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


class RssSampler:
    """Peak summed RSS of the descendants of this process (the Spark
    driver JVM and its Python workers), sampled from /proc. The
    benchmark process, which holds the generated inputs, is left out."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        table = _proc_table()
        total = sum(table[p][1] for p in _descendants(table, os.getpid()))
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (uncompressed) Spark event logs under log_dir."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if line.strip():
                    events.append(json.loads(line))
    return events


def session_counters(events: list[dict], spans: set[str]) -> dict:
    """Engine counters over the jobs whose span property (a span id) is
    in `spans`:
    jobs, tasks, failed tasks, shuffle bytes, spill,
    GC seconds, executor run seconds, and task skew (max / median task
    time in the stage with the most task time)."""
    stage_ok: set[int] = set()
    jobs = 0
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        props = ev.get("Properties") or {}
        if props.get(SPAN_PROPERTY) in spans:
            jobs += 1
            stage_ok.update(ev.get("Stage IDs", []))
    c = {"jobs": jobs, "tasks": 0, "failed_tasks": 0,
         "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
         "spill_bytes": 0, "gc_s": 0.0, "run_s": 0.0}
    per_stage: dict[int, list[float]] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        if ev.get("Stage ID") not in stage_ok:
            continue
        c["tasks"] += 1
        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            c["failed_tasks"] += 1
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        run = m.get("Executor Run Time", 0) / 1000.0
        c["run_s"] += run
        per_stage.setdefault(ev["Stage ID"], []).append(run)
    skew = 0.0
    if per_stage:
        big = max(per_stage.values(), key=sum)
        med = statistics.median(big)
        skew = max(big) / med if med > 0 else 1.0
    c["task_skew"] = skew
    return c
