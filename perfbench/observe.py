"""Measurement helpers: spans, process-tree memory, the Spark status store
and percentiles. Nothing here times anything by itself; callers decide
which regions are timed and read the status store only between them."""

from __future__ import annotations

import itertools
import os
import statistics
import threading
import time
from contextlib import contextmanager


def median(values):
    return statistics.median(values) if values else 0.0


def quartiles(values) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail(values) -> tuple[float, float]:
    """``(value, percentile)``: the highest percentile of ``values`` that has
    at least ten samples beyond it. With ten samples or fewer no percentile
    qualifies and the maximum is returned as percentile 100."""
    s = sorted(values)
    if len(s) <= 10:
        return (s[-1] if s else 0.0), 100.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent span id and
    run id. ``enabled=False`` makes ``span`` a no-op, so the traced and the
    untraced code path are the same code."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        if attrs:
            rec["attrs"] = attrs
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere (e.g. a streaming trigger)."""
        if self.enabled:
            self.spans.append(
                {"id": next(self._ids), "name": name, "parent": parent, "run_id": self.run_id,
                 "start": start, "end": end, **({"attrs": attrs} if attrs else {})}
            )


# ------------------------------------------------------------ process memory

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and its descendants as the sum of their
    proportional set sizes: a page shared by several processes counts once
    in total. (Summing VmRSS counts the JVM twice whenever it forks a
    short-lived helper, which copies its page tables.)"""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and Spark's Python workers), sampled from /proc on a thread."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# ------------------------------------------------------- Spark status store

class StatusStore:
    """Reads per-stage totals from the driver's status store (works with the
    UI disabled). ``mark()`` before a region and ``since(mark, t0, t1)``
    after it sum every job and stage submitted in between. Never call it
    inside a timed region: each field is a py4j round trip."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._jvm = sc._jvm

    def _stages(self):
        return self._store.stageList(None, False, False, self._quantiles, self._jvm.java.util.ArrayList())

    def mark(self) -> tuple[int, int]:
        stages, jobs = self._stages(), self._store.jobsList(None)
        top_stage = stages.apply(0).stageId() if stages.size() else -1
        top_job = jobs.apply(0).jobId() if jobs.size() else -1
        return top_stage, top_job

    def since(self, mark: tuple[int, int], t0: float, t1: float) -> dict:
        """Totals over jobs/stages newer than ``mark``; ``t0``/``t1`` are the
        region's wall-clock bounds (epoch seconds) for ``driver_only_s``."""
        top_stage, top_job = mark
        out = dict.fromkeys(
            ("stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_bytes",
             "shuffle_read_bytes", "spill_bytes"), 0.0
        )
        intervals = []
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= top_stage:
                break
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["task_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined():
                end = done.get().getTime() / 1e3 if done.isDefined() else t1
                intervals.append((max(t0, sub.get().getTime() / 1e3), min(t1, end)))
        jobs = self._store.jobsList(None)  # newest first, like the stages
        n_jobs = 0
        while n_jobs < jobs.size() and jobs.apply(n_jobs).jobId() > top_job:
            n_jobs += 1
        out["jobs"] = float(n_jobs)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out["driver_only_s"] = max(0.0, (t1 - t0) - covered)
        return out


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_info(since: list[int] | None = None) -> dict:
    """Core count and load average; with ``since`` (an earlier
    ``cpu_times()``), also the busy and steal shares of all CPU time in
    between. Steal is time the hypervisor gave this VM's CPUs to others."""
    out = {"cpus": len(os.sched_getaffinity(0)), "loadavg": [round(x, 2) for x in os.getloadavg()]}
    if since is not None:
        now = cpu_times()
        delta = [b - a for a, b in zip(since, now)]
        total = max(1, sum(delta[:8]))
        out["busy_share"] = round(1 - (delta[3] + delta[4]) / total, 3)
        out["steal_share"] = round(delta[7] / total, 4) if len(delta) > 7 else 0.0
    return out
