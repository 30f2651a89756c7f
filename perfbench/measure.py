"""Measurement from outside the program: process-tree CPU and RSS read
from /proc, in-memory spans, and Spark's status REST API."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict[int, tuple[str, list[str]]]:
    """pid -> (command name, the /proc/<pid>/stat fields after it)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                s = f.read()
        except OSError:
            continue
        out[int(name)] = (s[s.find("(") + 1:s.rfind(")")],
                          s[s.rfind(")") + 2:].split())
    return out


def _tree(stats: dict[int, tuple[str, list[str]]],
          root: int) -> list[tuple[str, list[str]]]:
    """(command, stat fields) of every descendant of ``root``."""
    kids: dict[int, list[int]] = {}
    for pid, (_, f) in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(stats[pid])
        todo.extend(kids.get(pid, []))
    return out


def descendants() -> int:
    """How many processes run below this one: the Spark JVM and the
    Python workers it forks."""
    return len(_tree(_stats(), os.getpid()))


def tree_cpu_s() -> float:
    """CPU seconds of the process tree below this one, reaped children
    included (utime + stime + cutime + cstime)."""
    tree = _tree(_stats(), os.getpid())
    return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
               for _, f in tree) / _TICK


def tree_rss_mb() -> float:
    """Summed RSS of the JVM (this process's child) and the Python
    workers below it.  Other descendants are left out: the JVM spawns
    short-lived commands (e.g. chmod) through vfork, and until their
    exec such a child reports the whole JVM's RSS as its own."""
    root = os.getpid()
    return sum(int(f[21]) for comm, f in _tree(_stats(), root)
               if int(f[1]) == root or comm.startswith("python")
               ) * _PAGE / 2**20


class PeakRss:
    """Samples the summed RSS of the process tree every ``every`` s."""

    def __init__(self, every: float = 0.1):
        self.every, self.peak = every, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.every)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb())


class Tracer:
    """Spans (name, start, end, parent) around the benchmark's calls into
    the program's layers.  Kept in memory; ``dump`` writes them out."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name,
                           "parent": self._stack[-1] if self._stack else None,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per layer name under span ``root``: each span's
        duration minus its children's, summed per name."""
        dur = {s["id"]: s["end"] - s["start"] for s in self.spans}
        own = dict(dur)
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= dur[s["id"]]
        under = {root}
        out: dict[str, float] = {}
        for s in self.spans:  # parents precede their children
            if s["id"] == root or s["parent"] in under:
                under.add(s["id"])
                out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class SparkStatus:
    """Spark's status REST API (the web UI's /api/v1), local only."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def settled(self) -> tuple[int, int]:
        """(last job id, last stage id) once every submitted job has
        reached the status store."""
        for _ in range(200):
            jobs = self.get("jobs")
            if all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.05)
        stages = self.get("stages")
        return (max((j["jobId"] for j in jobs), default=-1),
                max((s["stageId"] for s in stages), default=-1))

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        """Spark-side metrics of the jobs and stages after ``mark``."""
        self.settled()
        jobs = [j for j in self.get("jobs") if j["jobId"] > mark[0]]
        stages = [s for s in self.get("stages?status=complete")
                  if s["stageId"] > mark[1]]
        delay, slow, slow_s = 0.0, None, -1.0
        for s in stages:
            tasks = self.get(f"stages/{s['stageId']}/{s['attemptId']}/"
                             f"taskList?length=100000")
            delay += sum(t.get("schedulerDelay", 0) for t in tasks) / 1e3
            durs = [t["duration"] for t in tasks if "duration" in t]
            if durs and max(durs) > slow_s:
                slow, slow_s = durs, max(durs)
        mb = 2.0 ** 20
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.executor_run_s":
                sum(s["executorRunTime"] for s in stages) / 1e3,
            "spark.executor_cpu_s":
                sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.scheduler_delay_s": delay,
            "spark.shuffle_read_mb":
                sum(s["shuffleReadBytes"] for s in stages) / mb,
            "spark.shuffle_write_mb":
                sum(s["shuffleWriteBytes"] for s in stages) / mb,
            "spark.spill_mb": sum(s["memoryBytesSpilled"]
                                  + s["diskBytesSpilled"] for s in stages) / mb,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "spark.task_skew": (max(slow) / max(statistics.median(slow), 1)
                                if slow else 1.0),
        }


def dir_mb(path: str) -> float:
    total = 0
    for top, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(top, f)).st_size
            except OSError:
                pass
    return total / 2**20
