"""Counters read from outside the program: ``/proc`` and Spark's status store.

Nothing here touches ``lsh_qd_spark``. CPU and memory come from ``/proc``
for this process and every descendant (the Spark JVM, the PySpark daemon
and its forked workers). Spark counters come from the driver's own status
store over py4j, keyed by job groups the benchmark sets around each call,
so they work with ``spark.ui.enabled=false`` and without the REST API.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None when
    the process has already gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name is parenthesised and may itself contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def process_start_time() -> float:
    """Wall-clock time at which this process was started by the kernel."""
    fields = _read_stat(os.getpid())
    start_ticks = int(fields[19])  # starttime, field 22 of stat(5)
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / CLK_TCK)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _read_stat(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its live descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except (FileNotFoundError, ProcessLookupError):
        return ""


def _cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` plus that of its reaped children; summed
    over a live tree this counts every CPU second once."""
    fields = _read_stat(pid)
    if fields is None:
        return 0.0
    return sum(int(v) for v in fields[11:15]) / CLK_TCK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


@dataclass
class TreeMeter:
    """CPU seconds and peak RSS of this process tree.

    ``cpu()`` splits CPU into the whole tree and the Python workers (every
    descendant of the JVM: the PySpark daemon and its forked workers).
    ``peak_rss_mb`` is the sum over every process seen by ``sample()`` of
    its own peak RSS (``VmHWM``). Those peaks need not coincide, pages
    shared by forked workers count once per worker, and workers that start
    and end between samples are missed: it is an upper-bound footprint, not
    the tree's RSS at any one moment. ``peaks_mb()`` gives it per part.
    """

    root: int = field(default_factory=os.getpid)
    _hwm: dict[int, tuple[int, str]] = field(default_factory=dict)

    def _walk(self):
        """(pid, part) for this tree, where part is ``driver``, ``jvm`` or
        ``workers`` (every descendant of the JVM: the PySpark daemon and
        its forked workers)."""
        kids = _children()
        todo = [(self.root, "driver")]
        while todo:
            pid, part = todo.pop()
            if part == "driver" and _comm(pid) == "java":
                part = "jvm"
            yield pid, part
            below = "driver" if part == "driver" else "workers"
            todo.extend((k, below) for k in kids.get(pid, ()))

    def cpu(self) -> tuple[float, float]:
        """(tree CPU seconds, Python-worker CPU seconds) so far."""
        total = py = 0.0
        for pid, part in self._walk():
            c = _cpu_s(pid)
            total += c
            if part == "workers":
                py += c
        return total, py

    def sample(self) -> None:
        for pid, part in self._walk():
            hwm = _hwm_kb(pid)
            if hwm > self._hwm.get(pid, (0, ""))[0]:
                self._hwm[pid] = (hwm, part)

    @property
    def peak_rss_mb(self) -> float:
        return sum(kb for kb, _ in self._hwm.values()) / 1024.0

    def peaks_mb(self) -> dict[str, float]:
        """Summed peak RSS per part: ``driver``, ``jvm``, ``workers``."""
        out: dict[str, float] = {}
        for kb, part in self._hwm.values():
            out[part] = out.get(part, 0.0) + kb / 1024.0
        return out


@dataclass
class GroupCounters:
    """Spark's own counters for every job run under one job group."""

    jobs: int = 0
    stages: int = 0  # stages that ran (skipped stages are not counted)
    task_s: float = 0.0  # executorRunTime, summed over tasks
    shuffle_write_bytes: int = 0
    input_rows: int = 0  # rows read from files and cached blocks
    failed_tasks: int = 0


class StatusStore:
    """Reads Spark's ``AppStatusStore`` over py4j."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._conv = self._sc._jvm.scala.jdk.javaapi.CollectionConverters

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group, False)

    def clear_group(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def counters(self, group: str) -> GroupCounters:
        out = GroupCounters()
        stage_ids: set[int] = set()
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
            out.jobs += 1
            stage_ids.update(
                self._conv.asJava(self._store.job(job_id).stageIds())
            )
        for sid in sorted(stage_ids):
            for st in self._conv.asJava(
                self._store.stageData(sid, False, None, False, None)
            ):
                if st.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.task_s += st.executorRunTime() / 1e3
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.input_rows += st.inputRecords()
                out.failed_tasks += st.numFailedTasks()
        return out
