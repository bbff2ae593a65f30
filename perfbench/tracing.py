"""Benchmark-side observation: spans around calls into the program,
Spark's own counters from its event log, and the memory of the
process tree the benchmark started.

Nothing here changes what the program does. Spans wrap the module
attributes the entry points call (``job.write_table`` and friends) for
the duration of one traced call and restore them afterwards.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from unittest import mock


class Tracer:
    """In-memory span list: (name, start, end, parent)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.monotonic()
        try:
            yield
        finally:
            t1 = time.monotonic()
            self._stack.pop()
            self.spans.append({"name": name, "start": t0, "end": t1, "parent": parent})

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def spanned(self, fn, naming):
        """``fn`` recording a span per call; ``naming`` is the span name
        or a function of the call's arguments returning it."""

        def call(*args, **kwargs):
            name = naming(*args, **kwargs) if callable(naming) else naming
            with self.span(name):
                return fn(*args, **kwargs)

        return call

    @contextlib.contextmanager
    def wrap(self, owner, names: dict):
        """Swap each ``owner.<attr>`` for its spanned form (``attr →
        naming``) for the duration of the block."""
        with contextlib.ExitStack() as stack:
            for attr, naming in names.items():
                fn = getattr(owner, attr)
                stack.enter_context(mock.patch.object(owner, attr, self.spanned(fn, naming)))
            yield


# -- process tree memory -------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces or parentheses: fields
        # resume after its closing parenthesis
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids[ppid].append(int(entry))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this process)."""
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _status_kb(pid: int, field: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


class PeakRss:
    """Peak resident memory of this process's descendants (the driver
    JVM, the Python worker daemon and its workers) while running,
    summed per process name.

    Each process's kernel high-water mark (VmHWM) is reset when
    sampling starts and read every ``interval`` seconds; the peak is
    the sum over processes of each one's largest mark, so a worker that
    exits mid-run still counts. Where the reset is refused the resident
    size itself is sampled instead."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self._peak: dict[int, int] = {}
        self._names: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        for pid in descendants():
            kb = _status_kb(pid, "VmHWM:") if self._hwm else _status_kb(pid, "VmRSS:")
            if kb is not None and kb > self._peak.get(pid, 0):
                self._peak[pid] = kb
                if pid not in self._names:
                    try:
                        with open(f"/proc/{pid}/comm") as fh:
                            self._names[pid] = fh.read().strip()
                    except OSError:
                        pass

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._hwm = True
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                self._hwm = False
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    def by_process(self) -> dict[str, float]:
        """Peak MB per process name (``java``, ``python``, short-lived
        helpers the JVM spawns)."""
        out: dict[str, float] = defaultdict(float)
        for pid, kb in self._peak.items():
            out[self._names.get(pid, "?")] += kb / 1024.0
        return dict(out)


def cpu_seconds() -> dict[str, float]:
    """Machine-wide CPU time by state since boot (``/proc/stat``); the
    difference over a run shows time lost to the hypervisor (steal) or
    to disk waits."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()[1:]
    hz = os.sysconf("SC_CLK_TCK")
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: int(v) / hz for n, v in zip(names, fields)}


def wait_for_exit(pids: list[int], timeout: float = 30.0) -> list[int]:
    """Wait until every pid has exited; return those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _is_zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return True
    return stat[stat.rfind(")") + 2] == "Z"


# -- Spark event log -----------------------------------------------------

#: PythonSQLMetrics names (Spark 4.1) → short keys; times are in ms
_PY_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_received",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_total_ms",
}


def _event_lines(log_dir: str):
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0], encoding="utf-8") as fh:
        yield from fh


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Per-job-group totals from one application's event log.

    A job's group is its ``spark.jobGroup.id`` property; tasks belong
    to the group of the job that submitted their stage."""

    def __init__(self, log_dir: str) -> None:
        stage_group: dict[int, str] = {}
        self.groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        #: group → stage id → list of per-task dicts
        self.tasks: dict[str, dict[int, list[dict]]] = defaultdict(lambda: defaultdict(list))
        for line in _event_lines(log_dir):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                self.groups[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                group = stage_group.get(ev["Stage Info"]["Stage ID"])
                if group is not None:
                    self.groups[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is not None:
                    self._task(group, ev)

    def _task(self, group: str, ev: dict) -> None:
        g = self.groups[group]
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
        g["tasks"] += 1
        g["failed_tasks"] += reason != "Success"
        g["executor_run_s"] += _num(m.get("Executor Run Time")) / 1e3
        g["executor_cpu_s"] += _num(m.get("Executor CPU Time")) / 1e9
        g["gc_s"] += _num(m.get("JVM GC Time")) / 1e3
        g["spill_bytes"] += _num(m.get("Disk Bytes Spilled")) + _num(m.get("Memory Bytes Spilled"))
        sr = m.get("Shuffle Read Metrics") or {}
        g["shuffle_read_bytes"] += _num(sr.get("Remote Bytes Read")) + _num(sr.get("Local Bytes Read"))
        g["shuffle_write_bytes"] += _num((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
        task = {"run_s": _num(m.get("Executor Run Time")) / 1e3}
        for acc in info.get("Accumulables", ()):
            key = _PY_METRICS.get(acc.get("Name"))
            if key is not None:
                task[key] = task.get(key, 0.0) + _num(acc.get("Update"))
                g[key] += _num(acc.get("Update"))
        self.tasks[group][ev["Stage ID"]].append(task)

    def get(self, group: str, key: str) -> float:
        return self.groups.get(group, {}).get(key, 0.0)

    def python_stage(self, group: str) -> list[dict]:
        """Tasks of the group's stage that spent the most time in
        Python workers: the extraction stage of an extract job."""
        stages = self.tasks.get(group, {})
        best = max(
            stages.values(),
            key=lambda ts: sum(t.get("py_total_ms", 0.0) for t in ts),
            default=[],
        )
        return best if any(t.get("py_total_ms") for t in best) else []


def task_skew(tasks: list[dict]) -> float:
    """Slowest task's run time over the median task's."""
    runs = [t["run_s"] for t in tasks]
    if not runs:
        return 0.0
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 0.0
