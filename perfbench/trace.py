"""Measurement helpers: in-memory spans, process CPU time and memory."""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time


class Tracer:
    """Spans (name, start, end, parent, workload, run id) kept in memory and
    written out once at the end of the run. Disabled, it records nothing and
    ``span`` costs one attribute test."""

    def __init__(self, enabled: bool, workload: str, run_id: str):
        self.enabled = enabled
        self.workload = workload
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self._record(sid, name, start, end, parent, attrs)

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. from Spark's progress)."""
        sid = next(self._ids)
        if self.enabled:
            self._record(sid, name, start, end, parent, attrs)
        return sid

    def _record(self, sid, name, start, end, parent, attrs) -> None:
        span = {
            "id": sid,
            "name": name,
            "start": start,
            "end": end,
            "parent": parent,
            "workload": self.workload,
            "run_id": self.run_id,
        }
        if attrs:
            span["attrs"] = attrs
        with self._lock:
            self.spans.append(span)

    def uncovered_s(self, t0: float, t1: float, exclude: tuple[str, ...] = ()) -> float:
        """Time in [t0, t1] that no span (other than ``exclude``) covers."""
        ivs = sorted(
            (max(s["start"], t0), min(s["end"], t1))
            for s in self.spans
            if s["name"] not in exclude and s["end"] > t0 and s["start"] < t1
        )
        covered = 0.0
        cur_s = cur_e = None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (t1 - t0) - covered

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process (VmHWM), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


CLK_TCK = os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # names as /proc truncates them


def _stat_cpu_s(path: str) -> tuple[str, float]:
    """(thread or process name, user + system CPU seconds) from a /proc stat file."""
    with open(path) as f:
        s = f.read()
    rest = s[s.rindex(")") + 2:].split()
    return s[s.index("(") + 1:s.rindex(")")], (int(rest[11]) + int(rest[12])) / CLK_TCK


def process_cpu_s(pid: int | str = "self") -> tuple[float, float]:
    """(CPU seconds of the process, threads that have exited included; of
    which its live JIT compiler threads). A thread that exits between listing
    and reading is skipped."""
    jit = 0.0
    for stat in glob.glob(f"/proc/{pid}/task/*/stat"):
        try:
            name, cpu = _stat_cpu_s(stat)
        except (FileNotFoundError, ProcessLookupError):
            continue
        if name.startswith(JIT_THREADS):
            jit += cpu
    return _stat_cpu_s(f"/proc/{pid}/stat")[1], jit


def core_loop_s(n: int = 50_000) -> float:
    """Thread CPU seconds of a fixed pure-Python loop: how fast the core
    running it is right now."""
    t = time.thread_time()
    x = 0
    for i in range(n):
        x += i * i % 7
    return time.thread_time() - t


class SpeedProbe(threading.Thread):
    """Times ``core_loop_s`` every PERIOD_S while the window runs (about 3%
    of one core), so CPU time can be scaled to a reference core speed.
    ``samples`` holds (perf_counter at the loop's end, loop CPU seconds)."""

    PERIOD_S = 0.2

    def __init__(self):
        super().__init__(daemon=True)
        self.samples: list[tuple[float, float]] = []
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(self.PERIOD_S):
            loop_s = core_loop_s()
            self.samples.append((time.perf_counter(), loop_s))

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def cpu_steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot, in seconds
    (the steal column of /proc/stat; USER_HZ is 100 on Linux)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / 100


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]
