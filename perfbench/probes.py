"""Host probes: the N-process calibration burn, the Python-worker RSS
sampler, the in-memory span recorder of the traced run, and the
clean-up that leaves no process of a run behind."""

from __future__ import annotations

import ctypes
import multiprocessing
import os
import signal
import threading
import time
from contextlib import contextmanager

BURN_ITERS = 2_000_000


def _burn(_: int) -> float:
    t0 = time.perf_counter()
    x = 0.0
    for i in range(BURN_ITERS):
        x += i * 1e-9
    return time.perf_counter() - t0


def calibration_burn(n: int) -> float:
    """Slowest of ``n`` processes each running the same fixed Python
    loop at once: near the one-process time on an idle host, longer
    under CPU steal.  Process start-up is not timed."""
    pool = multiprocessing.get_context("spawn").Pool(n)
    try:
        return max(pool.map(_burn, range(n)))
    finally:
        pool.close()
        pool.join()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _state(pid: int) -> str | None:
    """One-letter state of ``pid`` ("Z" for a zombie), None once gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return None


def _reap(pid: int) -> None:
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:  # not a child of this process
        pass


def _signal(pid: int, sig: int) -> None:
    try:
        os.kill(pid, sig)
    except ProcessLookupError:
        pass


def wait_gone(pids, timeout: float = 30.0) -> None:
    """Wait until every pid has exited, reaping those that are children
    of this process; SIGKILL what outlives timeout."""
    t_end = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        for p in alive:
            _reap(p)
        alive = [p for p in alive if _state(p) not in (None, "Z")]
        if alive and time.monotonic() > t_end:
            for p in alive:
                _signal(p, signal.SIGKILL)
            t_end = time.monotonic() + timeout
        time.sleep(0.05)


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts: a
    process whose parent dies first (the Python worker daemon of a JVM
    that exited, say) is reparented here instead of to init, so
    stop_descendants still finds it."""
    try:
        ctypes.CDLL(None).prctl(
            PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _stop_resource_tracker() -> None:
    """The tracker that spawn-context pools start outlives this process
    until it reads EOF on its pipe, and ignores SIGTERM: close the pipe
    and wait for it."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()


def stop_descendants(timeout: float = 30.0) -> None:
    """Stop every process this one started, directly or not, and wait
    until each has ended: SIGTERM, then SIGKILL after ``timeout``."""
    try:
        _stop_resource_tracker()
    except (AttributeError, OSError):
        pass  # left to the signals below
    for _ in range(3):
        kids = [p for p in descendants(os.getpid())
                if _state(p) not in (None, "Z")]
        if not kids:
            break
        for p in kids:
            _signal(p, signal.SIGTERM)
        wait_gone(kids, timeout)
    for p in descendants(os.getpid()):
        _reap(p)


def _hwm_kb(pid: int) -> int | None:
    """Peak RSS (VmHWM) of a Python process, None for anything else."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            exe = fh.read().split(b"\0", 1)[0]
        if b"python" not in os.path.basename(exe):
            return None
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class WorkerRss:
    """Samples the peak RSS of every Python process descended from the
    Spark JVM (the worker daemon and its forked workers) while running;
    ``peak_mb`` is the largest seen."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        for pid in descendants(self.jvm_pid):
            kb = _hwm_kb(pid)
            if kb is not None and kb > self.peak_kb:
                self.peak_kb = kb

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "WorkerRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class Spans:
    """Spans (name, op, parent, start, end; epoch seconds) kept in
    memory and written once at the end.  Disabled, it only times."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, op: str):
        t = {"start": time.time()}
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        try:
            yield t
        finally:
            self._stack.pop()
            t["end"] = time.time()
            if self.enabled:
                self.records.append({"name": name, "op": op,
                                     "parent": parent, **t})
