"""Process bookkeeping from ``/proc``: resident memory of the benchmark's
process tree (this Python process, the Spark JVM it launches, and the
JVM's Python workers) and an orderly shutdown that waits for every one of them.

``psutil`` is not assumed; everything here reads ``/proc`` directly.
"""

from __future__ import annotations

import os
import signal
import threading
import time
from contextlib import contextmanager


def _children(pid: int) -> list[int]:
    out: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (breadth-first)."""
    seen: list[int] = []
    todo = _children(pid)
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n in each. Summing plain RSS would count the
    pages a forked Python worker (or a JVM fork about to exec a shell
    command) shares with its parent twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def tree_rss_mb() -> dict[str, float]:
    """Resident memory (PSS) in MB of this process and its descendants
    (the Spark JVM and its Python workers), summed per command name."""
    out: dict[str, float] = {}
    for p in [os.getpid(), *descendants(os.getpid())]:
        name = _comm(p)
        out[name] = out.get(name, 0.0) + _pss_kb(p) / 1024.0
    return out


class PeakRss:
    """Samples the summed PSS of the process tree on a daemon thread and
    keeps the maximum. Use as a context manager around the whole run;
    ``paused()`` leaves a stretch of it out (no sample is taken inside)."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_by_name: dict[str, float] = {}
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        with self._lock:
            by_name = tree_rss_mb()
            total = sum(by_name.values())
            if total > self.peak_mb:
                self.peak_mb, self.peak_by_name = total, by_name

    @contextmanager
    def paused(self):
        with self._lock:
            yield

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
        return state != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if _alive(p)]
    return left


def stop_spark(spark) -> None:
    """Stop the session, then the JVM launched for it, then wait for the
    JVM and its Python workers to exit (killing any that linger)."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    for pid in wait_gone(tree, 20):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    wait_gone(tree, 10)
    # reap anything that was a direct child of this process
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if pid == 0:
            break
