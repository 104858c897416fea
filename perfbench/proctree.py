"""CPU time and peak memory of the benchmark's process tree, read from /proc.

The Spark driver JVM is a child of the benchmark process and the Python
workers are children of the JVM, so the whole program lives in the
benchmark's process tree.

CPU time is the sum over that tree of each process's user and system
time, plus what its exited children used; the JVM's JIT compiler threads
are summed apart. A region's CPU seconds are the difference of two such
sums.

For memory a sampler thread walks the tree and sums the proportional set
size (``Pss`` in ``/proc/<pid>/smaps_rollup``) of every process in it; the
reported peak is the largest sum it saw. Pss charges a page shared by
forked workers once in total, not once per worker, so the figure does not
grow with the number of idle workers Spark keeps.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, in breadth-first order."""
    children = _children_map()
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


TICKS_PER_S = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads, "C1 CompilerThread0" and so on, as the
# kernel truncates thread names to 15 characters
JIT_THREAD = "CompilerThre"


def _cpu_ticks(stat_path: str) -> list[int]:
    """utime, stime, cutime and cstime from a ``stat`` file."""
    with open(stat_path, encoding="ascii", errors="replace") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return [int(f) for f in fields[11:15]]


def cpu_times() -> tuple[float, float]:
    """CPU seconds used so far by this process and its descendants, and the
    part of them spent in JIT compiler threads.

    The total is ``utime + stime + cutime + cstime`` of each live process; a
    child that has exited and been waited for is counted in its parent's
    ``c*`` times. The JIT part sums the compiler threads' own times, so it
    needs the JVM to keep those threads alive
    (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    total = jit = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            total += sum(_cpu_ticks(f"/proc/{pid}/stat"))
            for tid in os.listdir(f"/proc/{pid}/task"):
                task = f"/proc/{pid}/task/{tid}"
                with open(f"{task}/comm", encoding="ascii", errors="replace") as fh:
                    if JIT_THREAD not in fh.read():
                        continue
                jit += sum(_cpu_ticks(f"{task}/stat")[:2])
        except OSError:  # exited since the walk
            continue
    return total / TICKS_PER_S, jit / TICKS_PER_S


def pss_kb(pid: int) -> int:
    """The process's proportional set size; 0 once it has exited."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii", errors="replace") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        return 0
    return 0


class PeakMemory:
    """Samples the summed Pss of this process and its descendants."""

    def __init__(self, interval_s: float = 1.0):
        self._interval = interval_s
        self._root = os.getpid()
        self._peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = sum(pss_kb(p) for p in [self._root, *descendants(self._root)])
        self._peak_kb = max(self._peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def peak_mb(self) -> float:
        self.sample()
        return self._peak_kb / 1024.0


def reap_descendants(timeout_s: float = 30.0) -> None:
    """Wait until every descendant of this process has exited, reaping
    direct children; kill what is still alive after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        alive = [p for p in descendants(os.getpid()) if not _is_zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} survived SIGKILL")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True

