"""What the benchmark reads about the machine and its own processes,
from ``/proc`` (psutil is not a dependency)."""

from __future__ import annotations

import os
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
             "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    return list(os.getloadavg())


def environment(root: str) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or "unknown"
    except OSError:
        commit = "unknown"
    return {
        "nproc": nproc(),
        "blas_env": {v: os.environ.get(v) for v in BLAS_VARS},
        "spark_version": pyspark.__version__,
        "git_commit": commit,
    }


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every live process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        name, rest = stat.split("(", 1)[1].rsplit(")", 1)
        out[int(entry)] = (int(rest.split()[1]), name)
    return out


def exe(pid: int) -> str | None:
    """The program ``pid`` runs, or None once it has exited."""
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def descendants(pid: int, procs=None) -> set[int]:
    """Every live process below ``pid`` (JVM, Python workers, ...)."""
    children: dict[int, list[int]] = {}
    for p, (ppid, _) in (procs or _processes()).items():
        children.setdefault(ppid, []).append(p)
    out: set[int] = set()
    todo = [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    """Resident set size from ``/proc/<pid>/statm``, a counter the
    kernel keeps. Reading it costs microseconds; the JVM's
    ``smaps_rollup`` (for PSS) walks its page tables and took ~57 ms a
    read, a fifth of a core at four reads a second."""
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except (OSError, IndexError):
        return 0  # exited while sampling


class PeakRSS:
    """Samples the memory (RSS) of this process and its descendants every
    ``interval`` seconds on a background thread; ``peak`` is the
    largest sum seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval)

    def sample(self, me: int) -> None:
        procs = _processes()
        # a child the JVM is spawning (vfork) runs in the JVM's memory
        # until it execs, and would count that memory twice. It takes
        # the name of the JVM thread that spawned it, so it is told by
        # its program, which is still java's.
        spawning = {p for p, (ppid, _) in procs.items()
                    if procs.get(ppid, (0, ""))[1] == "java" and exe(p) == exe(ppid)}
        total = sum(rss_bytes(p) for p in (descendants(me, procs) | {me}) - spawning)
        self.peak = max(self.peak, total)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def wait_gone(pids: set[int], timeout: float) -> set[int]:
    """Wait until none of ``pids`` exists; returns the ones left."""
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    return pids


def tree_snapshot(root: str, skip: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file under ``root`` outside ``skip``."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if os.path.join(d, x) != skip]
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.lstat(p)
            except OSError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out
