"""Run context and process-tree memory sampling."""

from __future__ import annotations

import hashlib
import os
import platform
import threading
import time


def source_digest(root: str) -> str:
    """sha256 over the program's source files, identifying the code measured
    when the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "search_engine_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    """HEAD of the checkout when it is a git repository, read from its own
    ``.git`` directory only."""
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(root, ".git", ref[5:])
    if os.path.isfile(path):
        with open(path) as f:
            return f.read().strip()
    return None


def run_context(root: str, master: str, n_docs: int, seed: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "commit": git_commit(root),
        "source_sha256": source_digest(root),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "master": master,
        "corpus_docs": n_docs,
        "seed": seed,
        "loadavg_1m_start": os.getloadavg()[0],
    }


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user .. steal, in ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor took between two ``cpu_times``."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if sum(d) else 0.0


def _parents() -> dict[int, int]:
    """pid -> parent pid for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(name)] = int(fields[1])
    return out


def descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


class PeakRss:
    """Samples the process tree's resident memory every ``INTERVAL_S`` on a
    background thread. The process list is re-read every ``REFRESH``
    samples; in between only the known pids are read, so a sample holds the
    interpreter lock for a fraction of a millisecond."""

    INTERVAL_S = 0.5
    REFRESH = 4

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        page = os.sysconf("SC_PAGE_SIZE")
        pids: list[int] = []
        n = 0
        while not self._stop.is_set():
            if n % self.REFRESH == 0:
                pids = [me, *descendants(me)]
            n += 1
            total = 0
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * page
                except OSError:
                    continue
            self.peak = max(self.peak, total)
            self._stop.wait(self.INTERVAL_S)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stops sampling; -> peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / (1 << 20)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_for_exit(pids: list[int], timeout_s: float = 60.0) -> list[int]:
    """Waits until every process in ``pids`` has exited; -> the survivors."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.2)
        left = [p for p in left if _alive(p)]
    return left
