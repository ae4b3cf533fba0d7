"""Host stamp and process-memory sampling for run records."""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading
import time


def cpu_calib() -> float:
    """Single-thread numpy calibration pass: the int map + sum loop of
    bench.py's ``_cpu_calib``, at 10M elements instead of 50M to keep the
    pass small in memory. The second pass is timed; the first pays page
    faults. A slow value marks a slow phase of the host, not of the engine."""
    import numpy as np

    x = np.arange(10_000_000, dtype=np.int64)
    (x * 31 + 7).sum()
    t0 = time.perf_counter()
    (x * 31 + 7).sum()
    return time.perf_counter() - t0


def source_digest(pkg_dir: str) -> str:
    """sha1 over the engine's .py files, so a record names the code it ran
    even in a checkout that is not a git repository."""
    h = hashlib.sha1()
    for root, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, pkg_dir).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_commit(repo_dir: str) -> str | None:
    if not os.path.isdir(os.path.join(repo_dir, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", repo_dir, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def stamp(repo_dir: str, master: str) -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "master": master,
        "cpu_calib_s": cpu_calib(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "duckdb": duckdb.__version__,
        "git_commit": git_commit(repo_dir),
        "source_sha1": source_digest(os.path.join(repo_dir, "gdal_spark")),
    }


def _children(pid_ppid: dict[int, int], root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in pid_ppid.items() if pp == p)
    return out


def _process_table() -> dict[int, int]:
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may hold spaces; ppid is the 2nd field after the ')'
        table[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return table


def tree_rss_mb(root_pid: int) -> float:
    """Resident MB of a process and all its descendants: the JVM plus the
    Python daemon and workers it forks."""
    total = 0
    for pid in _children(_process_table(), root_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class RssSampler:
    """Samples tree_rss_mb(root_pid) every ``period`` seconds on a thread
    while in a ``with`` block."""

    def __init__(self, root_pid: int, period: float = 0.1):
        self.root_pid = root_pid
        self.period = period
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self):
        while not self._stop.is_set():
            self.samples.append((time.perf_counter(), tree_rss_mb(self.root_pid)))
            self._stop.wait(self.period)

    def peak_mb(self, start: float, end: float) -> float:
        """Highest sample taken between ``start`` and ``end``."""
        inside = [mb for t, mb in self.samples if start <= t <= end]
        return max(inside) if inside else max(mb for _, mb in self.samples)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
