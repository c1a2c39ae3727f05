"""Process-tree and host readings from /proc: CPU seconds and resident
memory of this process and every descendant (the JVM, the PySpark
daemon and its Python workers), CPU steal, load and the run's stamp."""

from __future__ import annotations

import os
import platform
import threading
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(entry)
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu() -> dict[int, float]:
    """{pid: user + system CPU seconds} over the tree, each including its
    reaped children (a Python worker that exits is folded into its
    parent's counters)."""
    out = {}
    for pid in tree_pids():
        fields = _stat_fields(str(pid))
        if fields is not None:
            # utime, stime, cutime, cstime (man 5 proc, fields 14-17)
            out[pid] = sum(int(v) for v in fields[11:15]) / _TICK
    return out


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1])
        except (OSError, IndexError):
            continue
    return total * _PAGE / 1e6


class RssSampler:
    """Samples the tree's resident memory on a background thread;
    ``peak()`` returns the highest sum seen since the last ``reset()``."""

    def __init__(self, interval_s: float = 0.2):
        self._interval = interval_s
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        rss = tree_rss_mb()
        with self._lock:
            self._peak = max(self._peak, rss)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0.0
        self.sample()

    def peak(self) -> float:
        self.sample()
        with self._lock:
            return self._peak


def cpu_times() -> list[int]:
    """Aggregate jiffies of /proc/stat's ``cpu`` line."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of all CPU time the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already inside user/nice
    return 100.0 * delta[7] / total if total else 0.0


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def load1() -> float:
    return os.getloadavg()[0]


def process_age_s() -> float:
    """Seconds since this process started (kernel clock, tick-resolution)."""
    start_ticks = int(_stat_fields("self")[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / _TICK


def git_head(root: Path) -> str:
    """Commit of the checkout, read from .git without running git;
    "unknown" outside a git work tree."""
    git = root / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        loose = git / ref
        if loose.exists():
            return loose.read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        pass
    return "unknown"


def stamp(root: Path, spark) -> dict:
    """Who and where: commit, cores, load and toolchain versions."""
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "git_head": git_head(root),
        "nproc": nproc(),
        "load1": load1(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
    }
