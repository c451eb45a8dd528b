"""Process memory and directory sizes, read from ``/proc`` and the filesystem."""

from __future__ import annotations

import os
import threading


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command name (field 2) may contain spaces; ppid follows the ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(root_pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of ``root_pid`` and its descendants, reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def machine_cpu_s() -> tuple[float, float]:
    """(busy, total) CPU seconds of the whole machine since boot, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        user, nice, system, idle, iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    tick = os.sysconf("SC_CLK_TCK")
    busy = user + nice + system + irq + softirq + steal
    return busy / tick, (busy + idle + iowait) / tick


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and its descendants, in MiB.

    Each process's proportional set size, so the pages forked Python workers
    share with their daemon are counted once, not once per worker.
    """
    return sum(_pss_kb(pid) for pid in _descendants(root_pid)) / 1024.0


class PeakRss:
    """Samples the RSS of a process tree on a background thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (Spark's .crc files too)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            fp = os.path.join(dirpath, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


def count_files(path: str, suffix: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if f.endswith(suffix)
    )
