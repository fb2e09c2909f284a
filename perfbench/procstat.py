"""CPU time and resident memory (PSS) of this process and all its descendants,
read from ``/proc`` (no psutil).

The tree is the driver Python, the JVM that ``spark-submit`` launches
under it, and the Python worker daemon and workers the JVM forks.
CPU counts ``utime + stime`` of every live member plus ``cutime +
cstime`` (children already reaped), so a worker that exits mid-window
moves its CPU into its parent's ``cutime`` and is still counted.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # comm may contain spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def is_running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every descendant alive now."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """Cumulative user+system CPU seconds of the process tree."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICKS


def tree_pss_bytes(root: int | None = None) -> int:
    """Summed proportional set size (PSS) of the tree: resident memory
    with each shared page split among the processes that map it. Plain
    RSS would count pages shared by the forked Python workers, and the
    whole JVM heap again for every helper process the JVM spawns, once
    per process."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            pass
    return total


class RssSampler:
    """Samples the tree's summed PSS on a background thread; ``peak``
    is the largest sample seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_pss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes())
        return self.peak
