"""CPU seconds and resident memory of this process and its descendants,
read from ``/proc``.

The tree is the benchmark's own Python process, the Spark JVM it
launches and the JVM's Python workers. CPU time is what the tree was
scheduled for (user + system), so time the host steals from it does not
count. A child's time moves into its parent's ``cutime``/``cstime``
when the parent reaps it, so summing both over the live tree keeps the
time of workers that have already exited.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited while the tree was walked
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live descendant."""
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


def cpu_seconds(pids: list[int]) -> float:
    """user + system seconds of ``pids``, their reaped children included."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            total += int(fields[21]) * _PAGE  # rss in pages (field 24)
    return total


class TreeSampler:
    """Samples the tree's summed RSS on a background thread and keeps
    the peak; ``cpu()`` reads the tree's CPU seconds now.

    RSS counts only Python processes and the JVMs alive when sampling
    starts. A JVM spawns helper commands through vfork, and the child
    shares the JVM's memory until it execs: counting it would add the
    whole JVM again (a 12 GB peak was seen on a 5 GB tree)."""

    def __init__(self, root: int | None = None, interval_s: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu(self) -> float:
        return cpu_seconds(descendants(self.root))

    def _members(self) -> list[int]:
        return [
            p for p in descendants(self.root)
            if p in self._jvms or comm(p).startswith("python")
        ]

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, rss_bytes(self._members()))
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self.peak_rss = 0
        self._jvms = {p for p in descendants(self.root) if comm(p) == "java"}
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> int:
        """Stop sampling; return the peak summed RSS in bytes."""
        if self._thread is not None:
            self._stop.set()
            self._thread.join(timeout=5)
            self._thread = None
        return self.peak_rss


def own_cpu_seconds(pid: int) -> float:
    """user + system seconds of ``pid`` alone, without reaped children."""
    fields = _stat_fields(pid)
    return 0.0 if fields is None else (int(fields[11]) + int(fields[12])) / _TICK


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""
