"""CPU and resident memory of this process and every descendant, from /proc.

The tree is the benchmark's Python driver, the Spark driver JVM it
launches and the Python workers that JVM forks. CPU is user + system
time including reaped children, so work done by a worker that exited
during a run is still counted (in its parent's ``cutime``/``cstime``).
Resident memory counts Python processes by proportional set size (PSS):
the workers are forked from one daemon and share most of their pages,
which a plain sum of RSS would count once per worker. The JVM shares
next to nothing with the rest of the tree, and reading a multi-GB JVM's
smaps costs tens of milliseconds under its memory-map lock, so it
counts by RSS.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
# how often PeakRss samples the tree
SAMPLE_INTERVAL_S = 0.2


def _stat(pid: int) -> list[str] | None:
    """The stat fields after the command name, with the name prepended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return [raw[raw.index("(") + 1 : raw.rindex(")")]] + raw[raw.rindex(")") + 2 :].split()


def _tree() -> dict[int, list[str]]:
    """pid -> stat fields for this process and all its descendants."""
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                stats[int(d)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[2]), []).append(pid)
    out: dict[int, list[str]] = {}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """User + system CPU seconds of the tree so far."""
    # name=0 state=1 ppid=2 ... utime=12 stime=13 cutime=14 cstime=15
    return sum(sum(int(st[i]) for i in (12, 13, 14, 15)) for st in _tree().values()) / _TICK


def _resident(pid: int, st: list[str]) -> int:
    pss = _pss(pid) if st[0] != "java" else None
    return pss if pss is not None else int(st[22]) * _PAGE


def _pss(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited, or smaps unavailable: the caller falls back to RSS
        pass
    return None


def resident_bytes() -> int:
    """Resident bytes of the tree right now (PSS for Python processes)."""
    tree = _tree()
    return sum(
        _resident(pid, st)
        for pid, st in tree.items()
        if not (int(st[2]) in tree and _jvm_vfork(st, tree[int(st[2])]))
    )


def _jvm_vfork(child: list[str], parent: list[str]) -> bool:
    """Whether a child is the JVM's vfork that has not exec'd yet. It
    shares the JVM's pages, and takes the name of the forking thread, so
    counting it would count the JVM twice. The code and stack addresses
    (startcode, endcode, startstack) identify the image and, unlike the
    virtual size, do not move while the JVM allocates. Python workers
    fork from their daemon without exec and own their copied pages:
    they count."""
    return parent[0] == "java" and child[24:27] == parent[24:27]


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far: the share of
    steal over a run says how much the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    return [p for p in _tree() if p != os.getpid()]


class PeakRss:
    """Samples the tree's resident memory on a thread while in a ``with``."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, resident_bytes())
            self._stop.wait(SAMPLE_INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self.peak = resident_bytes()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> bool:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, resident_bytes())
        return False
