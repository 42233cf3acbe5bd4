"""CPU time and resident memory of this process and all its descendants.

Read from ``/proc``: the tree is this Python driver, the Spark JVM it
launched and the JVM's Python workers. CPU counts user + system time,
including the ``cutime``/``cstime`` of reaped children, so a worker that
exits mid-measurement still lands in its parent's total. Memory is the
proportional set size (PSS), so pages that forked Python workers share
with their parent are counted once.
"""

from __future__ import annotations

import contextlib
import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # the process ended between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in st[11:15])
    return total / _CLK


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss_bytes() -> int:
    """Summed PSS of the tree. A child still running its parent's binary is
    skipped when that binary is a JVM: that is a process-spawn helper
    between clone and exec, which shares the JVM's memory outright."""
    pids = tree_pids()
    comm = {}
    parent = {}
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            parent[pid] = int(st[1])
            with contextlib.suppress(OSError), open(f"/proc/{pid}/comm") as f:
                comm[pid] = f.read().strip()
    return sum(
        _pss_bytes(pid)
        for pid in parent
        if not (comm.get(pid) == "java" and comm.get(parent[pid]) == "java")
    )


class PeakMemory:
    """Samples the tree's summed PSS on a background thread; ``peak`` is the
    largest sample. Use as a context manager so the thread always stops."""

    INTERVAL_S = 0.25

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_pss_bytes())
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> PeakMemory:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
