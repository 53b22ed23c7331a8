"""Process-tree CPU and RSS from /proc (psutil is not installed).

The tree is this Python driver and every live descendant: the
spark-submit launcher, the JVM it starts, the PySpark daemon the JVM
forks and the Python workers the daemon forks. A process's CPU is
utime + stime + cutime + cstime, so a worker that exits and is reaped
moves its time into its parent's cutime/cstime and is neither lost
nor counted twice. Pages that forked workers share with the daemon
are counted once per process, as /proc reports them.

Peak RSS is the sum over the tree's processes of each one's own
high-water mark (VmHWM), kept per pid by one sampler thread so that a
process that exits still counts. It reads no transient spike at a
random sampling phase, so it repeats run to run, and it bounds the
tree's simultaneous peak from above.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:  # exited between listdir and open
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> dict[int, list[str]]:
    """pid -> stat fields (from field 3, state) of ``root`` and its
    live descendants."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by the tree rooted at ``root``."""
    return sum(int(s[11]) + int(s[12]) + int(s[13]) + int(s[14])
               for s in tree(root).values()) / _TICK


def _hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited since the tree was listed
        pass
    return 0


class Sampler:
    """One background thread that reads each tree process's VmHWM every
    ``interval`` seconds; ``peak_rss`` is the sum of the per-pid maxima."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self._hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_rss(self) -> int:
        return sum(self._hwm.values())

    def _sample(self) -> None:
        for pid in tree(self.root):
            self._hwm[pid] = max(self._hwm.get(pid, 0), _hwm_bytes(pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()
            self._sample()
