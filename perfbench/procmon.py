"""Process-tree CPU and memory from ``/proc`` (no psutil).

The tree is this process plus every descendant: the Spark JVM, the Python
worker daemon and its forked workers.  Memory is each process's kernel
high-water mark (``VmHWM``), which ``/proc/<pid>/clear_refs`` can reset.  CPU of a process that exited and
was reaped inside the tree is still counted, because the kernel adds it to
the reaping parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may hold spaces/parens: fields resume after the LAST ')'
    return raw[raw.rfind(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu(root: int) -> float:
    """CPU seconds of the tree: user+sys of every live process plus the
    user+sys of its reaped children."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields after comm: [11]=utime [12]=stime [13]=cutime
            # [14]=cstime (stat(5) numbering minus the two leading fields)
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK


def peak_rss(pid: int) -> int:
    """The process's peak resident set (VmHWM) in bytes; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def reset_peak_rss(pid: int) -> None:
    """Restart the process's VmHWM from its current RSS (clear_refs 5)."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


class TreeSampler:
    """CPU and peak memory of the tree over a measured region.

    CPU is read exactly at :meth:`start` and :meth:`stop`.  Peak memory is
    the sum over the tree of each process's own peak RSS in the region:
    the kernel's high-water mark (VmHWM), reset at :meth:`start`.  The sum
    of per-process peaks bounds the peak of the summed RSS from above and,
    unlike sampling the sum, does not depend on catching short peaks.

    ``with TreeSampler() as s: ...`` then ``s.cpu_s`` and ``s.peak_rss``.
    """

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root
        self.cpu_s = 0.0
        self.peak_rss = 0
        self.peaks: list[tuple[str, int]] = []   # (command, bytes) per process
        self._cpu0 = 0.0

    def start(self) -> "TreeSampler":
        for pid in tree_pids(self.root):
            reset_peak_rss(pid)
        self._cpu0 = tree_cpu(self.root)
        return self

    def stop(self) -> None:
        self.cpu_s = tree_cpu(self.root) - self._cpu0
        self.peaks = sorted(((_comm(p), peak_rss(p))
                             for p in tree_pids(self.root)),
                            key=lambda x: -x[1])
        self.peak_rss = sum(b for _, b in self.peaks)

    def __enter__(self) -> "TreeSampler":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
