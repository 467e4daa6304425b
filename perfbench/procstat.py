"""CPU seconds and peak memory of this process and all of its descendants
(the driver Python, the JVM it launches, and the JVM's Python workers),
read from /proc with the standard library.  Memory is the proportional
set size (PSS): the Python workers are forked from one daemon and share
most of their pages, which a sum of RSS would count once per worker.
The JVM and the Python processes are summed apart, because how far the
JVM heap grows up to its cap is the collector's choice and differs from
run to run by a tenth."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # The command name may hold spaces: split after its closing paren.
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """utime + stime of the live tree, plus the reaped children each
    process has waited for (cutime + cstime)."""
    ticks = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields:
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def host_cpu_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of all CPUs since boot, from /proc/stat: busy is
    user + nice + system + irq + softirq; steal is time the hypervisor ran
    something else while a CPU of this machine had work."""
    with open("/proc/stat") as fh:
        f = [int(v) for v in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time wanted between two `host_cpu_ticks` readings
    that the hypervisor withheld."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / (busy + steal) if busy + steal else 0.0


def tree_pss_mb() -> dict[str, float]:
    """Summed PSS of the tree's JVM (`jvm`) and Python processes (`python`)."""
    total_kb = {"jvm": 0, "python": 0}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                kind = "jvm" if fh.read().strip() == "java" else "python"
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb[kind] += int(line.split()[1])
                        break
        except OSError:
            pass
    return {k: v / 1e3 for k, v in total_kb.items()}


class PssSampler:
    """Samples the tree's PSS on a thread and keeps the peak of the JVM's
    and of the Python processes' (`peak_mb`); use as a context manager."""

    def __init__(self, every_s: float = 0.2):
        self.every_s = every_s
        self.peak_mb = {"jvm": 0.0, "python": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        for kind, mb in tree_pss_mb().items():
            self.peak_mb[kind] = max(self.peak_mb[kind], mb)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.every_s):
                return

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
