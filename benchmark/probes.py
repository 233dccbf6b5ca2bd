"""Host and process probes read from ``/proc`` and cgroup files.

Nothing here imports Spark: the probes see the JVM, its Python
workers and the benchmark process only as Linux processes.
"""

from __future__ import annotations

import os
import signal
import time

_CPUACCT = "/sys/fs/cgroup/cpuacct/cpuacct.usage"
_PR_SET_CHILD_SUBREAPER = 36


def cpu_seconds() -> float:
    """CPU seconds used so far by the whole VM, from the cgroup v1
    ``cpuacct`` counter at the root. Raises when that file cannot be
    read: no other counter measures the same quantity."""
    try:
        with open(_CPUACCT) as f:
            return int(f.read()) / 1e9
    except (OSError, ValueError) as e:
        raise RuntimeError(f"cannot read VM CPU time from {_CPUACCT}: {e}") from e


def stat_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``/proc/stat`` line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted in user/nice
    return steal, sum(vals[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def python_loop_ms(rounds: int = 5) -> float:
    """Best-of-``rounds`` wall time of a fixed pure-Python loop: a
    host-speed reading to print next to the figures it may explain."""
    best = float("inf")
    for _ in range(rounds):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc = (acc + i * i) % 1_000_003
        best = min(best, time.perf_counter() - t0)
    return best * 1e3


def _processes() -> dict[int, tuple[int, str, bool, bytes]]:
    """pid -> (parent pid, start time, alive, command line) of every
    process; a zombie is not alive."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        out[int(name)] = (int(fields[1]), fields[19], fields[0] not in "ZX", cmd)
    return out


def descendants(procs=None) -> dict[int, str]:
    """pid -> start time of every live process below this one."""
    procs = _processes() if procs is None else procs
    me = os.getpid()

    def below(pid: int) -> bool:
        for _ in range(64):
            pid = procs[pid][0] if pid in procs else 0
            if pid == me:
                return True
            if pid <= 1:
                return False
        return False

    return {pid: p[1] for pid, p in procs.items() if p[2] and below(pid)}


def adopt_orphans() -> None:
    """Make this process the reaper of every orphan below it, so a
    Python worker whose JVM has exited stays in this process tree and
    :func:`end_tree` can wait for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def end_tree(grace_s: float = 30.0) -> None:
    """Wait until every process below this one has ended, reaping
    each; kill those still alive after ``grace_s`` and wait for them
    too. Needs :func:`adopt_orphans` first, so that no descendant can
    leave the tree."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {sorted(descendants())} outlived SIGKILL")
            for pid in descendants():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 30.0
        time.sleep(0.05)


def python_worker_pids() -> list[int]:
    """PIDs of this process tree's PySpark Python workers (the
    ``pyspark.daemon`` process and the workers it forks)."""
    procs = _processes()
    return sorted(pid for pid in descendants(procs)
                  if b"pyspark.daemon" in procs[pid][3]
                  or b"pyspark/daemon" in procs[pid][3])


def peak_rss_mb(pids: list[int]) -> float:
    """Max ``VmHWM`` (peak resident set) over ``pids``, in MiB; 0 when
    none of them is alive."""
    peak = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
                        break
        except OSError:
            continue
    return peak / 1024.0
