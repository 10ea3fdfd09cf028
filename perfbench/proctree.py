"""CPU and peak resident memory of this process and all its descendants,
read from ``/proc`` (``psutil`` is not available).

The tree is the driver (this Python process), the Spark JVM it launches,
the ``pyspark.daemon`` the JVM forks and the Python workers the daemon
forks.  CPU of a process that has exited and been reaped is still counted,
through its parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int):
    """(comm, ppid, cpu ticks incl. reaped children) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    rp = s.rindex(")")
    comm = s[s.index("(") + 1:rp]
    rest = s[rp + 2:].split()
    # rest[0] is field 3 (state): utime..cstime are fields 14-17
    return comm, int(rest[1]), sum(int(x) for x in rest[11:15])


def tree(root: int | None = None) -> dict[int, tuple[str, int]]:
    """{pid: (role, cpu_ticks)} for ``root`` and descendants.
    Role is ``driver`` for the root, ``jvm`` for java, ``python`` else."""
    root = os.getpid() if root is None else root
    stats = {}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        st = _read_stat(int(d))
        if st is None:
            continue
        stats[int(d)] = st
        children.setdefault(st[1], []).append(int(d))
    out = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        comm, _ppid, ticks = st
        role = ("driver" if pid == root
                else "jvm" if comm == "java" else "python")
        out[pid] = (role, ticks)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(snapshot: dict) -> dict[str, float]:
    """CPU seconds per role plus ``total`` for one :func:`tree` snapshot."""
    by_role = {"driver": 0.0, "jvm": 0.0, "python": 0.0}
    for role, ticks in snapshot.values():
        by_role[role] += ticks / CLK_TCK
    by_role["total"] = sum(by_role.values())
    return by_role


def peak_rss_bytes(snapshot: dict) -> int:
    """Sum of each live process's own peak resident size (``VmHWM``).

    Each process's peak is kept by the kernel, so no sampler can miss a
    short spike.  The sum bounds the tree's simultaneous peak from above,
    and counts pages that forked workers share once per process."""
    total = 0
    for pid in snapshot:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total
