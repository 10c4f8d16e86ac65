"""CPU seconds and peak memory of a process tree, read from /proc.

The tree is the Spark JVM and everything it forks (Python workers).
CPU includes reaped children (``cutime``/``cstime``) so short-lived
workers still count once their parent has waited for them.
"""

from __future__ import annotations

import os
import signal
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    total = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            total += sum(int(v) for v in fields[11:15])
    return total / _CLK


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests while this VM's
    vCPUs wanted to run (``steal``, summed over all vCPUs; 0 on bare
    metal or when the kernel does not account it)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK if len(fields) > 8 else 0.0


def peak_rss_mb(root: int) -> float:
    """Sum of ``VmHWM`` (per-process resident high-water mark)."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def reap(pids: list[int], timeout: float = 30.0) -> None:
    """Terminate whatever in ``pids`` is still alive and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in pids if _alive(p)]
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout / 2
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if _alive(p)]
        if not alive:
            return
