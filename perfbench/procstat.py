"""Process-tree and host counters read from ``/proc`` (Linux only).

The benchmark's process tree is the driver Python process, the JVM it
launches, and the PySpark worker processes the JVM forks.  CPU time is
``utime + stime`` of every live process plus ``cutime + cstime`` (the
CPU of children it has already reaped), so a worker that exits inside
a timed window is still counted once its parent reaps it.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cpu_s(pid: int, with_reaped: bool) -> float:
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # fields are numbered from state (3rd /proc field) at index 0
    ticks = int(fields[11]) + int(fields[12])
    if with_reaped:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / _TICK


def _io(pid: int) -> tuple[int, int]:
    try:
        with open(f"/proc/{pid}/io") as f:
            rows = dict(line.split(": ") for line in f.read().splitlines())
    except OSError:
        return 0, 0
    return int(rows["read_bytes"]), int(rows["write_bytes"])


def snapshot(driver_pid: int, jvm_pid: int | None) -> dict[str, float]:
    """CPU seconds and block-I/O bytes so far, split into the driver
    Python process, the JVM, and the PySpark workers below the JVM."""
    snap = {"driver_py_cpu_s": _cpu_s(driver_pid, with_reaped=False)}
    workers = descendants(jvm_pid)[1:] if jvm_pid else []
    # the JVM's reaped children are workers that already exited
    snap["jvm_cpu_s"] = _cpu_s(jvm_pid, with_reaped=False) if jvm_pid else 0.0
    snap["python_worker_cpu_s"] = sum(_cpu_s(p, with_reaped=True) for p in workers)
    if jvm_pid:
        fields = _stat_fields(jvm_pid)
        if fields is not None:
            snap["python_worker_cpu_s"] += (int(fields[13]) + int(fields[14])) / _TICK
    read = write = 0
    for pid in descendants(driver_pid):
        r, w = _io(pid)
        read, write = read + r, write + w
    snap["io_read_bytes"] = read
    snap["io_write_bytes"] = write
    snap["cpu_s"] = snap["driver_py_cpu_s"] + snap["jvm_cpu_s"] + snap["python_worker_cpu_s"]
    return snap


def delta(after: dict[str, float], before: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in after}


def reset_peak_rss(root: int) -> None:
    """Reset ``VmHWM`` (peak RSS) of every process in the tree, so the
    next :func:`peak_rss_mb` covers only what ran after this call."""
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(root: int) -> float:
    """Sum of the per-process peak resident sets in the tree, in MiB."""
    total_kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat`` (jiffies)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    :func:`cpu_times` readings (``steal`` is the 8th column)."""
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total > 0 else 0.0


def process_start_epoch() -> float:
    """Wall-clock time this process started, from its ``/proc`` start
    tick and the host boot time."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + int(_stat_fields(os.getpid())[19]) / _TICK
