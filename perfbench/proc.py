"""Process-tree CPU and memory, and host CPU steal, read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and every live descendant: here the driver's Python,
    the JVM it launched, and the JVM's Python UDF workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _ppid(pid: int) -> int:
    fields = _stat_fields(pid)
    return int(fields[1]) if fields else -1


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by the tree, user and system, including
    children already reaped by a member of the tree."""
    total = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _driver(root: int) -> list[int]:
    return [root] + [p for p in tree(root) if _ppid(p) == root]


def reset_driver_peak_rss(root: int) -> None:
    """Restart the VmHWM count of the driver processes (Linux 4.0+)."""
    for pid in _driver(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def driver_peak_rss_mb(root: int) -> float:
    """Peak resident set (VmHWM) of ``root`` plus that of its direct
    children, in MB: the driver's Python and the JVM it launched. The
    JVM's Python UDF workers are left out: how many are alive at a given
    moment depends on timing, and their copy-on-write pages shared with
    the daemon would be counted once per worker."""
    kb = 0
    for pid in _driver(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def cpu_sample() -> tuple[int, int]:
    """(steal, total) jiffies of the host from the first line of
    /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0
