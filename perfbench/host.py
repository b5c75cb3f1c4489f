"""Host conditions and process accounting read from ``/proc``.

These are recorded next to each result as context (how loaded the machine
was), not as metrics; ``peak_rss_mb`` is the one metric read here.
"""

from __future__ import annotations

import os
import time


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    start_ticks = int(_read("/proc/self/stat").rsplit(")", 1)[1].split()[19])
    uptime = float(_read("/proc/uptime").split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def loadavg() -> list[float]:
    return [float(x) for x in _read("/proc/loadavg").split()[:3]]


def cpu_ticks() -> tuple[int, int, int]:
    """(total, busy, steal) jiffies summed over all CPUs."""
    f = [int(x) for x in _read("/proc/stat").splitlines()[0].split()[1:]]
    idle = f[3] + f[4]  # idle + iowait
    steal = f[7] if len(f) > 7 else 0
    total = sum(f[:8])
    return total, total - idle - steal, steal


def steal_share(since: tuple[int, int, int]) -> float:
    """Share of all CPU time the hypervisor took since ``cpu_ticks()``
    returned ``since``."""
    total0, _, steal0 = since
    total1, _, steal1 = cpu_ticks()
    return (steal1 - steal0) / max(total1 - total0, 1)


class HostSampler:
    """Load average and CPU busy / steal shares between ``start`` and ``stop``."""

    def __init__(self) -> None:
        self.load_start = loadavg()
        self.ticks_start = cpu_ticks()
        self.wall_start = time.time()

    def stop(self) -> dict:
        total0, busy0, steal0 = self.ticks_start
        total1, busy1, steal1 = cpu_ticks()
        dt = max(total1 - total0, 1)
        return {
            "loadavg_start": self.load_start,
            "loadavg_end": loadavg(),
            "cpu_busy_share": round((busy1 - busy0) / dt, 4),
            "cpu_steal_share": round((steal1 - steal0) / dt, 4),
            "span_s": round(time.time() - self.wall_start, 3),
        }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_read(f"/proc/{name}/stat").rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this process)."""
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_by_process(pids: list[int]) -> dict[str, float]:
    """``VmHWM`` (peak resident set) in MiB per live process, keyed
    ``<name>-<pid>``."""
    out = {}
    for pid in pids:
        try:
            fields = dict(
                line.split(":", 1) for line in _read(f"/proc/{pid}/status").splitlines()
            )
        except (OSError, ValueError):
            continue  # exited
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[f"{name}-{pid}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def _alive(pid: int) -> bool:
    try:
        state = _read(f"/proc/{pid}/stat").rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in ("Z", "X")  # a zombie has already ended


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.05)
    return alive
