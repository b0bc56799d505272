"""Host-side readings from /proc: peak RSS of a process tree, CPU steal and
load average (run metadata), and waiting for child processes to end.

No psutil: everything is parsed from procfs text files.
"""

from __future__ import annotations

import os
import signal
import time


def _parent_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # field 4 (ppid) follows the parenthesised command, which may hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _parent_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def tree_peak_rss_mb(pid: int | None = None) -> tuple[float, dict]:
    """Sum of VmHWM over `pid` and every descendant: the Python driver, the
    JVM and the Python workers it forked. Also returns the split by
    command name: {comm: [processes, MB]}."""
    pid = os.getpid() if pid is None else pid
    total, split = 0.0, {}
    for p in [pid, *descendants(pid)]:
        mb = _vm_hwm_kb(p) / 1024.0
        total += mb
        n, acc = split.get(_comm(p), (0, 0.0))
        split[_comm(p)] = (n + 1, round(acc + mb, 1))
    return total, split


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]), sum(int(x) for x in parts[1:9])


class Contention:
    """Steal share and load average between start and end of a run: a run
    on a contended host is identifiable from its output alone."""

    def __init__(self) -> None:
        self.load_start = os.getloadavg()
        self.ticks_start = _cpu_ticks()

    def report(self) -> dict:
        steal_end, total_end = _cpu_ticks()
        steal0, total0 = self.ticks_start
        steal_pct = (
            100.0 * (steal_end - steal0) / (total_end - total0)
            if total_end > total0
            else 0.0
        )
        return {
            "steal_pct": round(steal_pct, 2),
            "loadavg_start": [round(x, 2) for x in self.load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        }


def _running(pid: int) -> bool:
    """True while the process exists and is not a zombie (an orphan's exit
    status is collected by init, not by us)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait until every pid has exited; SIGKILL what is left after the
    timeout and return the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return alive
