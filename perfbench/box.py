"""What the machine offers and what the run uses: cores, memory, load and
the memory of this process tree, all read from /proc."""

from __future__ import annotations

import os
import threading
import time


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` reports without an
    OMP_NUM_THREADS override)."""
    return len(os.sched_getaffinity(0))


def meminfo_kb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0])
    return out


def driver_heap_mb(mem_total_kb: int) -> int:
    """Driver heap: an eighth of physical memory, between 1 and 4 GiB. The
    JVM, its off-heap buffers and one Python worker per core must fit
    beside other tenants of the box."""
    return max(1024, min(4096, mem_total_kb // 1024 // 8))


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


CPU_STATES = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")


def cpu_ticks() -> dict[str, int]:
    """The machine's cumulative CPU time per state (/proc/stat, clock ticks)."""
    with open("/proc/stat") as f:
        values = [int(v) for v in f.readline().split()[1:1 + len(CPU_STATES)]]
    return dict(zip(CPU_STATES, values))


def cpu_shares(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    """Share of the machine's CPU time in each state between two readings;
    ``steal`` is time the host ran something else on this box's cores."""
    delta = {k: after[k] - before[k] for k in CPU_STATES}
    total = sum(delta.values())
    return {k: v / total if total else 0.0 for k, v in delta.items()}


def quiet_stamp(load_before: float, load_after: float, n_cores: int) -> dict:
    """``quiet`` is false, with a machine-readable reason, when the box was
    busy: a 1-min load average above the core count before the run, or
    above twice the core count after it (the run itself keeps up to
    ``n_cores`` tasks busy, which the after-run average includes)."""
    reasons = []
    if load_before > n_cores:
        reasons.append(f"loadavg_1m_before={load_before:.2f}>nproc={n_cores}")
    if load_after > 2 * n_cores:
        reasons.append(f"loadavg_1m_after={load_after:.2f}>2*nproc={2 * n_cores}")
    stamp = {
        "quiet": not reasons,
        "loadavg_1m_before": load_before,
        "loadavg_1m_after": load_after,
        "nproc": n_cores,
    }
    if reasons:
        stamp["reason"] = ";".join(reasons)
    return stamp


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            resident_pages = int(f.read().split()[1])
    except OSError:
        return 0
    return resident_pages * os.sysconf("SC_PAGE_SIZE") // 1024


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided among
    the processes sharing it. The Python workers are forked from one daemon
    and share its pages, which a sum of RSS would count once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_memory_mb(pid: int) -> dict[str, float]:
    """Memory in MB of ``pid`` (the driver), its JVM and its other
    descendants (the Python workers), and their total. The JVM shares
    almost nothing, so its RSS is read (cheap); walking its page tables for
    PSS takes ~25 ms and holds its memory-map lock. The driver and workers
    are small, and PSS counts their shared pages once."""
    parts = {"driver": _pss_kb(pid) / 1024, "jvm": 0.0, "workers": 0.0}
    for p in descendants(pid):
        if _comm(p) == "java":
            parts["jvm"] += _rss_kb(p) / 1024
        else:
            parts["workers"] += _pss_kb(p) / 1024
    parts["total"] = sum(parts.values())
    return parts


class PeakMemory:
    """Samples the memory of this process and all its descendants (the JVM
    and its Python workers, see :func:`tree_memory_mb`) until stopped; keeps
    the peak of the total and of each part."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peaks: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @property
    def peak_mb(self) -> float:
        return self.peaks.get("total", 0.0)

    def _sample(self) -> None:
        for k, v in tree_memory_mb(os.getpid()).items():
            self.peaks[k] = max(self.peaks.get(k, 0.0), v)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive (a zombie counts as ended);
    returns the ones still alive at the deadline."""
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    return alive
