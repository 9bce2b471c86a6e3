"""Host context for a run: co-tenant CPU share and hypervisor steal (the
same /proc/stat readings ``bench.py`` stamps), and the peak resident memory
of the benchmark's whole process tree (driver, JVM, Python workers)."""

from __future__ import annotations

import os
import threading
import time


def _cpu_times() -> tuple[int, int, int]:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return idle, steal, sum(vals)


def cotenant_cpu(sample_s: float = 0.5) -> dict:
    """Share of all cores busy (and stolen) while this process and its
    idle JVM sleep: load that is not ours."""
    try:
        i0, s0, t0 = _cpu_times()
        time.sleep(sample_s)
        i1, s1, t1 = _cpu_times()
    except OSError:
        return {"busy": None, "steal": None}
    dt = max(t1 - t0, 1)
    steal = (s1 - s0) / dt
    return {"busy": round(1.0 - (i1 - i0) / dt - steal, 4),
            "steal": round(steal, 4)}


class StealMeter:
    """Hypervisor steal share between ``start()`` and ``stop()``."""

    def start(self) -> None:
        try:
            _, self._s0, self._t0 = _cpu_times()
        except OSError:
            self._t0 = None

    def stop(self) -> float | None:
        if self._t0 is None:
            return None
        _, s1, t1 = _cpu_times()
        return round((s1 - self._s0) / max(t1 - self._t0, 1), 4)


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages (a forked Python worker's
    inherited imports) count once across the processes sharing them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


class RssSampler:
    """Samples the process tree's memory (summed PSS) in a background
    thread; ``peak_kb`` is the largest sum seen."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_procs: list[int] = []   # per-process kB at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            sizes = [_pss_kb(p) for p in _tree(me)]
            if sum(sizes) > self.peak_kb:
                self.peak_kb = sum(sizes)
                self.peak_procs = sorted(sizes, reverse=True)
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _start_time(pid: int) -> str | None:
    """``pid``'s start time (clock ticks since boot), or ``None`` once it
    has ended: gone, or a zombie (ended, waiting to be reaped)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return None if fields[0] in ("Z", "X") else fields[19]


def descendants() -> dict[int, str]:
    """Every process below this one, with its start time, so that a pid
    reused after it ends is not mistaken for it."""
    out = {}
    for pid in _tree(os.getpid())[1:]:
        st = _start_time(pid)
        if st is not None:
            out[pid] = st
    return out


def end_processes(procs: dict[int, str], grace_s: float = 20.0) -> list[int]:
    """Wait up to ``grace_s`` for ``procs`` (from ``descendants()``) to end,
    then SIGTERM and at last SIGKILL what is left, and wait until each has
    ended. Returns the pids that had to be signalled."""
    import signal

    def alive() -> list[int]:
        return [p for p, st in procs.items() if _start_time(p) == st]

    signalled: list[int] = []
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0),
                        (signal.SIGKILL, 10.0)):
        left = alive()
        if sig is not None:
            for pid in left:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            signalled += [p for p in left if p not in signalled]
        deadline = time.monotonic() + wait_s
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = alive()
        if not left:
            break
    return signalled
