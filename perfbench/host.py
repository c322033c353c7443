"""Host facts and a sleep-drift sampler that flags stalled runs."""

from __future__ import annotations

import os
import signal
import sys
import threading
import time

_T0 = time.perf_counter()


def phase(name: str) -> None:
    """Progress note on stderr: seconds since start and the phase begun."""
    print(f"# {time.perf_counter() - _T0:7.2f}s {name}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over all CPUs (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process (``VmHWM``), in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class StallSampler:
    """Sleeps ``period`` seconds in a loop and records how late each wake-up
    was. The largest lateness is a host stall the run suffered (another
    tenant, swapping, a frozen VM) and gates nothing."""

    def __init__(self, period: float = 0.01):
        self.period = period
        self.max_late = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            t0 = time.perf_counter()
            time.sleep(self.period)
            self.max_late = max(self.max_late, time.perf_counter() - t0 - self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def children() -> list[int]:
    """Pids of this process's live child processes."""
    me = str(os.getpid())
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[1] == me and fields[0] != "Z":
            out.append(int(pid))
    return out


def stop_children(timeout: float = 20.0) -> None:
    """Terminate child processes still running (a JVM whose launch was
    interrupted has no gateway to stop it) and wait until they end."""
    pids = children()
    for pid in pids:
        os.kill(pid, signal.SIGTERM)
    deadline = time.monotonic() + timeout
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                if os.waitpid(pid, os.WNOHANG)[0]:
                    break
            except ChildProcessError:
                break
            time.sleep(0.1)
        else:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
