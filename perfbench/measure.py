"""Measurement helpers: order statistics, process-tree RSS sampling from
/proc, the pure-CPU calibration probe, and stopping every process a run
started."""

from __future__ import annotations

import ctypes
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

MIN_BEYOND = 10  # samples that must lie above a reported tail percentile


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least MIN_BEYOND samples above it:
    (value, percentile level, samples beyond). With too few samples for
    any such percentile the maximum is reported, with 0 samples beyond."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= MIN_BEYOND:
        return xs[-1], 100.0, 0
    k = n - MIN_BEYOND - 1  # exactly MIN_BEYOND samples after index k
    return xs[k], 100.0 * (k + 1) / n, MIN_BEYOND


def process_start_monotonic() -> float:
    """time.monotonic() value at which this process started (Linux: from
    /proc/self/stat and /proc/uptime); falls back to now."""
    try:
        with open("/proc/self/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        start_ticks = int(fields[19])  # field 22 of stat, counted after comm
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
        return time.monotonic() - max(age, 0.0)
    except (OSError, ValueError, IndexError):
        return time.monotonic()


def _tree_rss_bytes(root: int) -> int:
    """Summed resident set size of `root` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # process exited while listing
        children.setdefault(ppid, []).append(int(name))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total


class RssSampler:
    """High-water RSS of this process tree (driver, JVM, Python workers),
    sampled from /proc by a background thread between start() and stop()."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(me))
            self.samples += 1
            self._stop.wait(self.interval_s)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stops sampling and returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_bytes / 2**20


# one calibration worker: reports ready, waits for "go" on stdin (so all
# workers burn over the same interval), burns for argv[1] seconds (in a
# function: locals, as in bench.calibrate) and prints its iteration count
_BURN = """
import sys, time

def burn(seconds):
    t0 = time.monotonic()
    n, x = 0, 1.0
    while time.monotonic() - t0 < seconds:
        for _ in range(10000):
            x = x * 1.0000001 % 97
        n += 10000
    return n

print("ready", flush=True)
sys.stdin.readline()
print(burn(float(sys.argv[1])), flush=True)
"""


def calibrate(workers: int, seconds: float = 0.25) -> float:
    """Aggregate M iter/s the host gives `workers` busy processes (the
    probe bench.calibrate uses). Context for comparing runs, never gated.
    Plain subprocesses, not multiprocessing, which would leave its
    resource-tracker process running until this process exits."""
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _BURN, str(seconds)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(workers)
    ]
    try:
        for p in procs:
            p.stdout.readline()
        for p in procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        total = sum(int(p.communicate(timeout=60)[0]) for p in procs)
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    return total / seconds / 1e6


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> bool:
    """Makes this process the reaper of its orphaned descendants (Linux),
    so what the JVM leaves behind when it exits (the pyspark worker daemon
    and its workers, the launcher script's subshell) is re-parented here
    and can be stopped and waited for by reap_children()."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _children(parent: int) -> list[int]:
    kids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[1]) == parent:
                    kids.append(int(name))
        except (OSError, ValueError, IndexError):
            continue  # process exited while listing
    return kids


def reap_children(timeout_s: float = 30.0) -> None:
    """Stops every child of this process that is still alive (orphans
    adopted through become_subreaper() included) and waits until each has
    ended: SIGTERM first, SIGKILL after timeout_s. Gives up on a process
    that SIGKILL has not ended within another timeout_s."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    signalled: set[int] = set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no child left
        now = time.monotonic()
        if now > deadline + timeout_s:
            return
        late = now > deadline
        for pid in _children(me):
            if late or pid not in signalled:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        time.sleep(0.05)
