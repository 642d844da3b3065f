"""Host context for a benchmark run: a raw-CPU scaling probe, the
hypervisor's steal time, and a peak-memory sampler over this process and
every process it started.

None needs psutil: the probe is md5 hash chains in child processes,
the rest reads ``/proc``.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import threading
import time

_PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>

# one probe process: hash ``argv[1]`` md5 chains of 60000 links after a
# "go" line on stdin, so that interpreter start-up is not timed
_PROBE = """
import hashlib, sys
print("ready", flush=True)
sys.stdin.readline()
for _ in range(int(sys.argv[1])):
    h = b"x"
    for _ in range(60_000):
        h = hashlib.md5(h).digest()
print("done", flush=True)
"""


def cpu_calibration(hi: int) -> float:
    """wall(1 process) / wall(``hi`` processes) over the same 12 md5 hash
    chains; ideal is ``hi``. The processes are started before the clock
    so that only the hashing is timed, and each is waited for."""
    walls = []
    for procs in (1, hi):
        ps = [
            subprocess.Popen([sys.executable, "-c", _PROBE, str(12 // procs)],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
            for _ in range(procs)
        ]
        try:
            for p in ps:
                p.stdout.readline()
            t0 = time.perf_counter()
            for p in ps:
                p.stdin.write("go\n")
                p.stdin.flush()
            for p in ps:
                p.stdout.readline()
            walls.append(time.perf_counter() - t0)
        finally:
            for p in ps:
                p.kill()
                p.wait()
                p.stdin.close()
                p.stdout.close()
    return walls[0] / walls[1]


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: time the
    hypervisor ran someone else while this VM wanted to run."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as f:
                out.extend(int(c) for c in f.read().split())
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def descendants(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        for child in _children(todo.pop()):
            out.append(child)
            todo.append(child)
    return out


def alive(pid: int) -> bool:
    """``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so
    that a process whose parent died (a Python worker whose JVM was
    killed) stays among :func:`descendants` instead of moving to init."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants(grace_s: float) -> list[int]:
    """Wait up to ``grace_s`` for every process this one started, directly
    or not, to end, then kill the rest and wait for them; returns the pids
    that had to be killed. Zombie children are reaped."""
    me = os.getpid()
    deadline = time.time() + grace_s
    killed: list[int] = []
    while True:
        left = [p for p in descendants(me) if alive(p)]
        if not left:
            break
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                if p not in killed:
                    killed.append(p)
        time.sleep(0.05)
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if pid == 0:  # none left to reap
            break
    return killed


def tree_pss_bytes(root: int) -> dict[str, int]:
    """Resident memory of ``root`` and its ``java`` / ``python*``
    descendants by command name, each shared page counted once (summed
    PSS): forked Python workers share most of their pages with the daemon
    they were forked from, and summed RSS would count those pages once per
    worker. Other descendants are the JVM's short-lived helper spawns,
    which share the JVM's address space until they exec and would count
    the whole JVM a second time."""
    out: dict[str, int] = {}
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/comm", encoding="ascii") as f:
                comm = f.read().strip()
            if comm == "java" or comm.startswith("python"):
                out[comm] = out.get(comm, 0) + _pss_bytes(pid)
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out


class MemSampler:
    """Background thread that keeps the peak of :func:`tree_pss_bytes`
    for this process (driver + JVM + Python workers)."""

    INTERVAL_S = 0.5

    def __init__(self):
        self.peak_bytes = 0
        self.peak_by_comm: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="mem-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            by_comm = tree_pss_bytes(pid)
            self.peak_bytes = max(self.peak_bytes, sum(by_comm.values()))
            for comm, b in by_comm.items():
                self.peak_by_comm[comm] = max(self.peak_by_comm.get(comm, 0), b)
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
