"""Host-side probes: the benchmark's process tree, box load, and the
work directory's lifetime.

Everything here reads /proc directly, so it works without psutil and
costs no Spark job.
"""

from __future__ import annotations

import os
import shutil
import signal
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(") ", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all its descendants: the
    driver JVM and the Python workers the JVM forks."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by the process tree."""
    total = 0.0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(") ", 1)[1].split()
        except OSError:
            continue
        # utime, stime (+ reaped children's cutime, cstime)
        total += sum(int(x) for x in fields[11:15]) / _HZ
    return total


def tree_peak_rss_mb() -> float:
    """Sum over the tree of each process's peak resident set (VmHWM).
    An upper bound on the tree's simultaneous peak: per-process peaks
    need not coincide, and pages shared by forked workers count once
    per worker."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def stop_tree(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait for `pids` to exit; SIGKILL whatever is left after
    `timeout_s`. Returns the pids that had to be killed."""
    me = os.getpid()
    pids = [p for p in pids if p != me]
    deadline = time.time() + timeout_s
    while time.time() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)
    killed = [p for p in pids if _alive(p)]
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 10
    while time.time() < deadline and any(_alive(p) for p in killed):
        time.sleep(0.1)
    return killed


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(") ", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":  # our own zombie child: reap it
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def calib() -> dict:
    """Fixed single-thread CPU and memory-bandwidth probe plus the load
    average, recorded before and after every run so a run slowed by a
    noisy neighbour can be told apart in the artifact (same probe shape
    as `bench.calib`, about half its length)."""
    import numpy as np

    rng = np.random.RandomState(7)
    a = rng.rand(512, 512)
    a = a @ a  # untimed: BLAS init and page faults
    a /= np.abs(a).max()
    t0 = time.perf_counter()
    for _ in range(16):
        a = a @ a
        a /= np.abs(a).max()
    cpu_s = time.perf_counter() - t0
    big = np.zeros(32 * 1024 * 1024 // 8)
    big = big + 1.0  # untimed first touch
    t0 = time.perf_counter()
    for _ in range(8):
        big = big + 1.0
    mem_s = time.perf_counter() - t0
    return {
        "cpu_matmul_s": round(cpu_s, 4),
        "mem_stream_s": round(mem_s, 4),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under `path`."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                continue
    return files, size


class WorkDir:
    """`<base>/tmp-<pid>`: every store, sink, Spark local dir and event
    log of one run. Directories left by earlier runs whose process is
    gone are reported and removed before this run starts; this run's
    directory is removed by `close()`."""

    def __init__(self, base: str):
        self.base = base
        os.makedirs(base, exist_ok=True)
        self.leftovers = []
        for name in sorted(os.listdir(base)):
            if not name.startswith("tmp-"):
                continue
            pid = name[4:]
            if pid.isdigit() and _alive(int(pid)):
                continue
            full = os.path.join(base, name)
            files, size = dir_bytes(full)
            self.leftovers.append({"dir": name, "files": files, "bytes": size})
            shutil.rmtree(full, ignore_errors=True)
        self.path = os.path.join(base, f"tmp-{os.getpid()}")
        os.makedirs(self.path)

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
