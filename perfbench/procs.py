"""The benchmark's process tree: its peak memory and the CPU time it used."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        # The command name may hold spaces; the fields resume after ')'.
        return fh.read().rsplit(")", 1)[1].split()


def tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    parents = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                parents[int(entry)] = int(_stat_fields(int(entry))[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(c for c, p in parents.items() if p == pid)
    return out


# The JVM's JIT compiler threads, by the names HotSpot gives them.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
# (pid, tid) -> whether it is a JIT compiler thread.
_is_jit: dict[tuple[int, str], bool] = {}
# (pid, tid) -> CPU nanoseconds last seen, for every JIT compiler thread seen
# so far. HotSpot stops idle compiler threads; their time is kept here.
_jit_ns: dict[tuple[int, str], int] = {}


def _process_cpu_ns(pid: int) -> int:
    """CPU time of a process, all its threads and the ones that ended
    included, in nanoseconds: its POSIX CPU clock (clock_getcpuclockid)."""
    return int(time.clock_gettime(((~pid) << 3) | 2) * 1e9)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants. Live
    processes are read from their CPU clocks to the nanosecond, reaped
    children only in clock ticks. Time a host takes from the guest's CPUs is
    not in it. Also updates the JIT compiler threads' share (``jit_cpu_s``)."""
    total_ns = 0
    for pid in tree(os.getpid()):
        try:
            f = _stat_fields(pid)
            total_ns += _process_cpu_ns(pid)
            tids = os.listdir(f"/proc/{pid}/task")
        except (OSError, IndexError):
            continue
        # cutime, cstime: children that have ended and been reaped
        total_ns += (int(f[13]) + int(f[14])) * 1_000_000_000 // _TICK
        for tid in tids:
            key = (pid, tid)
            try:
                if key not in _is_jit:
                    with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                        _is_jit[key] = fh.read().startswith(_JIT_THREADS)
                if _is_jit[key]:
                    with open(f"/proc/{pid}/task/{tid}/schedstat") as fh:
                        _jit_ns[key] = int(fh.read().split()[0])
            except OSError:
                continue
    return total_ns / 1e9


def jit_cpu_s() -> float:
    """CPU seconds of the JVM's JIT compiler threads, as of the last
    ``tree_cpu_s`` call; a part of ``tree_cpu_s``. The compiler keeps
    compiling Spark's generated code after warm-up, at times that vary from
    run to run. Code it has not compiled yet runs interpreted and costs more
    CPU in the executor threads, so the two parts trade against each other
    while their sum holds steadier."""
    return sum(_jit_ns.values()) / 1e9


def work_cpu_s() -> float:
    """``tree_cpu_s`` without the JIT compiler threads. The compiler works in
    the background on code that earlier calls ran, so over a short call its
    time belongs to no call in particular."""
    return tree_cpu_s() - jit_cpu_s()


class RssSampler:
    """Peak resident memory of this process and all its descendants: the sum
    over the tree's processes of each one's high-water mark (VmHWM), sampled
    periodically so that processes which exit early are counted too."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.hwm_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @property
    def peak_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024

    def sample(self) -> None:
        for pid in tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0), kb)
                            break
            except (OSError, IndexError, ValueError):
                continue

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()



def calibrate() -> list[float]:
    """CPU seconds of a fixed Python loop, five tries. It does not touch the
    program; it shows how fast the host runs this guest's CPUs at the time,
    which moves the CPU time of all work (see README.md)."""
    out = []
    for _ in range(5):
        t = time.process_time()
        s = 0
        for i in range(2_000_000):
            s += i * i
        out.append(time.process_time() - t)
    return out
