"""Process-tree CPU and memory from /proc, plus host provenance.

CPU: the Python workers Spark starts are forked by a daemon that sets
SIGCHLD to SIG_IGN, so when one exits the kernel reaps it without
adding its time to any parent's cutime.  Summing the live tree at two
instants therefore loses every worker that exited in between (and can
go negative).  Instead a sampler keeps, for every process it has ever
seen in the tree (keyed by pid and start time), the last observed
utime+stime.  The sum over that ledger never decreases, so a delta
over a pass is never negative; an exited process keeps the CPU it had
used at its last sample.  Only self time is counted: cutime/cstime
would count a child twice once its parent reaps it.

The JVM's JIT compiler and garbage-collector threads are measured apart
(`service_cpu_s`): how much compiling lands inside a timed pass depends
on how far warm-up has got, and G1's concurrent marking cycles start
when the growing heap crosses a threshold, neither on the pass's own
work, so the benchmark leaves both out of `cpu_s` and reports them as
per-layer metrics.

Memory: the same sampler sums resident set size over the live tree and
keeps the peak.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, int, float] | None:
    """(ppid, starttime, utime+stime seconds) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    fields = raw[raw.rfind(b")") + 2 :].split()
    ppid = int(fields[1])
    cpu = (int(fields[11]) + int(fields[12])) / _TICK
    return ppid, int(fields[19]), cpu


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


#: JVM service-thread kinds by thread-name prefix (the kernel keeps the
#: first 15 bytes of a thread's name).
_SERVICE = {
    b"C1 CompilerThre": "jit", b"C2 CompilerThre": "jit", b"GC Thread": "gc", b"G1 ": "gc",
}


def _service_threads(pid: int) -> dict[tuple[int, int], tuple[str, float]]:
    """{(tid, starttime): (kind, cpu seconds)} of a process's JIT
    compiler and garbage-collector threads."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        name = raw[raw.find(b"(") + 1 : raw.rfind(b")")]
        kind = next((k for p, k in _SERVICE.items() if name.startswith(p)), None)
        if kind is not None:
            fields = raw[raw.rfind(b")") + 2 :].split()
            cpu = (int(fields[11]) + int(fields[12])) / _TICK
            out[(int(tid), int(fields[19]))] = (kind, cpu)
    return out


def tree(root: int) -> dict[int, tuple[int, float]]:
    """{pid: (starttime, cpu seconds)} for `root` and its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = s
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


class TreeMonitor:
    """Background sampler of this process's tree."""

    def __init__(self, interval: float = 0.1):
        self.root = os.getpid()
        self.interval = interval
        self._ledger: dict[tuple[int, int], float] = {}
        # the JVM starts and retires compiler and GC threads as load
        # changes, so they get a ledger of their own
        self._service_ledger: dict[tuple[int, int], tuple[str, float]] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self.peak_rss = 0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> float:
        """Take one sample now; return the ledger's CPU total (s)."""
        procs = tree(self.root)
        rss = sum(_rss_bytes(pid) for pid in procs)
        with self._lock:
            for pid, (start, cpu) in procs.items():
                key = (pid, start)
                if cpu > self._ledger.get(key, 0.0):
                    self._ledger[key] = cpu
            self.peak_rss = max(self.peak_rss, rss)
            return sum(self._ledger.values())

    def service_cpu_s(self) -> dict[str, float]:
        """{"jit": s, "gc": s}: CPU used so far by the JIT compiler and
        garbage-collector threads of the tree's JVMs (never decreases)."""
        ledger = self._service_ledger
        for pid in tree(self.root):
            for key, (kind, cpu) in _service_threads(pid).items():
                if cpu > ledger.get(key, (kind, 0.0))[1]:
                    ledger[key] = (kind, cpu)
        out = {"jit": 0.0, "gc": 0.0}
        for kind, cpu in ledger.values():
            out[kind] += cpu
        return out

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "TreeMonitor":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # guest time is already included in user/nice
    total = sum(vals[:8])
    return vals[7], total


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def process_age_s() -> float:
    """Seconds since this process started (includes interpreter start)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    start = _stat(os.getpid())[1] / _TICK
    return uptime - start
