"""Process-tree CPU accounting keeps the time of exited processes."""

from __future__ import annotations

import subprocess
import sys
import textwrap

from perfbench.proctree import TreeMonitor

# A parent that, like Spark's Python daemon, ignores SIGCHLD (so the
# kernel reaps its children without adding their time to its cutime)
# and forks workers that burn CPU and exit.
_DAEMON = textwrap.dedent(
    """
    import os, signal, time
    signal.signal(signal.SIGCHLD, signal.SIG_IGN)
    for _ in range(3):
        if os.fork() == 0:
            t = time.process_time()
            while time.process_time() - t < 0.3:
                pass
            os._exit(0)
        time.sleep(0.5)
    time.sleep(0.3)
    """
)


def test_cpu_delta_counts_workers_that_exit():
    mon = TreeMonitor(interval=0.02).start()
    try:
        before = mon.sample()
        subprocess.run([sys.executable, "-c", _DAEMON], check=True)
        after = mon.sample()
    finally:
        mon.stop()
    delta = after - before
    assert delta >= 0.0
    # three workers x 0.3 s; sampling may miss the last tick of each
    assert delta >= 0.6, delta


def test_cpu_total_never_decreases():
    mon = TreeMonitor(interval=0.02).start()
    try:
        totals = [mon.sample()]
        proc = subprocess.Popen([sys.executable, "-c", _DAEMON])
        while proc.poll() is None:
            totals.append(mon.sample())
        totals.append(mon.sample())
    finally:
        mon.stop()
    assert all(b >= a for a, b in zip(totals, totals[1:]))
    assert mon.peak_rss > 0


def test_service_cpu_is_zero_without_a_jvm():
    mon = TreeMonitor()
    assert mon.service_cpu_s() == {"jit": 0.0, "gc": 0.0}
