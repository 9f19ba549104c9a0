"""Wall time net of hypervisor steal.

On a shared virtual machine the hypervisor can withhold a runnable virtual
CPU for other guests. Linux counts that time as ``steal`` in /proc/stat, and
it stretches every wall-clock measurement taken meanwhile by a factor that
depends on the neighbours, not on the code under test.

``StealMeter`` samples the busy and steal columns of /proc/stat on a daemon
thread. ``net(t0, t1)`` scales the wall interval by the share of demanded CPU
time that the guest actually ran, ``busy / (busy + steal)``, over the sampled
window that covers the interval. Steal only accrues while a CPU is runnable,
so with steal spread evenly over the CPUs the result is the wall time the
interval would have taken without it. Where /proc/stat has no steal column,
``net`` returns the wall time.
"""

from __future__ import annotations

import bisect
import os
import threading
import time


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks over all CPUs since boot."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    busy = f[0] + f[1] + f[2] + f[5] + f[6]
    return busy, (f[7] if len(f) > 7 else 0)


class StealMeter:
    PERIOD_S = 0.05

    def __init__(self) -> None:
        self._times: list[float] = []
        self._ticks: list[tuple[int, int]] = []
        self._sample()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="steal-meter")
        self._thread.start()

    def _sample(self) -> None:
        ticks = cpu_ticks()
        self._ticks.append(ticks)
        self._times.append(time.time())

    def _run(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self._sample()

    def close(self) -> None:
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join()
        self._sample()

    def net(self, t0: float, t1: float) -> float:
        """Seconds of the wall interval ``[t0, t1]`` (``time.time()``
        values inside the metered span) net of steal; call after
        ``close``."""
        a = max(0, bisect.bisect_right(self._times, t0) - 1)
        b = min(len(self._times) - 1, bisect.bisect_left(self._times, t1))
        busy = self._ticks[b][0] - self._ticks[a][0]
        steal = self._ticks[b][1] - self._ticks[a][1]
        wall = t1 - t0
        return wall * busy / (busy + steal) if busy + steal else wall

    def steal_s(self) -> float:
        """Steal over the metered span, in CPU-seconds."""
        return ((self._ticks[-1][1] - self._ticks[0][1])
                / os.sysconf("SC_CLK_TCK"))
