"""How fast the host runs the benchmark at the moment.

On a shared virtual host the time a fixed piece of work takes moves by
up to 2x within minutes, with the load other tenants put on the
physical cores (clock rate, shared caches, sibling threads) and with the
CPU time the hypervisor steals.  A benchmark run sees one of these
speeds, so its raw times spread by as much between runs of the same
code.

Two measurements follow the host's speed without following the
program's:

- a fixed, single-threaded, pure-Python reference task, timed in this
  thread's CPU time: a slower CPU stretches it, but neither waiting for
  a CPU nor steal does, so the program's own threads cannot slow it;
- the share of the time the host's vCPUs wanted to run that the
  hypervisor stole (`/proc/stat`), which does not grow with the load
  the program puts on them.

`HostSpeed.sample()` runs the task; the benchmark samples it after every
op and set-up.  `slowdown(mark)` is the mean task time since `mark` over
`REF_S`, divided by the share of wanted time not stolen: a wall-clock
time measured since `mark`, divided by it, reads as on a host where the
task takes `REF_S` and nothing is stolen.  `cpu_slowdown(mark)` leaves
steal out, for CPU times.
"""

from __future__ import annotations

import statistics
import time

# CPU seconds the reference task takes at the reference speed (a quiet
# 4-vCPU Xeon host, Sapphire Rapids class)
REF_S = 0.005
_ITERS = 60_000


def _reference_task() -> int:
    acc, table = 0, {}
    for i in range(_ITERS):
        acc += i * i % 7
        table[i & 1023] = acc
    return acc


def host_ticks() -> tuple[int, int]:
    """(busy, steal) CPU ticks of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return user + nice + system + irq + softirq, steal


class HostSpeed:
    """Reference-task CPU times, sampled as a run goes."""

    def __init__(self):
        self.samples: list[float] = []

    def sample(self) -> None:
        t0 = time.thread_time()
        _reference_task()
        self.samples.append(time.thread_time() - t0)

    def mark(self) -> tuple[int, int, int]:
        return (len(self.samples), *host_ticks())

    def cpu_slowdown(self, mark) -> float:
        """Mean reference time of the samples since `mark`, over REF_S."""
        xs = self.samples[mark[0]:]
        return statistics.fmean(xs) / REF_S if xs else 1.0

    def slowdown(self, mark) -> float:
        """cpu_slowdown, over the share of wanted CPU time since `mark`
        that was not stolen."""
        busy, steal = host_ticks()
        d_busy, d_steal = busy - mark[1], steal - mark[2]
        stolen = d_steal / (d_busy + d_steal) if d_busy + d_steal > 0 else 0.0
        return self.cpu_slowdown(mark) / (1.0 - stolen)

    def own_cpu_s(self, mark) -> float:
        """CPU time the reference task itself used since `mark`."""
        return sum(self.samples[mark[0]:])
