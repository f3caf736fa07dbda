"""Host speed, from a fixed reference workload run beside the program.

On a shared host the CPU time of the same code swings by about 2x for
tens of minutes at a time, with no steal time reported: other tenants
slow every instruction, and not every CPU of this host by the same
factor.  A fixed reference workload slows with them.  A ``Probe`` runs
the reference on every CPU, in child processes at the lowest priority
that work ``DUTY`` of the time, and records how much CPU each run took.
``Probe.slowdown(t0, t1)`` is the mean over CPUs of the mean CPU time of
the runs reported in ``[t0, t1]``, over ``NOMINAL_S``; dividing a
window's CPU time by it gives CPU seconds at the nominal speed.

Run as a script with a CPU number, this file is one child: pinned to that
CPU, it prints one line per ``REPORT_S``,
``<epoch seconds> <runs> <CPU seconds>``, until killed.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

# CPU seconds of one reference run on a 2.1 GHz Xeon core of the 4-core
# host class this benchmark was written on, in a quiet phase
NOMINAL_S = 0.0033
REPORT_S = 0.25
# share of the time a child runs the reference; it sleeps the rest
DUTY = 0.2

# top-level code, so that every name is a dict lookup: the program's
# Python and JVM code is object- and lookup-heavy, and slowed by the same
# factor as this loop (1.8x in one slow phase) while a loop over local
# variables was not slowed at all
_REFERENCE = compile("x = 0\nfor i in range(40_000):\n    x += i * i\n", "<reference>", "exec")


def _child(cpu_id: int) -> None:
    os.sched_setaffinity(0, {cpu_id})
    os.nice(19)
    ns: dict = {}
    while True:
        runs, cpu = 0, 0.0
        end = time.time() + REPORT_S
        while time.time() < end:
            w0, c0 = time.perf_counter(), time.thread_time()
            exec(_REFERENCE, ns)
            cpu += time.thread_time() - c0
            runs += 1
            time.sleep((time.perf_counter() - w0) * (1 / DUTY - 1))
        print(f"{time.time():.6f} {runs} {cpu:.6f}", flush=True)


class Probe:
    """The reference on every CPU, running until ``stop()``."""

    def __init__(self):
        cpus = sorted(os.sched_getaffinity(0))
        self.reports: dict[int, list[tuple[float, int, float]]] = {c: [] for c in cpus}
        self.procs = []
        self._readers = []
        for c in cpus:
            proc = subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), str(c)],
                stdout=subprocess.PIPE,
                stdin=subprocess.DEVNULL,
                text=True,
            )
            reader = threading.Thread(target=self._read, args=(proc, self.reports[c]), daemon=True)
            reader.start()
            self.procs.append(proc)
            self._readers.append(reader)

    @staticmethod
    def _read(proc, out: list) -> None:
        for line in proc.stdout:
            t, runs, cpu = line.split()
            out.append((float(t), int(runs), float(cpu)))

    def slowdown(self, t0: float, t1: float) -> float:
        """Mean over CPUs of the mean reference CPU time in the reports in
        ``[t0, t1]`` (or the report nearest to it), over ``NOMINAL_S``."""
        per_cpu = []
        for c, reports in self.reports.items():
            if not reports:
                raise RuntimeError(f"the speed probe on CPU {c} has not reported")
            inside = [r for r in reports if t0 <= r[0] <= t1 and r[1]]
            if not inside:
                mid = (t0 + t1) / 2
                inside = [min((r for r in reports if r[1]), key=lambda r: abs(r[0] - mid))]
            per_cpu.append(sum(r[2] for r in inside) / sum(r[1] for r in inside))
        return sum(per_cpu) / len(per_cpu) / NOMINAL_S

    def pids(self) -> list[int]:
        return [p.pid for p in self.procs]

    def stop(self) -> None:
        for p in self.procs:
            p.kill()
        for p in self.procs:
            p.wait()
        for r in self._readers:
            r.join()


if __name__ == "__main__":
    _child(int(sys.argv[1]))
