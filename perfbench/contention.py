"""Host-contention probe, read between passes and never inside one.

The probe times a fixed CPU spin on every one of a few worker processes.
On an idle host the reading stays near its floor; a reading several times
the run's minimum marks the neighbouring pass as contaminated by other
load. Each worker is this file run as a script: it reads a loop count per
line on stdin and answers one line when the spin is done. ``close`` closes
their stdin, on which they exit, and waits for each.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

LOOPS = 200_000


def spin(n: int) -> int:
    x = 1
    for _ in range(n):
        x = (x * 1664525 + 1013904223) & 0xFFFFFFFF
    return x


class Probe:
    def __init__(self) -> None:
        self.workers = min(4, os.cpu_count() or 1)
        self._procs = [
            subprocess.Popen([sys.executable, os.path.abspath(__file__)],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
            for _ in range(self.workers)
        ]
        self.read()  # first read pays the workers' start-up

    def read(self) -> float:
        t0 = time.perf_counter()
        for proc in self._procs:
            proc.stdin.write(f"{LOOPS}\n")
            proc.stdin.flush()
        for proc in self._procs:
            proc.stdout.readline()
        return time.perf_counter() - t0

    def close(self) -> None:
        for proc in self._procs:
            proc.stdin.close()
        for proc in self._procs:
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            proc.stdout.close()


if __name__ == "__main__":
    for line in sys.stdin:
        print(spin(int(line)), flush=True)
