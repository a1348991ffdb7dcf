"""Host speed: a fixed CPU loop, timed on every core between requests.

On a shared VM the host's speed wanders for minutes at a time: a fixed
loop on all four cores ran at times 2.5x slower than minutes before.
Across ten runs the median request of ``batch_sql`` and that of
``batch_python`` run right after it moved together (correlation 0.6),
and so did a run's session start and its requests (0.7): most of the
spread between runs was the host, not the program.  The benchmark times
this loop on every core at once before each request, while the engine is
idle, and reports the run's times at a reference host speed: ``wall *
factor()``.  The loop never touches the engine, so a change to the
engine moves the scaled figures exactly as it moves the wall times.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import statistics
import time

REF_LOOP_S = 0.0015    # the loop's time at reference host speed
_N = 20_000            # iterations of one loop
_REPS = 10             # loops per process at each sample point


def _once() -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(_N):
        x += i * i
    return time.perf_counter() - t0


def _serve(conn) -> None:
    while (n := conn.recv()) is not None:
        conn.send([_once() for _ in range(n)])


class Meter:
    """Loop times taken at sample points through a run, by one process per
    core at once: the host slowed some cores more than others."""

    def __init__(self) -> None:
        self.loops: list[float] = []
        ctx = mp.get_context("fork")
        self._conns, self._procs = [], []
        for _ in range(len(os.sched_getaffinity(0))):
            mine, theirs = ctx.Pipe()
            proc = ctx.Process(target=_serve, args=(theirs,), daemon=True)
            proc.start()
            self._conns.append(mine)
            self._procs.append(proc)

    @property
    def pids(self) -> set[int]:
        return {p.pid for p in self._procs}

    def sample(self) -> None:
        for conn in self._conns:
            conn.send(_REPS)
        for conn in self._conns:
            self.loops += conn.recv()

    def close(self) -> None:
        for conn in self._conns:
            conn.send(None)
        for proc in self._procs:
            proc.join()

    def loop_s(self) -> float:
        return statistics.median(self.loops)

    def factor(self) -> float:
        """Multiply a wall time of this run by this to get it at the
        reference host speed."""
        return REF_LOOP_S / self.loop_s()
