"""Process-tree CPU time and resident memory from ``/proc``.

The tree is a process session: the benchmark starts its Spark worker in
a session of its own, and the JVM and the Python workers it forks stay
in it (the PySpark daemon changes its process group, not its session).
CPU of exited children is kept through the ``cutime``/``cstime`` of the
parent that reaped them.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def parse_stat(data: str) -> tuple[int, float]:
    """``(session id, cpu seconds incl. reaped children)`` of one
    ``/proc/<pid>/stat`` line."""
    # the command name is parenthesised and may itself hold spaces
    rest = data[data.rindex(")") + 2 :].split()
    # rest[0] is field 3 (state); session is field 6, utime..cstime 14..17
    ticks = sum(int(x) for x in rest[11:15])
    return int(rest[3]), ticks / _CLK_TCK


def _session_cpu(sid: int) -> dict[int, float]:
    """pid → cpu seconds of every live process in session ``sid``."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                data = fh.read()
        except OSError:  # the process ended meanwhile
            continue
        pid_sid, cpu = parse_stat(data)
        if pid_sid == sid:
            out[int(name)] = cpu
    return out


def session_pids(sid: int) -> list[int]:
    """Live processes whose session id is ``sid``."""
    return sorted(_session_cpu(sid))


def session_cpu_s(sid: int) -> float:
    """CPU seconds (user + system, reaped children included) of every
    live process in session ``sid``."""
    return sum(_session_cpu(sid).values())


def session_pss_bytes(sid: int) -> int:
    """Summed proportional set size of session ``sid``: resident memory
    with pages shared between processes (the forked PySpark workers
    share their parent's) split among the sharers, so the sum counts
    each page once."""
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakPssSampler:
    """Background thread recording the peak resident memory (summed PSS)
    of a session.

    Use as a context manager; ``peak_bytes`` holds the highest sample
    taken between enter and exit (one sample is always taken at enter).
    """

    def __init__(self, sid: int, interval_s: float = 0.1):
        self.sid = sid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, session_pss_bytes(self.sid))
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> PeakPssSampler:
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
