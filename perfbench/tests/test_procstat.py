"""The /proc sampler: stat parsing, session CPU and peak memory."""

from __future__ import annotations

import os
import subprocess
import sys
import time

from perfbench import procstat

BURN = """
import time
block = bytearray(64 * 2**20)  # 64 MiB, touched below
for i in range(0, len(block), 4096):
    block[i] = 1
end = time.process_time() + 0.5
while time.process_time() < end:
    pass
time.sleep(30)
"""


def test_parse_stat_handles_spaces_and_parens_in_the_name():
    ticks = os.sysconf("SC_CLK_TCK")
    fields = ["S", "1", "77", "77", "0", "-1", "0", "0", "0", "0", "0",
              str(2 * ticks), str(ticks), str(3 * ticks), "0"]
    sid, cpu = procstat.parse_stat("123 (a (b) c) " + " ".join(fields))
    assert sid == 77
    assert cpu == 6.0


def test_session_cpu_and_rss_of_a_child_session():
    child = subprocess.Popen([sys.executable, "-c", BURN], start_new_session=True)
    try:
        sid = child.pid
        with procstat.PeakPssSampler(sid, interval_s=0.02) as sampler:
            deadline = time.time() + 20
            while procstat.session_cpu_s(sid) < 0.4 and time.time() < deadline:
                time.sleep(0.05)
        assert procstat.session_pids(sid) == [child.pid]
        assert procstat.session_cpu_s(sid) >= 0.4
        assert sampler.samples >= 2
        assert sampler.peak_bytes >= 64 * 2**20
        assert procstat.session_pss_bytes(sid) >= 64 * 2**20
    finally:
        child.kill()
        child.wait(timeout=10)
    assert procstat.session_pids(sid) == []
    assert procstat.session_cpu_s(sid) == 0.0
