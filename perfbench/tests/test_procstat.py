import os
import subprocess
import sys
import time

from perfbench import procstat

BUSY = "import time\nt = time.process_time()\n" \
       "while time.process_time() - t < 0.4: pass\ntime.sleep(5)"


def test_tree_cpu_counts_a_live_child_and_a_reaped_one():
    me = os.getpid()
    before = procstat.tree_cpu_seconds(me)
    child = subprocess.Popen([sys.executable, "-c", BUSY])
    try:
        time.sleep(1.0)
        assert child.pid in procstat.descendants(me)
        assert procstat.tree_cpu_seconds(me) - before > 0.3
        assert procstat.pss_bytes(child.pid) > 0
    finally:
        child.kill()
        child.wait()
    # reaped: its time now sits in this process's cutime
    assert procstat.tree_cpu_seconds(me) - before > 0.3
    assert child.pid not in procstat.descendants(me)


def test_memory_sampler_samples_only_while_active():
    with procstat.MemorySampler(interval=0.05) as s:
        time.sleep(0.2)
        assert s.peak == 0
        s.active.set()
        time.sleep(0.2)
    assert s.peak > 0
