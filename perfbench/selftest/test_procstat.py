"""CPU summed over a process tree from /proc, reaped children included."""

import os
import subprocess
import sys
import textwrap
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from procstat import TreeMeter, cpu_delta_s, cpu_ticks, descendants, rss_bytes  # noqa: E402

# a child that burns ~0.4 s of CPU in a grandchild it waits for, then
# burns ~0.4 s itself and idles until told to exit
CHILD = textwrap.dedent(
    """
    import subprocess, sys, time
    burn = "import time\\nt=time.process_time()\\nwhile time.process_time()-t<0.4: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    t = time.process_time()
    while time.process_time() - t < 0.4:
        pass
    print("ready", flush=True)
    sys.stdin.readline()
    """
)


def test_cpu_of_tree_counts_reaped_grandchild():
    meter = TreeMeter()
    meter.begin()
    with subprocess.Popen(
        [sys.executable, "-c", CHILD], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
    ) as child:
        try:
            assert child.stdout.readline().strip() == "ready"
            assert child.pid in descendants(os.getpid())
            meter.end()
            # own 0.4 s plus the reaped grandchild's 0.4 s
            assert 0.7 <= meter.cpu_s <= 3.0
        finally:
            child.stdin.write("\n")
            child.stdin.close()
            child.wait(timeout=10)
    assert child.returncode == 0


def test_delta_counts_new_pids_from_zero():
    assert cpu_delta_s({1: 100}, {1: 150, 2: 50}) == 100 / os.sysconf("SC_CLK_TCK")


def test_idle_tree_and_sampling():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        time.sleep(0.2)
        pids = descendants(os.getpid())
        assert child.pid in pids
        assert cpu_ticks([child.pid])[child.pid] >= 0
        assert rss_bytes([child.pid]) > 1_000_000
        meter = TreeMeter(interval_s=0.05)
        meter.start_sampling()
        time.sleep(0.2)
        meter.stop_sampling()
        assert meter.peak_rss >= rss_bytes([child.pid])
    finally:
        child.kill()
        child.wait(timeout=10)
    assert cpu_ticks([child.pid]) == {}
