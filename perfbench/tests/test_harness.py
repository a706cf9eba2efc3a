import os
import subprocess
import sys
import time

from harness import cpu_seconds, process_tree

BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"


def test_cpu_seconds_counts_a_live_child_through_the_tree():
    p = subprocess.Popen([sys.executable, "-c", BUSY + "time.sleep(30)"])
    try:
        time.sleep(1.5)
        tree = process_tree([os.getpid()])
        assert p.pid in tree
        assert cpu_seconds([p.pid]) >= 0.4
        assert cpu_seconds(tree) >= cpu_seconds([os.getpid()]) + 0.4
    finally:
        p.kill()
        p.wait()


def test_cpu_seconds_keeps_a_reaped_child_in_its_parent():
    before = cpu_seconds([os.getpid()])
    subprocess.run([sys.executable, "-c", BUSY], check=True)
    assert cpu_seconds([os.getpid()]) - before >= 0.4
