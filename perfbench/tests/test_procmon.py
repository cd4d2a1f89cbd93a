import os
import subprocess
import sys
import time

import procmon

BURN = ("import time\n"
        "buf = bytearray(150 * 2**20)\n"
        "for i in range(0, len(buf), 4096): buf[i] = 1\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.6: pass\n"
        "time.sleep(0.5)\n")


def test_reaped_child_cpu_is_counted():
    with procmon.TreeSampler() as s:
        p = subprocess.Popen([sys.executable, "-c", BURN])
        p.wait(timeout=60)
    assert p.returncode == 0
    # the child is gone; its CPU arrives through our cutime/cstime
    assert s.cpu_s >= 0.5


def test_peak_rss_of_live_child_and_reset():
    p = subprocess.Popen([sys.executable, "-c",
                          BURN.replace("time.sleep(0.5)", "time.sleep(5)")])
    try:
        time.sleep(1.5)
        s = procmon.TreeSampler().start()
        s.stop()
        assert s.peak_rss >= 150 * 2**20
        procmon.reset_peak_rss(p.pid)
        assert procmon.peak_rss(p.pid) >= 150 * 2**20   # still resident
    finally:
        p.kill()
        p.wait(timeout=10)


def test_tree_includes_live_child():
    p = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(3)"])
    try:
        time.sleep(0.2)
        assert p.pid in procmon.tree_pids(os.getpid())
    finally:
        p.kill()
        p.wait(timeout=10)
