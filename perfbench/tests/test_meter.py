import os
import subprocess
import sys
import time

from perfbench.meter import ProcTreeMeter, host_cpu_counters, process_tree


def test_tree_includes_children_with_roles():
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; time.sleep(5)"])
    try:
        time.sleep(0.2)
        tree = process_tree(os.getpid())
        assert tree[os.getpid()][0] == "driver"
        assert tree[child.pid][0] == "python"
    finally:
        child.kill()
        child.wait(timeout=10)


def test_cpu_counts_reaped_children():
    with ProcTreeMeter(interval=0.05) as meter:
        before = meter.cpu()
        subprocess.run([sys.executable, "-c",
                        "x = 0\nfor i in range(3_000_000): x += i"],
                       check=True, timeout=60)
        delta = meter.cpu().minus(before)
    # the child exited and was reaped: its time is in our cutime
    assert delta.role("driver") > 0.05
    assert delta.total >= delta.role("driver")
    assert 0.0 <= delta.steal_pct <= 100.0
    assert meter.peak_rss_mb > 1.0


def test_host_counters_are_monotone():
    s1, t1 = host_cpu_counters()
    time.sleep(0.05)
    s2, t2 = host_cpu_counters()
    assert s2 >= s1 and t2 >= t1
