import subprocess
import sys
import time

import procstat

SPIN = "import time\nt=time.process_time()+{s}\nwhile time.process_time()<t: pass"


def _spin(seconds):
    end = time.process_time() + seconds
    while time.process_time() < end:
        pass


def test_own_cpu_is_the_driver_share():
    a = procstat.sample()
    _spin(0.3)
    used = procstat.sample() - a
    assert 0.2 <= used.driver <= 1.0


def test_reaped_child_cpu_stays_counted():
    a = procstat.sample()
    child = subprocess.Popen([sys.executable, "-c", SPIN.format(s=0.4)])
    assert child.wait(timeout=30) == 0
    # the reaped child's CPU now sits in this process's cutime
    assert (procstat.sample() - a).driver >= 0.3


def test_tree_sums_a_live_subtree():
    # root -> grandchild; both spin, so the tree holds about twice the root's CPU
    code = ("import subprocess,sys\n"
            f"c=subprocess.Popen([sys.executable,'-c',{SPIN.format(s=1.5)!r}])\n"
            + SPIN.format(s=1.5) + "\nc.wait()")
    root = subprocess.Popen([sys.executable, "-c", code])
    try:
        time.sleep(0.3)
        a = procstat.sample(root.pid)
        time.sleep(0.6)
        used = procstat.sample(root.pid) - a
    finally:
        assert root.wait(timeout=30) == 0
    assert used.driver >= 0.3
    assert used.tree >= used.driver + 0.3
    assert used.jvm == 0 and used.jit == 0
