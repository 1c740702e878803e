import os
import subprocess
import sys
import time

import procstat

# a child that allocates ~200 MB, then burns CPU until killed
_CHILD = (
    "import time\n"
    "buf = bytearray(200 * 2**20)\n"
    "for i in range(0, len(buf), 4096): buf[i] = 1\n"
    "print('ready', flush=True)\n"
    "while True: sum(range(10000))\n"
)


def _spawn():
    p = subprocess.Popen([sys.executable, "-c", _CHILD], stdout=subprocess.PIPE, text=True)
    assert p.stdout.readline().strip() == "ready"
    return p


def test_tree_includes_children_and_honours_exclude():
    p = _spawn()
    try:
        assert p.pid in procstat.tree_pids(os.getpid())
        assert p.pid not in procstat.tree_pids(os.getpid(), exclude={p.pid})
        cpu0 = procstat.tree_cpu(os.getpid())
        pss = procstat.tree_pss(os.getpid())
        pss_alone = procstat.tree_pss(os.getpid(), exclude={p.pid})
        assert pss - pss_alone >= 190 * 2**20
        time.sleep(0.5)
        assert procstat.tree_cpu(os.getpid()) - cpu0 >= 0.2  # the child burned CPU
    finally:
        p.kill()
        p.wait(timeout=10)


def test_sampler_keeps_peak_after_child_exits():
    with procstat.TreeSampler(period_s=0.05) as s:
        base = s.peak_pss
        p = _spawn()
        time.sleep(0.3)
        p.kill()
        p.wait(timeout=10)
        time.sleep(0.2)
    assert s.peak_pss - base >= 190 * 2**20
    assert not s._thread.is_alive()


def test_exited_does_not_reap():
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    deadline = time.monotonic() + 10
    while not procstat.exited(p.pid):
        assert time.monotonic() < deadline
        time.sleep(0.01)
    # still a zombie child: its CPU is not yet in this process's cutime
    assert os.path.exists(f"/proc/{p.pid}")
    assert p.wait(timeout=5) == 0


def test_sampler_discounts_its_own_cpu():
    with procstat.TreeSampler(period_s=0.001) as s:
        time.sleep(0.5)
    # a 1 ms period keeps the sampling thread busy enough to register
    assert s.own_cpu_s > 0.0
    assert abs(s.cpu_s() - (procstat.tree_cpu(os.getpid()) - s.own_cpu_s)) < 0.05


def test_host_counters():
    steal, total = procstat.steal_ticks()
    assert 0 <= steal <= total and total > 0
    assert procstat.loadavg() >= 0.0
